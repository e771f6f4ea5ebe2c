package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}
import org.apache.spark.sql.{Column, SparkSessionExtensions}

/** Native Catalyst expressions for the vector hot path.
  *
  * The composable form (`zip_with` + `aggregate`, see
  * [[graft.operators.Similarity]]) materializes an intermediate array
  * per pair and evaluates a lambda per element — fine semantically,
  * wasteful at billions of pairs. These expressions fuse the loop into
  * one codegen'd pass with zero allocation, while preserving the exact
  * left-to-right double summation order, so results are bit-identical
  * to the fold form (and to the DuckDB oracle).
  *
  * Preference order per the build guide: built-ins first; a custom
  * `Expression` with `doGenCode` exactly here, where the built-in
  * formulation demonstrably allocates; no full LogicalPlan/Strategy
  * needed for a scalar.
  */
object VectorExpressions {

  private def elemAccessor(dt: DataType, arr: String, i: String): String =
    dt.asInstanceOf[ArrayType].elementType match {
      case FloatType  => s"(double) $arr.getFloat($i)"
      case DoubleType => s"$arr.getDouble($i)"
      case other      => throw new IllegalArgumentException(
        s"vector expressions need array<float|double>, got $other")
    }

  private def elemAt(dt: DataType, arr: ArrayData, i: Int): Double =
    dt.asInstanceOf[ArrayType].elementType match {
      case FloatType  => arr.getFloat(i).toDouble
      case DoubleType => arr.getDouble(i)
      case other      => throw new IllegalArgumentException(s"bad element type $other")
    }

  /** Σ aᵢ·bᵢ in one fused pass. */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0
      var i = 0
      while (i < n) {
        dot += elemAt(left.dataType, x, i) * elemAt(right.dataType, y, i)
        i += 1
      }
      dot
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $dot += ${elemAccessor(left.dataType, a, i)} * ${elemAccessor(right.dataType, b, i)};
           |}
           |${ev.value} = $dot;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** dot/(√(|a|²·|b|²)) in one fused three-accumulator pass. */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_sim"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = elemAt(left.dataType, x, i)
        val yv = elemAt(right.dataType, y, i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      dot / math.sqrt(na * nb)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xv = ${elemAccessor(left.dataType, a, i)};
           |  double $yv = ${elemAccessor(right.dataType, b, i)};
           |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
           |}
           |${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Σ (aᵢ−bᵢ)² in one fused pass — squared L2, the k-center /
    * k-means assignment kernel. Same left-to-right summation order as
    * the `zip_with`+`aggregate` fold and as a DuckDB index
    * comprehension, so the fused form is bit-identical to both
    * (pinned in VectorExpressionsSpec). */
  case class SqDist(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_sqdist"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = elemAt(left.dataType, x, i) - elemAt(right.dataType, y, i)
        acc += d * d
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = ${elemAccessor(left.dataType, a, i)} - ${elemAccessor(right.dataType, b, i)};
           |  $acc += $d * $d;
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  // Column-level API. Spark 4's Column is connect-agnostic; the classic
  // bridge converts Column <-> catalyst Expression.
  import org.apache.spark.sql.graftbridge.ColumnBridge
  private def ex(c: Column): Expression = ColumnBridge.expression(c)
  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ex(a), ex(b)))
  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(ex(a), ex(b)))
  def vec_sqdist(a: Column, b: Column): Column =
    ColumnBridge.column(SqDist(ex(a), ex(b)))
}

/** Session extension registering the vector functions for SQL use:
  * `spark.sql("SELECT cosine_sim(a, b) ...")`. Wire with
  * `.withExtensions(new GraftExtensions)` or the
  * `spark.sql.extensions=graft.plans.GraftExtensions` conf. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RegexAnchorSimplification)
    e.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorExpressions.DotProduct].getName, "vec_dot"),
      (args: Seq[Expression]) => VectorExpressions.DotProduct(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[VectorExpressions.CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => VectorExpressions.CosineSimilarity(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("vec_sqdist"),
      new ExpressionInfo(classOf[VectorExpressions.SqDist].getName, "vec_sqdist"),
      (args: Seq[Expression]) => VectorExpressions.SqDist(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[TextExpressions.WordNgrams].getName, "word_ngrams"),
      (args: Seq[Expression]) => TextExpressions.WordNgrams(args(0),
        args(1).eval().asInstanceOf[Int])))
    e.injectFunction((
      FunctionIdentifier("jaccard_sorted"),
      new ExpressionInfo(classOf[SetExpressions.SortedArrayJaccard].getName, "jaccard_sorted"),
      (args: Seq[Expression]) => SetExpressions.SortedArrayJaccard(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("sign_pack"),
      new ExpressionInfo(classOf[SketchExpressions.SignPack].getName, "sign_pack"),
      (args: Seq[Expression]) => SketchExpressions.SignPack(args(0))))
    e.injectFunction((
      FunctionIdentifier("hamming_dist"),
      new ExpressionInfo(classOf[SketchExpressions.HammingDistance].getName, "hamming_dist"),
      (args: Seq[Expression]) => SketchExpressions.HammingDistance(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[UnicodeExpressions.NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => UnicodeExpressions.NfcNormalize(args(0))))
    e.injectFunction((
      FunctionIdentifier("fix_mojibake"),
      new ExpressionInfo(classOf[UnicodeExpressions.FixMojibake].getName, "fix_mojibake"),
      (args: Seq[Expression]) => UnicodeExpressions.FixMojibake(args(0))))
    e.injectFunction((
      FunctionIdentifier("decode_html_entities"),
      new ExpressionInfo(classOf[UnicodeExpressions.DecodeHtmlEntities].getName,
        "decode_html_entities"),
      (args: Seq[Expression]) => UnicodeExpressions.DecodeHtmlEntities(args(0))))
    e.injectFunction((
      FunctionIdentifier("zorder_key"),
      new ExpressionInfo(classOf[LayoutExpressions.ZOrderKey].getName, "zorder_key"),
      (args: Seq[Expression]) => LayoutExpressions.ZOrderKey(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("blocklist_hits"),
      new ExpressionInfo(classOf[BlocklistExpressions.BlocklistHits].getName,
        "blocklist_hits"),
      (args: Seq[Expression]) => {
        // dictionary must be a foldable array-of-strings literal — the
        // automaton is plan-construction state, same as the Column-API
        // path. Validate BEFORE eval/cast: a column reference or
        // non-array here used to surface as a ClassCastException/NPE
        // from inside extension loading instead of an analysis error.
        def bad(why: String) =
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "INTERNAL_ERROR",
            messageParameters = Map("message" ->
              ("blocklist_hits: second argument must be a foldable " +
                s"array-of-strings literal (e.g. array('a','b')) — $why")))
        if (args.length != 2) bad(s"got ${args.length} arguments")
        if (!args(1).foldable) bad("it is not foldable")
        val ok = args(1).dataType match {
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, _) => true
          case _ => false
        }
        if (!ok) bad(s"its type is ${args(1).dataType.simpleString}")
        val arr = args(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        if (arr == null) bad("it evaluated to NULL")
        val pats = (0 until arr.numElements())
          .map(i => arr.getUTF8String(i).toString)
        BlocklistExpressions.BlocklistHits(args(0),
          new BlocklistExpressions.AhoCorasick(pats))
      }))
  }
}

/** Single-pass Jaccard over two SORTED distinct string arrays (merge
  * walk, no hash sets, no intermediate arrays). The composable
  * formulation — `array_intersect` + two `size`s — gets duplicated when
  * Catalyst pushes the threshold filter into a join condition,
  * tripling the dominant cost of candidate verification; this fuses
  * intersection counting and the Jaccard division into one O(n+m)
  * pass. Division is (double)inter / (double)(n+m-inter), matching the
  * oracle formulation bit-for-bit.
  */
object SetExpressions {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.ArrayData

  case class SortedArrayJaccard(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "jaccard_sorted"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      val (n, m) = (x.numElements(), y.numElements())
      var i = 0; var j = 0; var inter = 0
      while (i < n && j < m) {
        val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      inter.toDouble / (n + m - inter).toDouble
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val n = ctx.freshName("n"); val m = ctx.freshName("m")
        val inter = ctx.freshName("inter"); val c = ctx.freshName("c")
        s"""
           |int $n = $a.numElements(); int $m = $b.numElements();
           |int $i = 0; int $j = 0; int $inter = 0;
           |while ($i < $n && $j < $m) {
           |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
           |  if ($c == 0) { $inter++; $i++; $j++; }
           |  else if ($c < 0) { $i++; } else { $j++; }
           |}
           |${ev.value} = (double) $inter / (double) ($n + $m - $inter);
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  def jaccard_sorted(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      SortedArrayJaccard(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** Intersection SIZE of two pre-sorted string arrays — the same
    * single merge-walk as [[SortedArrayJaccard]] returning the raw
    * count, for asymmetric measures (containment i/|A|) where the
    * caller owns the denominator. */
  case class SortedArrayOverlap(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "overlap_sorted"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      val (n, m) = (x.numElements(), y.numElements())
      var i = 0; var j = 0; var inter = 0
      while (i < n && j < m) {
        val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      inter
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val n = ctx.freshName("n"); val m = ctx.freshName("m")
        val inter = ctx.freshName("inter"); val c = ctx.freshName("c")
        s"""
           |int $n = $a.numElements(); int $m = $b.numElements();
           |int $i = 0; int $j = 0; int $inter = 0;
           |while ($i < $n && $j < $m) {
           |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
           |  if ($c == 0) { $inter++; $i++; $j++; }
           |  else if ($c < 0) { $i++; } else { $j++; }
           |}
           |${ev.value} = $inter;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  def overlap_sorted(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      SortedArrayOverlap(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))
}

/** Native word-n-gram shingling: one pass over the text producing the
  * DISTINCT n-gram array (first-occurrence order, matching
  * `array_distinct`). The composable formulation
  * (split -> sequence -> transform(concat_ws) -> array_distinct) runs
  * interpreted — higher-order functions have no codegen — and costs
  * ~1 ms per document; this is a plain per-row eval doing the same work
  * in microseconds. Semantics match split(text, ' ') exactly
  * (consecutive spaces yield empty tokens).
  */
object TextExpressions {
  import org.apache.spark.sql.catalyst.expressions.UnaryExpression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  /** Shingling kernel, callable from generated Java
    * (`TextExpressions$.MODULE$.computeNgrams(...)`) so the expression
    * stays INSIDE whole-stage codegen instead of CodegenFallback's
    * boxed per-row eval path. */
  def computeNgrams(v: UTF8String, n: Int): ArrayData = {
    val toks = v.toString.split(" ", -1)
    if (toks.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val seen = new java.util.LinkedHashSet[String]((toks.length - n + 1) * 2)
      var i = 0
      while (i <= toks.length - n) {
        val sb = new java.lang.StringBuilder(32)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append('_')
          sb.append(toks(i + k)); k += 1
        }
        seen.add(sb.toString); i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
      new GenericArrayData(out)
    }
  }

  /** Repetition-stat kernel: one pass over the text computing
    * (n_tokens, n_distinct_tokens, n_ngrams, top_ngram_count) — the
    * inputs of the Gopher/C4 repetition gates. The composable
    * formulation (sort_array + `aggregate` with a struct accumulator)
    * runs interpreted (HOFs have no codegen) and measured ~0.8 ms/doc;
    * this is a hash-count pass in microseconds. Counts are exact
    * integers, so oracle parity is unaffected. */
  def computeNgramStats(v: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = v.toString.split(" ", -1)
    val distinct = new java.util.HashSet[String](toks.length * 2)
    var i = 0
    while (i < toks.length) { distinct.add(toks(i)); i += 1 }
    var nGrams = 0L
    var top = 0L
    if (toks.length >= n) {
      nGrams = (toks.length - n + 1).toLong
      val counts = new java.util.HashMap[String, Int](toks.length * 2)
      i = 0
      while (i <= toks.length - n) {
        val sb = new java.lang.StringBuilder(32)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append('_')
          sb.append(toks(i + k)); k += 1
        }
        val key = sb.toString
        val c = counts.merge(key, 1, Integer.sum)
        if (c > top) top = c.toLong
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](toks.length.toLong, distinct.size.toLong, nGrams, top))
  }

  case class NgramStats(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_tokens", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_distinct", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_ngrams", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("top_ngram_count", org.apache.spark.sql.types.LongType, nullable = false)))
    override def prettyName: String = "ngram_stats"

    override protected def nullSafeEval(v: Any): Any =
      computeNgramStats(v.asInstanceOf[UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.plans.TextExpressions$$.MODULE$$.computeNgramStats($input, $n);")

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def ngram_stats(text: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      NgramStats(org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), n))

  case class WordNgrams(child: Expression, n: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_ngrams"

    override protected def nullSafeEval(v: Any): Any =
      computeNgrams(v.asInstanceOf[UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.plans.TextExpressions$$.MODULE$$.computeNgrams($input, $n);")

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def word_ngrams(text: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      WordNgrams(org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), n))
}

/** Native MinHash signature: one pass over a document's shingle array
  * computing all `numHashes` permutation minima — map-side, no
  * explode/groupBy. The previous formulation (explode shingles →
  * groupBy(doc) with 128 min-aggregates) shuffles every (doc, shingle)
  * row; this computes the fixed-width signature inside the scan stage
  * and shuffles nothing. Base hash = first 8 hex chars of md5 (matches
  * `conv(substring(md5(s),1,8),16,10)` exactly, keeping candidate
  * generation deterministic and engine-reproducible); permutations are
  * (aᵢ·x + bᵢ) mod p with splitmix64-derived odd multipliers
  * ([[SketchExpressions.hashParamA]], [[SketchExpressions.hashParamB]]),
  * fixed at build time so signatures reproduce across runs and sessions.
  */
object SketchExpressions {
  import org.apache.spark.sql.catalyst.expressions.UnaryExpression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.LongType

  private val Prime = 4294967311L // smallest prime > 2^32

  def hashParamA(i: Int): Long = ((0x9E3779B97F4A7C15L * (i + 1)) & 0x7FFFFFFFL) | 1L
  def hashParamB(i: Int): Long = (0xBF58476D1CE4E5B9L * (i + 1)) & 0x7FFFFFFFL

  /** md5-derived 32-bit base hash of one shingle (value-identical to the
    * SQL formulation used by the oracle-facing operators). */
  def md5Hash32(bytes: Array[Byte]): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) | ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  def computeSignature(shingles: ArrayData, numHashes: Int): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val x = md5Hash32(shingles.getUTF8String(i).getBytes)
      var h = 0
      while (h < numHashes) {
        val v = (hashParamA(h) * x + hashParamB(h)) % Prime
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(java.lang.Long.valueOf(_): Any))
  }

  /** md5-derived 64-bit base hash of one token: the first 8 digest
    * bytes, big-endian. Bits 63..32 are exactly [[md5Hash32]] (hex
    * chars 1-8 of the digest) and bits 31..0 are hex chars 9-16, so a
    * SQL engine mirrors it with two 32-bit hex slices — no signed
    * 64-bit literal arithmetic needed on the oracle side. */
  def md5Hash64(bytes: Array[Byte]): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v
  }

  /** 64-bit SimHash from the raw text in one pass: per-bit sign sums
    * over token OCCURRENCES (split on single space, matching
    * string_split semantics), bit set iff sum >= 0. Map-side, no token
    * shuffle. 64 bits (vs the round-1 32) so band joins can use 16-bit
    * band values: 65 536 buckets per band instead of 256 — the
    * difference between a usable and a quadratic candidate join at
    * billions of documents. */
  def computeSimhash(text: org.apache.spark.unsafe.types.UTF8String): Long = {
    val toks = text.toString.split(" ", -1)
    val sums = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = md5Hash64(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var j = 0
      while (j < 64) {
        if (((h >> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
        j += 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 64) {
      if (sums(j) >= 0) sim |= (1L << j)
      j += 1
    }
    sim
  }

  /** Capped-term-frequency weighted 64-bit SimHash: each DISTINCT
    * token votes with weight min(tf, cap) instead of once per
    * occurrence — sublinear TF damping, so one token repeated 500
    * times (SEO spam, boilerplate padding) cannot dominate the
    * sketch. Integer weights keep the bit votes EXACTLY reproducible
    * in any engine (no float summation order); cap=1 is pure
    * distinct-token SimHash. */
  def computeSimhashWeighted(text: org.apache.spark.unsafe.types.UTF8String,
                             cap: Int): Long = {
    val toks = text.toString.split(" ", -1)
    val tf = new java.util.HashMap[String, Int]()
    var i = 0
    while (i < toks.length) {
      tf.merge(toks(i), 1, (a, b) => a + b)
      i += 1
    }
    val sums = new Array[Int](64)
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val w = math.min(e.getValue, cap)
      val h = md5Hash64(e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var j = 0
      while (j < 64) {
        if (((h >> j) & 1L) == 1L) sums(j) += w else sums(j) -= w
        j += 1
      }
    }
    var sim = 0L
    var j = 0
    while (j < 64) {
      if (sums(j) >= 0) sim |= (1L << j)
      j += 1
    }
    sim
  }

  case class SimHash64Weighted(child: Expression, cap: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64_weighted"

    override protected def nullSafeEval(v: Any): Any =
      computeSimhashWeighted(
        v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], cap)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.plans.SketchExpressions$$.MODULE$$" +
          s".computeSimhashWeighted($input, $cap);")

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def simhash64_weighted(text: Column, cap: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      SimHash64Weighted(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), cap))

  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"

    override protected def nullSafeEval(v: Any): Any =
      computeSimhash(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.plans.SketchExpressions$$.MODULE$$.computeSimhash($input);")

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def simhash64(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      SimHash64(org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))

  case class MinHashSignature(child: Expression, numHashes: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_signature"

    override protected def nullSafeEval(v: Any): Any =
      computeSignature(v.asInstanceOf[ArrayData], numHashes)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.plans.SketchExpressions$$.MODULE$$.computeSignature($input, $numHashes);")

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def minhash_signature(shingles: Column, numHashes: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      MinHashSignature(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(shingles), numHashes))

  /** Dense hashed bag-of-grams counts: counts[b] = occurrences of grams
    * whose md5-derived 32-bit hash lands in bucket b (mod dim) — ONE
    * pass over the gram array, O(grams + dim) per row. The hash is the
    * same [[md5Hash32]] the sampling/sketch operators use, so a SQL
    * engine replays the bucket as
    * `CAST(('0x' || substr(md5(g),1,8)) AS BIGINT) % dim`. */
  def computeHashedCounts(grams: ArrayData, dim: Int): ArrayData = {
    val counts = new Array[Long](dim)
    val n = grams.numElements()
    var i = 0
    while (i < n) {
      val x = md5Hash32(grams.getUTF8String(i).getBytes)
      counts((x % dim).toInt) += 1 // md5Hash32 is non-negative (32-bit)
      i += 1
    }
    new GenericArrayData(counts.map(java.lang.Long.valueOf(_): Any))
  }

  case class HashedCounts(child: Expression, dim: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "hashed_counts"

    override protected def nullSafeEval(v: Any): Any =
      computeHashedCounts(v.asInstanceOf[ArrayData], dim)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.plans.SketchExpressions$$.MODULE$$.computeHashedCounts($input, $dim);")

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def hashed_counts(grams: Column, dim: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      HashedCounts(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(grams), dim))

  /** Binary sign quantization: bit i of word ⌊i/32⌋ is set iff
    * emb[i] ≥ 0 — 32 dims per 64-bit word (the top 32 bits of every
    * word stay zero so a SQL engine can replay the packing with plain
    * non-overflowing BIGINT arithmetic:
    * `list_sum([CASE WHEN emb[32j+i+1] >= 0 THEN 1<<i ELSE 0 END ...])`).
    * 64 floats → 2 longs: a 16× size cut that turns cosine ANN into
    * XOR+popcount Hamming ANN (Charikar hyperplane sketch specialized
    * to the coordinate planes). */
  def computeSignPack(emb: ArrayData, isFloat: Boolean): ArrayData = {
    val n = emb.numElements()
    val words = new Array[Long]((n + 31) / 32)
    var i = 0
    while (i < n) {
      // a null slot would read as 0.0 and SET the sign bit, silently
      // diverging from the oracle's CASE WHEN emb[i] >= 0 (NULL → bit
      // clear) — malformed embeddings must fail loudly instead
      if (emb.isNullAt(i))
        throw new IllegalArgumentException(
          s"sign_pack: null element at index $i — embedding arrays must be non-null")
      val v = if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
      if (v >= 0.0) words(i >> 5) |= (1L << (i & 31))
      i += 1
    }
    new GenericArrayData(words.map(java.lang.Long.valueOf(_): Any))
  }

  /** Σ popcount(aᵢ xor bᵢ) over packed sign words. Signature widths
    * must match — truncating to the shorter side would silently
    * under-count distance between differently-packed vectors. */
  def computeHamming(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"hamming_dist: signature widths differ ($n vs ${b.numElements()}) — " +
          "both sides must be sign_pack'd from equal-dimension embeddings")
    var d = 0
    var i = 0
    while (i < n) { d += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i)); i += 1 }
    d
  }

  case class SignPack(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "sign_pack"
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType | DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"sign_pack needs array<float|double>, got $other")
      }
    private def isFloat: Boolean =
      child.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType == org.apache.spark.sql.types.FloatType

    override protected def nullSafeEval(v: Any): Any =
      computeSignPack(v.asInstanceOf[ArrayData], isFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.plans.SketchExpressions$$.MODULE$$.computeSignPack($input, $isFloat);")

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  case class HammingDistance(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.IntegerType
    override def prettyName: String = "hamming_dist"
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(org.apache.spark.sql.types.LongType, _),
              ArrayType(org.apache.spark.sql.types.LongType, _)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case (l, r) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"hamming_dist needs two array<bigint> sign packs, got $l / $r")
      }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      computeHamming(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.plans.SketchExpressions$$.MODULE$$.computeHamming($a, $b);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  def sign_pack(emb: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      SignPack(org.apache.spark.sql.graftbridge.ColumnBridge.expression(emb)))
  def hamming_dist(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      HammingDistance(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))
}

/** Native product-quantization kernels. The composable formulation of
  * PQ encoding — `array_min` over ksub literal structs per subspace —
  * builds an m×ksub-node expression tree (128 `typedLit` centroids at
  * m=8/ksub=16): seconds of Catalyst analysis per query and a generated
  * method too large to JIT well. Here the codebook rides along as a
  * flattened `double[]` REFERENCE OBJECT (model state, exactly like a
  * broadcast hash table — not part of the expression tree), and each
  * operation is one codegen'd node calling a tight primitive loop.
  *
  * Layout: `codebooks[(j*ksub + i)*dsub + p]` = coordinate p of
  * centroid i of subspace j; dsub = dims/m.
  */
object PqExpressions {
  import org.apache.spark.sql.catalyst.expressions.UnaryExpression
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.IntegerType

  /** Argmin-centroid code per subspace: array<int> of length m. */
  def encode(emb: ArrayData, cb: Array[Double], m: Int, ksub: Int): ArrayData = {
    val dsub = emb.numElements() / m
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      var best = 0; var bestD = Double.PositiveInfinity
      var i = 0
      while (i < ksub) {
        val off = (j * ksub + i) * dsub
        var d = 0.0; var p = 0
        while (p < dsub) {
          val t = emb.getDouble(j * dsub + p) - cb(off + p)
          d += t * t; p += 1
        }
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /** ADC lookup table for one query: array<double> of length m·ksub,
    * `lut[j*ksub + i]` = query-subvector(j) · centroid(j,i). */
  def lut(emb: ArrayData, cb: Array[Double], m: Int, ksub: Int): ArrayData = {
    val dsub = emb.numElements() / m
    val out = new Array[Any](m * ksub)
    var j = 0
    while (j < m) {
      var i = 0
      while (i < ksub) {
        val off = (j * ksub + i) * dsub
        var dot = 0.0; var p = 0
        while (p < dsub) { dot += emb.getDouble(j * dsub + p) * cb(off + p); p += 1 }
        out(j * ksub + i) = dot
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Approximate inner product: Σⱼ lut[j·ksub + codes[j]]. */
  def adc(lutArr: ArrayData, codes: ArrayData): Double = {
    val m = codes.numElements()
    val ksub = lutArr.numElements() / m
    var s = 0.0; var j = 0
    while (j < m) { s += lutArr.getDouble(j * ksub + codes.getInt(j)); j += 1 }
    s
  }

  case class PqEncode(child: Expression, codebooks: Array[Double], m: Int, ksub: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "pq_encode"

    override protected def nullSafeEval(v: Any): Any =
      encode(v.asInstanceOf[ArrayData], codebooks, m, ksub)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cb = ctx.addReferenceObj("pqCodebooks", codebooks, "double[]")
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.plans.PqExpressions$$.MODULE$$.encode($input, $cb, $m, $ksub);")
    }

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  case class PqLut(child: Expression, codebooks: Array[Double], m: Int, ksub: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "pq_lut"

    override protected def nullSafeEval(v: Any): Any =
      lut(v.asInstanceOf[ArrayData], codebooks, m, ksub)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cb = ctx.addReferenceObj("pqCodebooks", codebooks, "double[]")
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.plans.PqExpressions$$.MODULE$$.lut($input, $cb, $m, $ksub);")
    }

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  case class AdcScore(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "pq_adc"

    override protected def nullSafeEval(l: Any, c: Any): Any =
      adc(l.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (l, c) =>
        s"${ev.value} = graft.plans.PqExpressions$$.MODULE$$.adc($l, $c);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  import org.apache.spark.sql.graftbridge.ColumnBridge
  def pq_encode(emb: Column, cb: Array[Double], m: Int, ksub: Int): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(emb), cb, m, ksub))
  def pq_lut(emb: Column, cb: Array[Double], m: Int, ksub: Int): Column =
    ColumnBridge.column(PqLut(ColumnBridge.expression(emb), cb, m, ksub))
  def pq_adc(lut: Column, codes: Column): Column =
    ColumnBridge.column(AdcScore(ColumnBridge.expression(lut), ColumnBridge.expression(codes)))
}

/** Typed user-facing aggregator (the `Aggregator[IN, BUF, OUT]` API
  * surface, complementing the TypedImperativeAggregate used for
  * TopKPairs): merges per-document MinHash signatures by elementwise
  * minimum. Because min is associative/commutative, the aggregate of a
  * partition of documents IS the MinHash signature of their shingle
  * UNION — collection-level signatures that estimate Jaccard overlap
  * between whole corpora (or incrementally fold new batches into a
  * stored sketch) without ever touching the raw text again.
  */
class MinSigAggregator(numHashes: Int)
    extends org.apache.spark.sql.expressions.Aggregator[Seq[Long], Array[Long], Seq[Long]] {
  override def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
  override def reduce(buf: Array[Long], sig: Seq[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes && i < sig.length) {
      if (sig(i) < buf(i)) buf(i) = sig(i)
      i += 1
    }
    buf
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }
  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    org.apache.spark.sql.Encoders.javaSerialization[Array[Long]]
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
