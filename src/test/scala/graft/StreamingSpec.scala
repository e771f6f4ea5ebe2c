package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowedTypeStats aggregates tumbling windows over a stream") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.windowedTypeStats(input.toDF(), "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("win_stats")
      .outputMode(OutputMode.Update).start()
    input.addData(
      Event(1, ts(1), 7, "click", 1.0),
      Event(2, ts(4), 7, "click", 2.0),
      Event(3, ts(12), 8, "view", 5.0))
    q.processAllAvailable()
    val rows = spark.table("win_stats")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(rows == Set(
      ("2024-01-01 10:00:00.0", "click", 2L),
      ("2024-01-01 10:10:00.0", "view", 1L)))
  }

  test("incremental file source processes each file exactly once (sync analog)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_inc").toString
    val out = java.nio.file.Files.createTempDirectory("graft_inc_ck").toString
    Seq((1L, "a")).toDF("id", "v").write.mode("append").parquet(dir)
    val stream = graft.streaming.EventStreams.incrementalFiles(
      spark, dir, spark.read.parquet(dir).schema)
    val q = stream.writeStream.format("memory").queryName("inc_files")
      .option("checkpointLocation", out).outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table("inc_files").count() == 1)
    Seq((2L, "b"), (3L, "c")).toDF("id", "v").write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    // 3 rows total: the first file was not re-processed on the second batch
    assert(spark.table("inc_files").count() == 3)
  }

  test("stream-static join enriches events against a broadcast dimension") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val dim = Seq((7L, "gold"), (8L, "basic")).toDF("user_id", "tier")
    val q = graft.streaming.EventStreams.enriched(input.toDF(), dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enriched_events")
      .outputMode("append").start()
    input.addData(Event(1, ts(1), 7, "click", 1.0), Event(2, ts(2), 9, "view", 2.0))
    q.processAllAvailable()
    val rows = spark.table("enriched_events")
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[String]("tier")))
    q.stop()
    assert(rows.toSet == Set((1L, "gold"))) // user 9 has no dimension row
  }

  test("streaming LSH candidates match the batch candidate generator") {
    implicit val sc = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 1
      (3L, "completely different text with no overlap whatsoever at all today"),
      (4L, "the quick brown fox jumps over the lazy dog again and again ok")) // near-dup
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.lshCandidateStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("lsh_cands")
      .outputMode(OutputMode.Append).start()
    input.addData(docs.take(2): _*) // batch 1: 1, 2
    q.processAllAvailable()
    input.addData(docs.drop(2): _*) // batch 2: 3, 4 — pairs vs REMEMBERED state
    q.processAllAvailable()
    val streamPairs = spark.table("lsh_cands")
      .select("doc_id", "prior_doc_id").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    q.stop()
    // batch-path truth on the same corpus
    import spark.implicits._
    val batchPairs = graft.operators.Dedup.lshCandidates(
      graft.operators.Dedup.minhashSignatures(
        docs.toDF("doc_id", "text"), "doc_id", "text"), bands = 32, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamPairs == batchPairs)
    assert(streamPairs.contains((1L, 2L)) && !streamPairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("lshCandidateStream with tsCol evicts bucket state past the horizon") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = EventStreams.lshCandidateStream(
      input.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text",
      tsCol = Some("ts"), watermarkDelay = "0 seconds",
      horizonMs = 60L * 60 * 1000) // 1 hour
      .writeStream.format("memory").queryName("lsh_evict")
      .outputMode(OutputMode.Append).start()

    def stateRows: Long = Option(q.lastProgress)
      .flatMap(p => p.stateOperators.headOption).map(_.numRowsTotal).getOrElse(0L)

    input.addData(
      (1L, ts(0), "the quick brown fox jumps over the lazy dog again and again"),
      (2L, ts(1), "the quick brown fox jumps over the lazy dog again and again"))
    q.processAllAvailable()
    val afterFirst = stateRows
    assert(afterFirst > 0, "bucket state should exist after the first batch")

    // a doc 3 hours later pushes the watermark past horizon for batch-1
    // buckets; its OWN buckets are fresh state
    input.addData((3L, Timestamp.valueOf("2024-01-01 13:30:00"),
      "completely different text with no overlap whatsoever at all today"))
    q.processAllAvailable()
    // timeouts fire against the watermark set at the END of the previous
    // batch — one more batch processes the evictions
    input.addData((4L, Timestamp.valueOf("2024-01-01 13:31:00"),
      "yet another unrelated document talking about entirely new things"))
    q.processAllAvailable()
    val afterEviction = stateRows
    q.stop()
    // batch-1 buckets (docs 1,2 share all 32 band buckets) are gone;
    // only the recent docs' buckets remain: doc 3's 32 + doc 4's 32
    // (minus any band-hash collisions). Without eviction the total
    // would be afterFirst + 64.
    assert(afterEviction <= 64,
      s"state grew unboundedly: first=$afterFirst now=$afterEviction")
    // and the dup pair from batch 1 was still emitted before eviction
    val pairs = spark.table("lsh_evict").select("doc_id", "prior_doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((2L, 1L)))
  }

  test("windowed source sketch merges across batches and matches the batch sketch") {
    implicit val sc = spark.sqlContext
    val docs = Seq(
      (ts(1), "a", "the quick brown fox jumps over the lazy dog"),
      (ts(2), "a", "a completely different document with other words entirely"),
      (ts(3), "b", "the quick brown fox jumps over the lazy dog"))
    val input = MemoryStream[(Timestamp, String, String)]
    val q = EventStreams.windowedSourceSketch(
      input.toDF().toDF("ts", "source", "text"), "ts", "source", "text",
      numHashes = 16, watermarkDelay = "0 seconds", windowLength = "1 hour")
      .writeStream.format("memory").queryName("src_sketch")
      .outputMode(OutputMode.Append).start()
    input.addData(docs.take(1): _*)    // source a, doc 1
    q.processAllAvailable()
    input.addData(docs.drop(1): _*)    // source a doc 2 merges INTO the window state
    q.processAllAvailable()
    // watermark-advancing late batch far in the future closes the window
    input.addData((Timestamp.valueOf("2024-01-02 00:00:00"), "z", "x y z w"))
    q.processAllAvailable()
    val out = spark.table("src_sketch")
      .collect().map(r => r.getString(1) -> r.getSeq[Long](2)).toMap
    q.stop()
    // batch truth: same signature expression + MinSigAggregator over the union
    import org.apache.spark.sql.functions._
    val minSig = org.apache.spark.sql.functions.udaf(
      new graft.plans.MinSigAggregator(16),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val batch = docs.toDF("ts", "source", "text")
      .select(col("source"), graft.plans.SketchExpressions.minhash_signature(
        graft.operators.Dedup.shingles(col("text"), 3), 16).as("sig"))
      .groupBy("source").agg(minSig(col("sig")).as("sketch"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("a") == batch("a") && out("b") == batch("b"))
    // two docs merged: source a's sketch is the elementwise min, so it
    // cannot exceed either doc's own signature anywhere
    assert(out("a").zip(out("b")).count { case (x, y) => x == y } < 16)
  }

  test("sessionize handles out-of-order events within a micro-batch") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapMs = 5 * 60 * 1000)
      .writeStream.format("memory").queryName("sessions_ooo")
      .outputMode(OutputMode.Append).start()
    // arrival order 10:04, 10:01, 10:03 — one session 10:01..10:04 only
    // if the per-batch sort restores time order before gap detection
    input.addData(
      Event(1, ts(4), 7, "click", 1.0),
      Event(2, ts(1), 7, "click", 2.0),
      Event(3, ts(3), 7, "click", 4.0))
    q.processAllAvailable()
    input.addData(Event(4, ts(45), 7, "click", 8.0)) // gap -> closes it
    q.processAllAvailable()
    val sessions = spark.table("sessions_ooo").as[EventStreams.Session].collect()
    q.stop()
    assert(sessions.length == 1)
    val s = sessions.head
    assert(s.n_events == 3 && s.start == ts(1) && s.end == ts(4) && s.total_value == 7.0)
  }

  test("intervalJoin pairs events within the window, drops ones outside") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val left = clicks.toDF().select($"user_id", $"ts".as("click_ts"),
      $"event_id".as("click_id"))
    val right = buys.toDF().select($"user_id", $"ts".as("buy_ts"),
      $"event_id".as("buy_id"))
    val q = EventStreams.intervalJoin(left, right, Seq("user_id"),
        "click_ts", "buy_ts", windowSeconds = 5 * 60)
      .writeStream.format("memory").queryName("attributed")
      .outputMode(OutputMode.Append).start()
    clicks.addData(Event(1, ts(1), 7, "click", 0), Event(2, ts(2), 8, "click", 0))
    // user 7 converts inside the 5-min window; user 8 converts too late;
    // user 9 converts with no click at all
    buys.addData(Event(11, ts(4), 7, "buy", 0), Event(12, ts(20), 8, "buy", 0),
      Event(13, ts(3), 9, "buy", 0))
    q.processAllAvailable()
    val got = spark.table("attributed")
      .select("user_id", "click_id", "buy_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(got == Set((7L, 1L, 11L)))
  }

  test("upsertSink: later batches win per key, earlier keys survive") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val path = s"$dir/state"
    val ck = s"$dir/ck"
    val q = EventStreams.upsertSink(
      input.toDF().select($"user_id", $"event_type", $"value"),
      path, ck, keys = Seq("user_id"))
    // key 7 twice in the first batch: the batch resolves its own
    // duplicates (first by the non-key columns) before any table exists
    input.addData(Event(1, ts(1), 7, "click", 1.0), Event(2, ts(2), 8, "view", 2.0),
      Event(5, ts(5), 7, "view", 4.0))
    q.processAllAvailable()
    assert(spark.read.parquet(path).count() == 2L)
    input.addData(Event(3, ts(3), 8, "buy", 9.0), Event(4, ts(4), 9, "view", 3.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(path)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(out == Map(
      7L -> ("click", 1.0),  // untouched from batch 1
      8L -> ("buy", 9.0),    // batch 2 overwrote batch 1
      9L -> ("view", 3.0)))  // inserted by batch 2
  }

  test("sessionize closes sessions on gap and keeps open state") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapMs = 5 * 60 * 1000)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    // user 7: events at 10:01 and 10:03 (one session), then 10:30 (new
    // session -> closes the first). user 8: single event, stays open.
    input.addData(
      Event(1, ts(1), 7, "click", 1.0),
      Event(2, ts(3), 7, "click", 2.0),
      Event(3, ts(2), 8, "view", 9.0))
    q.processAllAvailable()
    input.addData(Event(4, ts(30), 7, "click", 4.0))
    q.processAllAvailable()
    val sessions = spark.table("sessions").as[EventStreams.Session].collect()
    q.stop()
    assert(sessions.length == 1)
    val s = sessions.head
    assert(s.user_id == 7 && s.n_events == 2 && s.total_value == 3.0)
    assert(s.start == ts(1) && s.end == ts(3))
  }

  test("replaySessionize: sentinel closes every open session, emits the batch result") {
    // two users, two sessions each under a 5-min gap; without the
    // per-user sentinel the LAST session of each user would stay open
    // in state and the replay would under-emit
    val ev = Seq(
      (1L, ts(1), 7L, 1.0), (2L, ts(3), 7L, 2.0),   // user 7, session 1
      (3L, ts(30), 7L, 4.0),                        // user 7, session 2
      (4L, ts(2), 8L, 9.0),                         // user 8, session 1
      (5L, ts(40), 8L, 0.5), (6L, ts(41), 8L, 0.25) // user 8, session 2
    ).toDF("event_id", "ts", "user_id", "value")
    val out = EventStreams.replaySessionize(ev, "user_id", "ts",
        "event_id", "value", gapMs = 5 * 60 * 1000, maxUsers = 100)
      .as[EventStreams.Session].collect()
      .map(s => (s.user_id, s.start) -> ((s.n_events, s.total_value))).toMap
    assert(out.size == 4) // ALL four sessions emitted, incl. the last per user
    assert(out((7L, ts(1))) == ((2L, 3.0)))
    assert(out((7L, ts(30))) == ((1L, 4.0)))
    assert(out((8L, ts(2))) == ((1L, 9.0)))
    assert(out((8L, ts(40))) == ((2L, 0.75)))
  }

  test("replayWindowedCountMin: final cells equal the batch windowed sketch") {
    import org.apache.spark.sql.functions._
    // two 7-day windows (day 1 and day 10), colliding tokens in the
    // first; the streaming final cells must equal a batch recompute
    // through the SAME bucket expressions
    def t(day: Int) = new java.sql.Timestamp(day * 86400000L)
    val ev = Seq((t(1), "a"), (t(1), "a"), (t(2), "b"), (t(10), "c"))
      .toDF("ts", "tok")
    val out = EventStreams.replayWindowedCountMin(ev, "ts", col("tok"),
        d = 2, w = 8).collect().map(_.toSeq).toSet
    val batch = ev
      .select(expr("window(ts, '7 days').start").cast("date").cast("string")
        .as("win_start"), col("tok"))
      .select(col("win_start"), explode(array((0 until 2).map(i =>
        struct(lit(i).as("row"),
          graft.operators.Sketches.bucket(col("tok"), i, 8).as("bucket"))): _*))
        .as("rb"))
      .groupBy(col("win_start"), col("rb.row").as("row"),
        col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(_.toSeq).toSet
    assert(out == batch && out.nonEmpty)
    // the sentinel's own window never reaches the sink
    assert(!out.exists(_.toString.contains("1970-02")))
  }

  test("domainCapStream: saturation persists across micro-batches, arrival order wins") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.CapDoc]
    def d(id: Long, g: String, m: Int) =
      EventStreams.CapDoc(id, g, java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00"))
    val q = EventStreams.domainCapStream(input.toDS(), cap = 2,
        watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("capped")
      .outputMode(OutputMode.Append).start()
    input.addData(d(1, "hot", 1), d(2, "hot", 1), d(3, "hot", 1), d(4, "cold", 1))
    q.processAllAvailable()
    // the hot domain saturated in batch 1 — batch 2 arrivals must drop,
    // while cold still admits
    input.addData(d(5, "hot", 2), d(6, "cold", 2))
    q.processAllAvailable()
    val got = spark.table("capped").as[EventStreams.CapOut].collect()
    q.stop()
    assert(got.count(_.grp == "hot") == 2, "hot must stay capped across batches")
    assert(got.filter(_.grp == "hot").map(_.doc_id).toSet == Set(1L, 2L),
      "admission is first-arrival")
    assert(got.count(_.grp == "cold") == 2)
  }

  test("replayScoreDistribution: streaming final counts equal batch windowed counts") {
    import org.apache.spark.sql.functions._
    // 3 epoch-aligned weeks of events, scores cycling all 10 buckets
    val base = 2800L * 7 * 86400 * 1000 // an exact window boundary
    val rows = (0 until 600).map { i =>
      (new java.sql.Timestamp(base + i.toLong * 86400 * 1000 * 21 / 600),
        ((i % 10) + 0.5) / 10.0)
    }
    val df = rows.toDF("ts", "score")
    val got = graft.streaming.EventStreams
      .replayScoreDistribution(df, "ts", col("score"), bins = 10)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val want = df.groupBy(
        window(col("ts"), "7 days")("start").cast("date").cast("string")
          .as("win_start"),
        greatest(least(ceil(col("score") * 10).cast("long"), lit(10L)),
          lit(1L)).as("b"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == want, "every real window flushes its FINAL counts")
    assert(got.keys.map(_._1).toSet.size == 3, "three weekly windows")
  }

  test("replayFunnel: strict first-ts chain, order-free state, depth-0 kept") {
    import org.apache.spark.sql.functions._
    val base = 1700000000000L
    val ev = Seq(
      (1L, base + 1000, "view"), (1L, base + 2000, "click"),
      (1L, base + 3000, "purchase"),
      (2L, base + 1000, "click"), (2L, base + 2000, "view"),
      (3L, base + 500, "signup"),
      (4L, base + 100, "view"), (4L, base + 100, "click")
    ).toDF("user_id", "ms", "event_type")
      .select(col("user_id"), (col("ms") / 1000).cast("timestamp").as("ts"),
        col("event_type"))
    val out = graft.streaming.EventStreams.replayFunnel(
      ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), maxUsers = 100)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(out(1L) == ((3, 3)), "full funnel")
    assert(out(2L) == ((1, 2)), "click before view breaks the chain at 1")
    assert(out(3L) == ((0, 0)), "non-step user emits an explicit zero row")
    assert(out(4L) == ((1, 2)), "equal timestamps are not a strict rise")
  }
}
