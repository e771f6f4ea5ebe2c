package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Minimal JSON rendering for the result file and the span dump. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

/** Wall time and process CPU time (every thread of the JVM: driver, tasks,
  * JIT and GC) of one call. CPU time does not count time the hypervisor
  * gave to other machines, which wall time on a shared host does. */
object Clock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def measure[T](body: => T): (T, Double, Double) = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `inclusive` method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile that leaves at least ten samples above
    * it, by nearest rank: (percentile, value, samples). None below 11. */
  def tail(xs: Seq[Double]): Option[(Int, Double, Int)] = {
    val n = xs.size
    if (n < 11) return None
    val p = math.floor(100.0 * (n - 10) / n).toInt
    val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
    Some((p, xs.sorted.apply(rank - 1), n))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Order-independent content checksums. A row hashes like Spark's
  * `xxhash64` over the same columns (string and long columns; a null
  * leaves the running hash unchanged), so the benchmark can compute the
  * expected value from its generator and compare it with an aggregate
  * over the program's output. The sum of the low 32 bits of each row
  * hash never overflows. */
object Checksum {
  private val Seed = 42L

  def row(values: Seq[Any]): Long =
    values.foldLeft(Seed) {
      case (h, null) => h
      case (h, s: String) => XXH64.hashUTF8String(UTF8String.fromString(s), h)
      case (h, l: Long) => XXH64.hashLong(l, h)
      case (_, other) => sys.error(s"no checksum for ${other.getClass}")
    } & 0xFFFFFFFFL

  def of(rows: Iterable[Seq[Any]]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, s), r) => (n + 1, s + row(r)) }

  /** (rows, checksum) of a frame, in one aggregate. */
  def of(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val h: Column = xxhash64(cols.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

object Host {
  /** A field of /proc/self/status in kB (e.g. VmHWM), or -1. */
  def statusKb(field: String): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith(field + ":"))
        .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: java.io.IOException => -1L }

  /** (steal, total) jiffies of all CPUs from /proc/stat: time the
    * hypervisor ran something else while this machine wanted to run. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: java.io.IOException => (0L, 0L) }

  def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: java.io.IOException => "" }

  /** Bytes of every regular file under `dir`. */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return 0L
    val st = Files.walk(p)
    try st.filter(Files.isRegularFile(_)).mapToLong((f: Path) => Files.size(f)).sum()
    finally st.close()
  }
}
