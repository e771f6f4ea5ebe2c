package graft

import org.apache.spark.sql.functions._
import graft.core.Metrics

class MetricsSpec extends SparkSpec {

  /** Two jobs, one stage each: an eager collect while the frame is
    * built (2 tasks), then the noop write of a map-only scan (4 tasks). */
  private def twoJobFrame() = {
    val floor = spark.range(0, 100, 1, 2).collect().length
    spark.range(0, 1000, 1, 4).where(col("id") > floor).toDF()
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq

  test("profile: a two-job query yields exactly its jobs and stages") {
    val r = Metrics.profile(spark)(twoJobFrame())
    assert(r.ok, s"run failed: ${r.error}")
    assert(r.jobs == 2, r)
    assert(r.stages.map(_.tasks).sorted == Seq(2, 4), r.stages)
    assert(r.stages.map(_.id).distinct.size == 2, r.stages)
    assert(r.stages.forall(_.wallMs >= 0), r.stages)
    assert(r.execS.exists(_ >= 0) && r.constructS >= 0, r)
    assert(r.shuffleBytes == 0L, r)
  }

  test("profile: back-to-back runs do not leak stages into each other") {
    val a = Metrics.profile(spark)(twoJobFrame())
    val b = Metrics.profile(spark)(spark.range(0, 10, 1, 3).toDF())
    assert(a.ok && b.ok, (a.error, b.error))
    assert(a.jobs == 2 && a.stages.size == 2, a)
    assert(b.jobs == 1 && b.stages.map(_.tasks) == Seq(3), b)
    assert(b.stages.head.id > a.stages.map(_.id).max, (a.stages, b.stages))
  }

  test("profile: shuffle bytes are attributed to the query") {
    val r = Metrics.profile(spark)(
      spark.range(100000).groupBy(expr("id % 997")).count())
    assert(r.ok, s"run failed: ${r.error}")
    assert(r.shuffleBytes > 0, s"expected shuffle bytes > 0, got $r")
    assert(r.stages.map(_.shuffleWriteBytes).sum > 0, r.stages)
  }

  test("profile: a frame that throws yields a failed record with its error, no exec time") {
    val built = Metrics.profile(spark)(throw new IllegalStateException("no frame"))
    assert(!built.ok && built.execS.isEmpty && built.wallS.isEmpty, built)
    assert(built.error.exists(_.getMessage == "no frame"), built.error)
    assert(built.jobs == 0 && built.stages.isEmpty, built)

    val ran = Metrics.profile(spark)(spark.range(0, 10, 1, 1).select(
      assert_true(col("id") < 5, lit("id too large")).as("x")))
    assert(!ran.ok && ran.execS.isEmpty, ran)
    assert(ran.error.exists(messages(_).exists(_.contains("id too large"))), ran.error)
  }
}
