package graft

/** Plan-audit tool: run one suite query by name, print its formatted
  * physical plan and wall time. `runMain graft.Explain <query> [sfDir]`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.core.Session.local("graft-explain")
    val tc = System.nanoTime()
    val df = Queries.queries(name)(spark, sfDir)
    val constructSec = (System.nanoTime() - tc) / 1e9
    df.explain("formatted")
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(f"[explain] $name construct ${constructSec}%.2f s" +
      f" + exec ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
