package graft

/** Dev probe: run one `SparkEntry.queries` entry by name against a
  * fixture dir and print a sample plus the row count — the fast local
  * loop for a single query (`tools/check.py` re-runs everything).
  *
  * Usage: `sbt "runMain graft.Probe <queryName> [sfDir] [showRows]"`.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val n = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local("graft-probe")
    val df = SparkEntry.queries(name)(spark, dir)
    df.show(n, truncate = false)
    println(s"[probe] $name rows=${df.count()}")
    spark.stop()
  }
}
