package graft.tools

import org.apache.spark.ListenerBusDrain

/** Optimization-round tooling: run ONE `SparkEntry.queries` entry and
  * print every Spark job it launches — job id, call site of the SQL
  * execution that launched it (else of its first stage), stage count,
  * task count — so a lifecycle gate's fixed-cost
  * job anatomy (staged rewrites, sidecar writes, validation probes) is
  * visible and countable. The verdict-r19 item #5 instrument: "count
  * the staged-swap renames+fsyncs per gate, eliminate redundant
  * listing/validation passes".
  *
  * Usage: `sbt "runMain graft.tools.JobTrace <query> [sfDir] [execute] [reps]"`
  *   query    exact SparkEntry.queries key
  *   sfDir    fixture dir (default /root/testdata/sf0.1)
  *   execute  also noop-run the returned frame (default false: the
  *            build phase alone — lifecycle gates do their real work
  *            eagerly inside the entry fn)
  *   reps     bench-parity repetitions of the whole entry+execute
  *            (default 1). Each rep re-invokes the entry fn like a
  *            bench rep does; the job listing printed is the LAST
  *            rep's — i.e. warm-JVM anatomy, separating real per-rep
  *            work from first-call codegen/JIT noise.
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val execute = args.length > 2 && args(2).toBoolean
    val spark = graft.GraftSession.local("graft-jobtrace")
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val meta = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int, Int)]()
    // AQE submits each query stage as its own job from a pool thread, so
    // its first stage is named after a Spark-internal frame; the job's
    // SQL execution still carries the caller's call site
    val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execSite.put(s.executionId, s.description)
            ()
          case _ => ()
        }
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSite.get(id.toLong)))
          .orElse(j.stageInfos.headOption.map(_.name)).getOrElse("?")
        val tasks = j.stageInfos.map(_.numTasks).sum
        meta.put(j.jobId, (System.nanoTime(), site, j.stageInfos.size, tasks))
        ()
      }
      override def onJobEnd(
          j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(meta.remove(j.jobId)).foreach { case (t0, site, st, tk) =>
          val sec = (System.nanoTime() - t0) / 1e9
          lines.add(f"job ${j.jobId}%3d  ${sec}%7.2fs  stages=$st  tasks=$tk%4d  $site")
        }
        ()
      }
    })
    val reps = if (args.length > 3) args(3).toInt else 1
    var buildSec = 0.0
    var repSec = 0.0
    (1 to reps).foreach { r =>
      if (r == reps) { ListenerBusDrain(spark.sparkContext); lines.clear() }
      val tr0 = System.nanoTime()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      buildSec = (System.nanoTime() - t0) / 1e9
      if (execute) df.write.format("noop").mode("overwrite").save()
      repSec = (System.nanoTime() - tr0) / 1e9
      println(f"[jobtrace] rep $r: $repSec%.2f s (build $buildSec%.2f s)")
    }
    ListenerBusDrain(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    println(s"== JobTrace $name (sf=$sfDir, execute=$execute, last of $reps reps) ==")
    lines.asScala.foreach(println)
    println(f"== ${lines.size} jobs, last rep $repSec%.2f s (build $buildSec%.2f s) ==")
    spark.stop()
  }
}
