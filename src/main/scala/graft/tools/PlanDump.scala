package graft.tools

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for the
  * named `SparkEntry.queries` entries to `<outDir>/<query>_<tag>.txt`,
  * under the SAME harness session the bench runs on
  * ([[graft.GraftSession.local]]) so the captured plan is the plan the
  * bench actually executes. Optionally times each query with the
  * noop sink (guide §1.4 — computes every column, discards the write)
  * so a plan file and an isolated computation time come from one run.
  *
  * Also counts SPARK JOBS per phase (entry build vs the noop reps):
  * the write-path gates (z-order, versioned deletion) do their real
  * work EAGERLY inside the entry function, where the final frame's
  * plan can't show it — the job count is the before/after evidence for
  * changes that remove whole passes (a RangePartitioner sampling pass,
  * a redundant validation action).
  *
  * Usage: `sbt "runMain graft.tools.PlanDump <tag> <regex> [sfDir] [reps]"`
  *   tag    suffix for the plan files, e.g. `before` / `after`
  *   regex  which queries to dump (same semantics as SPARK_GRAFT_ONLY)
  *   sfDir  fixture dir (default /root/testdata/sf0.1)
  *   reps   noop-timed reps per query (default 3; 0 = plans only)
  * Env: SPARK_GRAFT_PLANDIR overrides the output dir (default plans/r20).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val re = args(1).r
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val reps = if (args.length > 3) args(3).toInt else 3
    val spark = graft.GraftSession.local("graft-plandump")
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet(); ()
      }
    })
    // listener delivery is async — drain the bus before sampling the counter
    def jobsNow(): Int = { ListenerBusDrain(spark.sparkContext); jobCount.get() }
    val outDir = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLANDIR", "plans/r20"))
    Files.createDirectories(outDir)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => re.findFirstIn(n).isDefined }
      .foreach { case (name, fn) =>
        try {
          spark.sparkContext.setJobDescription(s"plandump:$name")
          val j0 = jobsNow()
          val tb0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val buildSec = (System.nanoTime() - tb0) / 1e9
          val buildJobs = jobsNow() - j0
          val plan = df.queryExecution.explainString(FormattedMode)
          val jr = jobsNow()
          val runs = graft.Harness.timedReps(reps) {
            df.write.format("noop").mode("overwrite").save()
          }
          val repJobs = jobsNow() - jr
          val timing =
            f"== Entry build (eager work inside the query fn) ==%n" +
              f"build: $buildSec%.3f s, $buildJobs spark jobs%n" +
              (if (reps == 0) f"%n" else
                f"== Noop-sink timing (reps=$reps, sf=$sfDir) ==%n" +
                  runs.map(t => f"$t%.3f s").mkString("runs: ", ", ", f" ($repJobs spark jobs)%n") +
                  (if (runs.isEmpty) f"median: failed%n%n"
                   else f"median: ${graft.Harness.median(runs)}%.3f s%n%n"))
          Files.writeString(outDir.resolve(s"${name}_$tag.txt"), timing + plan)
          println(f"[plandump] $name -> $outDir/${name}_$tag.txt " +
            f"(build $buildSec%.2fs/$buildJobs jobs)")
          spark.catalog.clearCache()
          System.gc()
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
