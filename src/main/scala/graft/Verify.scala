package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // dev knob (driver leaves it unset): restrict the dump to queries
    // matching a regex — single-gate iteration without the full 8-min run
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** The oracle SQL map as JSON. A bad escape (a tab, CR or control
    * character in the oracle SQL) makes the correctness gate's
    * json.load fail and zeroes the round's correctness, so the escaping
    * is the serializer's, not hand-written.
    */
  private[graft] def oracleJson(sql: Map[String, String]): String = Harness.toJson(sql)
}
