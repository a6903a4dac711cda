package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. One session per JVM (tests fork once). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession
      .builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // static conf: must be set before session creation (bucketed-table
      // specs write through the catalog)
      .config("spark.sql.warehouse.dir", GraftSession.throwawayDir("graft_wh"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  def sfDir: String = TestSession.sfDir
  def table(name: String) =
    Fixtures.normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"))
}
