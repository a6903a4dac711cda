package graft.sources

import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.plans.{EmptyScan, PartitionPlanner, ScanPlan}

/** A source "database": a named set of tables the engine can scan.
  * Implementations: [[FixtureSource]] (parquet dir, used by tests/bench)
  * and [[JdbcSource]] (real Oracle-style source over Spark JDBC).
  */
trait TableSource {
  def tableNames(spark: SparkSession): Seq[String]

  /** Whole-table scan as a DataFrame (lazy; no action). */
  def table(spark: SparkSession, name: String): DataFrame

  /** Row count of one table. By default a Spark `count()` over [[table]],
    * which leaves `timeout` to its caller (a job group to cancel, a
    * thread to interrupt); JDBC sources override it with one
    * `select count(*)` sent to the database under `timeout`.
    */
  def rowCount(spark: SparkSession, name: String, timeout: FiniteDuration): Long =
    table(spark, name).count()

  /** Schema-only probe — the reference's `WHERE 1=0` trick
    * (cmd/root.go:277-279). In Spark a scan is lazy, so `limit(0)`
    * resolves the schema without reading data.
    */
  def probe(spark: SparkSession, name: String): DataFrame =
    table(spark, name).limit(0)

  /** Table list minus an exclusion list (reference `NOT IN` anti-filter,
    * cmd/root.go:214-224). Driver-side: table lists are small.
    */
  def tableNamesExcluding(spark: SparkSession, exclude: Set[String]): Seq[String] = {
    val ex = exclude.map(_.toLowerCase)
    tableNames(spark).filterNot(t => ex.contains(t.toLowerCase))
  }
}

/** A source able to run user-supplied SQL as the extraction query —
  * the reference's YAML `tables:` custom-SQL mode (S7, cmd/root.go:84-85).
  */
trait SqlCapableSource extends TableSource {
  def sqlSource(spark: SparkSession, sql: String): DataFrame
}

/** Parquet-directory source: each `<dir>/<name>.parquet` is a table.
  * Stands in for the source database in tests (TESTDATA.md fixtures).
  */
final case class FixtureSource(dir: String) extends SqlCapableSource {

  /** Custom SQL over the fixture tables: referenced tables register as
    * temp views, the user SQL runs through Spark SQL (the JDBC twin
    * pushes the text down to the source database instead). Only tables
    * the SQL actually names are registered — registering all of them
    * reads every table's parquet footer per call, which a
    * hundreds-of-tables source turns into real latency. Referenced
    * names come from the real SQL parser (unresolved relations, incl.
    * inside subquery expressions), so names that appear only in string
    * literals or comments are NOT registered; a CTE alias shadowing a
    * table name resolves to the CTE, as SQL scoping requires.
    */
  override def sqlSource(spark: SparkSession, sql: String): DataFrame = {
    val plan = spark.sessionState.sqlParser.parsePlan(sql)
    val named = plan.collectWithSubqueries {
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        r.multipartIdentifier.last.toLowerCase
    }.toSet
    val referenced = tableNames(spark).filter(t => named.contains(t.toLowerCase))
    referenced.foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    spark.sql(sql)
  }
  override def tableNames(spark: SparkSession): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration
    )
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Seq.empty
    else
      fs.listStatus(p)
        .map(_.getPath.getName)
        .filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet"))
        .sorted
        .toSeq
  }

  override def table(spark: SparkSession, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}

/** JDBC source with planner-driven partitioned reads — the Spark
  * equivalent of the reference's ROWNUM page fan-out
  * (cmd/root.go:308-340): one disjoint predicate per Spark partition,
  * one connection per running task, scheduler-capped total concurrency.
  */
final case class JdbcSource(
    url: String,
    props: java.util.Properties,
    pageSize: Long = 100000L,
    maxParallel: Int = 100,
    fetchSize: Int = 10000
) extends SqlCapableSource {

  override def tableNames(spark: SparkSession): Seq[String] = {
    // Dictionary scan (reference S1: `select table_name from user_tables`).
    val df = spark.read
      .jdbc(url, "(select table_name from user_tables) t", props)
    df.collect().map(_.getString(0)).toSeq
  }

  override def table(spark: SparkSession, name: String): DataFrame =
    spark.read.option("fetchsize", fetchSize.toString).jdbc(url, quoted(name), props)

  override def rowCount(spark: SparkSession, name: String, timeout: FiniteDuration): Long =
    JdbcSource.pushedCount(url, props, quoted(name), timeout)

  /** Partitioned scan from a precomputed [[ScanPlan]]. */
  def tablePartitioned(spark: SparkSession, name: String, plan: ScanPlan): DataFrame =
    plan match {
      case EmptyScan => probe(spark, name)
      case p =>
        spark.read
          .option("fetchsize", fetchSize.toString)
          .jdbc(url, quoted(name), p.predicates, props)
    }

  /** Custom-SQL source (reference S7: user SQL from YAML replaces the
    * generated scan — cmd/root.go:84-85); pushed down to the source DB.
    */
  override def sqlSource(spark: SparkSession, sql: String): DataFrame =
    spark.read.option("fetchsize", fetchSize.toString).jdbc(url, s"($sql) graft_q", props)

  /** Plan a table's partitioned read given its cardinality and an optional
    * numeric split key's bounds (both obtainable via pushdown aggregates).
    */
  def planScan(rows: Long, splitKey: Option[(String, Long, Long)]): ScanPlan =
    PartitionPlanner.plan(rows, pageSize, splitKey, maxParallel)

  private def quoted(name: String): String = "\"" + name + "\""
}

object JdbcSource {

  /** `select count(*)` from one already-quoted table, sent from this
    * JVM on a connection of its own — the reference's count
    * (cmd/compare.go:112-123), with no Spark job. The statement's query
    * timeout is `timeout` rounded up to whole seconds (at least one);
    * the transaction is rolled back before the connection closes, so a
    * count that fails or times out holds no locks afterwards.
    */
  private[graft] def pushedCount(
      url: String,
      props: java.util.Properties,
      quotedName: String,
      timeout: FiniteDuration): Long = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        st.setQueryTimeout(math.min(Int.MaxValue.toLong,
          math.max(1L, (timeout.toMillis + 999) / 1000)).toInt)
        val rs = st.executeQuery(s"select count(*) from $quotedName")
        rs.next()
        rs.getLong(1)
      } finally st.close()
    } finally {
      try conn.rollback() catch { case _: java.sql.SQLException => () }
      conn.close()
    }
  }
}
