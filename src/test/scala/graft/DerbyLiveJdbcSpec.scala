package graft

import org.apache.spark.sql.functions._

import graft.sinks.{BatchWriter, DdlExecutor, StatementExecutor}
import graft.sources.JdbcSource
import graft.verify.Comparator

/** LIVE JDBC round trip against the embedded Derby engine that already
  * ships in /opt/spark/jars (the hive-metastore dependency — zero new
  * dependencies): every JDBC surface the FakeJdbc specs assert at the
  * statement level executes FOR REAL here, against an actual SQL engine
  * with an actual JDBC driver, in memory.
  *
  *  - production DDL path: [[StatementExecutor.jdbc]] one-connection
  *    executor driven by [[DdlExecutor.executeCategory]];
  *  - S1 dictionary scan: a `user_tables` view emulates the Oracle
  *    dictionary so [[JdbcSource.tableNames]] runs verbatim;
  *  - K1/K3: [[BatchWriter.writeJdbc]]'s batched INSERT with
  *    truncate-before-load, proven idempotent by re-running it;
  *  - S5: planner-driven partitioned read (one disjoint predicate per
  *    Spark partition) equals the full scan;
  *  - S6/S7: the WHERE 1=0 probe and pushed-down custom SQL;
  *  - replay-safe range append: delete-range + append converges;
  *  - S15+checksum: the portable checksum of the read-back equals the
  *    source's — content equality through a live engine, not a stub.
  *
  * Identifier casing: the table is created with a QUOTED lowercase name
  * (matching [[JdbcSource.quoted]]) and UNQUOTED column names, which
  * Derby folds to uppercase; the write-side DataFrame carries uppercase
  * column names so Spark's quoted INSERT column list matches, and the
  * read-back is renamed to lowercase for comparison.
  */
class DerbyLiveJdbcSpec extends SparkSpec {

  // keep derby.log (and any on-disk spill) out of the repo tree
  System.setProperty("derby.system.home",
    java.nio.file.Files.createTempDirectory("graft_derby").toString)

  private val url = "jdbc:derby:memory:graft_rt;create=true"
  private def props = new java.util.Properties()
  private val cols = Seq("l_orderkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_returnflag", "l_linestatus", "l_shipdate")

  private def srcUpper = table("lineitem")
    .select(cols.map(c => col(c).as(c.toUpperCase(java.util.Locale.ROOT))): _*)
  private def srcLower = table("lineitem").select(cols.map(col): _*)
  private val source = JdbcSource(url, new java.util.Properties(),
    pageSize = 1000L, maxParallel = 8)

  /** One-time: DDL through the production executor, then the initial
    * batched load. Every test forces this lazily.
    */
  private lazy val setup: Unit = {
    import spark.implicits._
    val ddl = Seq(
      """CREATE TABLE "lineitem_rt" (L_ORDERKEY BIGINT, L_LINENUMBER INTEGER, """ +
        """L_QUANTITY DOUBLE, L_EXTENDEDPRICE DOUBLE, L_RETURNFLAG VARCHAR(1), """ +
        """L_LINESTATUS VARCHAR(1), L_SHIPDATE TIMESTAMP)""",
      "CREATE VIEW user_tables(table_name) AS " +
        "SELECT CAST(tablename AS VARCHAR(128)) FROM sys.systables WHERE tabletype = 'T'"
    ).toDF("sql_cmd")
    val exec = StatementExecutor.jdbc(url, props)
    try {
      val rep = new DdlExecutor(exec).executeCategory("Table", ddl)
      assert(rep.total === 2 && rep.failed === 0, rep.toString)
    } finally exec.close()
    BatchWriter.writeJdbc(srcUpper, url, "\"lineitem_rt\"", props,
      batchRowSize = 500, maxConnections = 4)
  }

  test("production DDL executes on a live engine and the dictionary scan sees the table") {
    setup
    assert(source.tableNames(spark) === Seq("lineitem_rt"))
  }

  test("batched truncate-before-load is idempotent and the read-back checksum matches the source") {
    setup
    val n = srcLower.count()
    // second load through the same path: TRUNCATE really runs, count holds
    BatchWriter.writeJdbc(srcUpper, url, "\"lineitem_rt\"", props,
      batchRowSize = 500, maxConnections = 4)
    val back = source.table(spark, "lineitem_rt")
      .select(cols.map(c => col(c.toUpperCase(java.util.Locale.ROOT)).as(c)): _*)
    assert(back.count() === n)
    // content equality through the live engine, via the same portable
    // checksum a cross-engine migration verification would use
    val a = Comparator.portableChecksum(srcLower).collect()(0)
    val b = Comparator.portableChecksum(back).collect()(0)
    assert(a.toString === b.toString)
  }

  test("planner-driven partitioned read: disjoint predicates, one per partition, equals the full scan") {
    setup
    val n = srcLower.count()
    val Array(lo, hi) = srcLower
      .agg(min("l_orderkey"), max("l_orderkey")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val plan = source.planScan(n, Some(("L_ORDERKEY", lo, hi)))
    assert(plan.predicates.length > 1, s"want a real fan-out, got $plan")
    val part = source.tablePartitioned(spark, "lineitem_rt", plan)
    assert(part.rdd.getNumPartitions === plan.predicates.length)
    assert(part.count() === n)
    // disjoint exact cover: no row lost, none duplicated
    assert(part.groupBy("L_ORDERKEY", "L_LINENUMBER").count()
      .select(sum("count")).collect()(0).getLong(0) === n)
  }

  test("WHERE 1=0 probe resolves the schema with zero rows") {
    setup
    val p = source.probe(spark, "lineitem_rt")
    assert(p.columns.length === 7 && p.count() === 0)
  }

  test("custom SQL pushes down to the source engine") {
    setup
    // Derby types COUNT(*) as INTEGER; normalize before comparing
    val agg = source.sqlSource(spark,
      """SELECT L_RETURNFLAG, COUNT(*) AS N FROM "lineitem_rt" GROUP BY L_RETURNFLAG""")
      .collect().map(r => (r.getString(0), r.getAs[Number](1).longValue)).toMap
    val expected = srcLower.groupBy("l_returnflag").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(agg === expected)
  }

  test("full Migrator sync into the live engine; compareDb verifies every table") {
    // no dictionary emulation needed: JdbcDest.asSource lists the
    // destination through dialect-neutral DatabaseMetaData.getTables
    val surl = "jdbc:derby:memory:graft_sync;create=true"
    // embeddings' ARRAY<FLOAT> has no JDBC type — it rides JdbcDest's
    // ArrayCarrier convention (float32-LE BLOB, suffix-marked), so ALL
    // ten fixture tables sync, vectors included
    val cfg = graft.config.SyncConfig(maxParallel = 4)
    val m = new Migrator(spark, graft.sources.FixtureSource(sfDir),
      graft.sinks.JdbcDest(surl, new java.util.Properties(),
        batchRowSize = 500, maxConnections = 2), cfg)
    val results = m.run()
    assert(results.size === 10, results.map(_.table).sorted.mkString(","))
    assert(results.forall(_.ok), results.filterNot(_.ok).mkString("; "))
    val report = m.compare()
    assert(report.count() === 10)
    assert(report.filter(col("is_ok") === "NO").count() === 0)
    // deep content check on the largest table, through the live engine
    val back = JdbcSource(surl, new java.util.Properties())
      .table(spark, "lineitem")
      .select(table("lineitem").columns.map(c =>
        col(c.toUpperCase(java.util.Locale.ROOT)).as(c)): _*)
    val a = Comparator.portableChecksum(table("lineitem")).collect()(0)
    val b = Comparator.portableChecksum(back).collect()(0)
    assert(a.toString === b.toString)
    // and on the vector table: the read-back goes BLOB → unpack →
    // array<float>, and the checksum (float32-LE packed-hex fold on
    // both sides) must land byte-identical to the parquet source
    val vecBack = m.destSource.table(spark, "embeddings")
    val vecCols = table("embeddings").columns
    assert(vecBack.columns.map(_.toLowerCase).sorted === vecCols.sorted,
      vecBack.columns.mkString(","))
    val renamed = vecBack.select(vecCols.map(c =>
      col(c.toUpperCase(java.util.Locale.ROOT)).as(c)): _*)
    val va = Comparator.portableChecksum(table("embeddings")).collect()(0)
    val vb = Comparator.portableChecksum(renamed).collect()(0)
    assert(va.toString === vb.toString)
    // third verification tier, live: per-column cardinality profiles of
    // a synced table match the source's column by column (identifiers
    // case-folded through the engine's uppercasing)
    val prof = m.compareProfile("orders").collect()
    assert(prof.length === table("orders").columns.length, prof.mkString("; "))
    assert(prof.forall(r => r.getString(r.length - 1) == "YES"),
      prof.mkString("; "))
  }

  test("range append is replay-safe: delete-range + append converges over replays") {
    setup
    val n = srcLower.count()
    val page = srcUpper.filter(col("L_ORDERKEY") >= 1 && col("L_ORDERKEY") < 100)
    val quote: String => String = identity // table arrives pre-quoted, col unquoted-uppercase
    // two replays of the same page: the range delete makes them converge
    (1 to 2).foreach { _ =>
      BatchWriter.writeJdbcRangeIdempotent(page, url, "\"lineitem_rt\"", props,
        "L_ORDERKEY", 1L, 100L, batchRowSize = 500, maxConnections = 2,
        quoteIdent = quote)
    }
    assert(source.table(spark, "lineitem_rt").count() === n)
  }

  test("DDL failure accounting on the live engine: bad statements count, good ones land") {
    import spark.implicits._
    // a DEDICATED in-memory db: the shared graft_rt database backs an
    // exact tableNames assertion elsewhere — leaking tables into it
    // would couple the tests through registration order
    val durl = "jdbc:derby:memory:graft_ddl;create=true"
    val ddl = Seq(
      (1, """CREATE TABLE "ddl_acct_ok" (ID BIGINT)"""),
      (2, """CREATE TABLE "ddl_acct_bad" (ID NO_SUCH_TYPE)"""), // rejected by the engine
      (3, """CREATE INDEX "ddl_acct_ix" ON "ddl_acct_ok"(ID)""")
    ).toDF("rank", "sql_cmd")
    val exec = StatementExecutor.jdbc(durl, props)
    try {
      val rep = new DdlExecutor(exec).executeCategory("Table", ddl,
        orderCols = Seq("rank"))
      // per-category report: the engine's real rejection is counted,
      // the statements around it still execute (reference K5 semantics)
      assert(rep.total === 3 && rep.failed === 1, rep.toString)
    } finally exec.close()
    val listed = graft.sinks.JdbcDest(durl, new java.util.Properties())
      .asSource.tableNames(spark)
    assert(listed.contains("ddl_acct_ok") && !listed.contains("ddl_acct_bad"), listed)
  }

  test("tampering the live destination is caught by the checksum, and a re-sync repairs it") {
    setup
    def backChecksum() = Comparator.portableChecksum(
      source.table(spark, "lineitem_rt")
        .select(cols.map(c => col(c.toUpperCase(java.util.Locale.ROOT)).as(c)): _*))
      .collect()(0).toString
    val good = Comparator.portableChecksum(srcLower).collect()(0).toString
    // a row-count-preserving in-place tamper: counts still match, only
    // the content fingerprint can catch it (the reference's compareDb
    // stops at counts — this is the deeper guarantee)
    val exec = StatementExecutor.jdbc(url, props)
    try exec.execute("""UPDATE "lineitem_rt" SET L_QUANTITY = L_QUANTITY + 1 """ +
      """WHERE L_ORDERKEY = (SELECT MIN(L_ORDERKEY) FROM "lineitem_rt")""")
    finally exec.close()
    assert(source.table(spark, "lineitem_rt").count() === srcLower.count())
    assert(backChecksum() !== good, "a content tamper must move the checksum")
    // repair: the truncate-before-load path converges back to the source
    BatchWriter.writeJdbc(srcUpper, url, "\"lineitem_rt\"", props,
      batchRowSize = 500, maxConnections = 4)
    assert(backChecksum() === good)
  }

  // A live JdbcSource → JdbcDest sync for the verification specs below:
  // the source holds the non-vector fixture tables (loaded through the
  // production writer, names quoted lowercase) plus a mixed-case table,
  // behind the emulated Oracle dictionary.
  private val vsrcUrl = "jdbc:derby:memory:graft_vsrc;create=true"
  private val vsrc = JdbcSource(vsrcUrl, new java.util.Properties())
  private val fixtureTables = Seq("customer", "documents", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")
  private val mixedCase = "MixedCase_T"
  private val synced = fixtureTables :+ mixedCase

  private def sql(url: String, stmts: String*): Unit = {
    val exec = StatementExecutor.jdbc(url, props)
    try stmts.foreach(exec.execute) finally exec.close()
  }

  private lazy val vsrcLoaded: Unit = {
    val load = graft.sinks.JdbcDest(vsrcUrl, new java.util.Properties())
    fixtureTables.foreach(t => load.write(spark.read.parquet(s"$sfDir/$t.parquet"), t))
    sql(vsrcUrl,
      s"""CREATE TABLE "$mixedCase" ("Id" BIGINT, "Label" VARCHAR(20))""",
      s"""INSERT INTO "$mixedCase" VALUES (1, 'a'), (2, 'b'), (3, NULL)""",
      "CREATE VIEW user_tables(table_name) AS " +
        "SELECT CAST(tablename AS VARCHAR(128)) FROM sys.systables WHERE tabletype = 'T'")
  }

  /** A fresh in-memory destination `db`, synced from the live source. */
  private def syncFromLive(db: String): Migrator = {
    vsrcLoaded
    val m = new Migrator(spark, vsrc,
      graft.sinks.JdbcDest(s"jdbc:derby:memory:$db;create=true",
        new java.util.Properties(), batchRowSize = 500, maxConnections = 2),
      graft.config.SyncConfig(maxParallel = 4))
    val results = m.run()
    assert(results.map(_.table).sorted === synced.sorted)
    assert(results.forall(_.ok), results.filterNot(_.ok).mkString("; "))
    m
  }
  private lazy val countSync = syncFromLive("graft_vdst")
  private val minute = scala.concurrent.duration.FiniteDuration(1, "min")

  test("pushed row counts equal the Spark scan on both sides, a mixed-case name included; a missing destination table reads NO") {
    val m = countSync
    synced.foreach { t =>
      val n = vsrc.table(spark, t).count()
      assert(vsrc.rowCount(spark, t, minute) === n, s"source $t")
      assert(m.destSource.rowCount(spark, t, minute) === n, s"destination $t")
    }
    assert(vsrc.rowCount(spark, mixedCase, minute) === 3L)
    // a source table the destination never received
    sql(vsrcUrl, """CREATE TABLE "late_t" (ID BIGINT)""", """INSERT INTO "late_t" VALUES (1)""")
    try {
      val rows = Comparator.compareCounts(spark, vsrc, m.destSource, synced :+ "late_t")
        .collect().map(r => r.getString(0) -> r).toMap
      assert(rows("late_t").getAs[String]("dest_is_exist") === "NO")
      assert(rows("late_t").getAs[String]("is_ok") === "NO")
      assert(rows("late_t").getAs[Long]("src_rows") === 1L)
      synced.foreach(t => assert(rows(t).getAs[String]("is_ok") === "YES", rows(t)))
    } finally sql(vsrcUrl, """DROP TABLE "late_t"""")
  }

  test("pushed count keeps the timeout contract: a table locked by another connection times out, no count transaction outlives the lock") {
    val m = countSync
    val holder = java.sql.DriverManager.getConnection(vsrcUrl)
    holder.setAutoCommit(false)
    def countTxns(): Seq[String] = {
      val c = java.sql.DriverManager.getConnection(vsrcUrl)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT SQL_TEXT FROM SYSCS_DIAG.TRANSACTION_TABLE")
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (rs.next()) Option(rs.getString(1)).foreach(buf += _)
        buf.filter(_.startsWith("select count(*)")).toSeq
      } finally c.close()
    }
    try {
      holder.createStatement().execute("""LOCK TABLE "nation" IN EXCLUSIVE MODE""")
      val t0 = System.nanoTime()
      val rows = Comparator.compareCounts(spark, vsrc, m.destSource,
        Seq("nation", "orders", "region"),
        timeout = scala.concurrent.duration.FiniteDuration(5, "sec"))
        .orderBy("table_name").collect() // nation, orders, region
      val elapsed = (System.nanoTime() - t0) / 1e9
      // Derby's own lock wait is 60 s: the report must not wait for it
      assert(elapsed < 30, s"compareCounts took $elapsed s")
      assert(rows(0).getAs[String]("dest_is_exist") === "TIMEOUT")
      assert(rows(0).getAs[String]("is_ok") === "NO")
      assert(rows.drop(1).forall(_.getAs[String]("is_ok") == "YES"), rows.mkString("; "))
      // Derby checks a query timeout between rows, never in a lock
      // wait: the count must end at the deadline, not when the lock goes
      eventually(countTxns().isEmpty, "a count transaction outlived its deadline")
    } finally {
      holder.commit()
      holder.close()
    }
    eventually(countTxns().isEmpty, "a count transaction outlived the lock")
  }

  private def eventually(cond: => Boolean, clue: String): Unit = {
    val until = System.nanoTime() + 10L * 1000000000L
    while (!cond && System.nanoTime() < until) Thread.sleep(200)
    assert(cond, clue)
  }

  test("compareChecksums over a live JdbcSource → JdbcDest sync: equal after the copy, false after a destination or source edit, throws on a dropped table") {
    val m = syncFromLive("graft_vdst_ck")
    val dstUrl = "jdbc:derby:memory:graft_vdst_ck"
    def same(t: String) = Comparator.compareChecksums(spark, vsrc, m.destSource, t)
    synced.foreach(t => assert(same(t), s"$t must checksum equal after the copy"))
    // an in-place destination edit keeps the count, moves the checksum
    sql(dstUrl, """UPDATE "orders" SET "o_orderpriority" = 'tampered' """ +
      """WHERE "o_orderkey" = (SELECT MIN("o_orderkey") FROM "orders")""")
    val orders = Comparator.compareCounts(spark, vsrc, m.destSource, Seq("orders")).head()
    assert(orders.getAs[String]("is_ok") === "YES")
    assert(!same("orders"))
    // a source row that changes after the copy
    sql(vsrcUrl, s"""UPDATE "$mixedCase" SET "Label" = 'z' WHERE "Id" = 1""")
    try assert(!same(mixedCase))
    finally sql(vsrcUrl, s"""UPDATE "$mixedCase" SET "Label" = 'a' WHERE "Id" = 1""")
    // a destination table that is gone fails the call, never reads true
    sql(dstUrl, """DROP TABLE "region"""")
    val t0 = System.nanoTime()
    intercept[Exception](same("region"))
    assert((System.nanoTime() - t0) / 1e9 < 60)
  }
}
