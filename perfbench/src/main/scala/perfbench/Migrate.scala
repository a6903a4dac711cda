package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.col

import graft.{Migrator, TableResult}
import graft.config.SyncConfig
import graft.ddl.DdlGenerator
import graft.sinks.JdbcDest
import graft.sources.JdbcSource
import graft.verify.Comparator

/** The reference's own job: copy a relational schema from an
  * Oracle-style JDBC source into a fresh on-disk database, then verify
  * every table by count and checksum.
  *
  * Source: an in-memory embedded Derby database loaded with plain JDBC
  * batch inserts, exposing the Oracle dictionary view `user_tables`.
  * Destination: a fresh on-disk embedded Derby database per pass.
  * Flush policy: Derby runs with `derby.system.durability=test` (set by
  * [[Main]] before Derby boots): commits do not wait for a log sync, and
  * the log stays in the destination directory. With a synced log the
  * same code swung 2x between runs on the disk's state alone.
  */
final class Migrate(seed: Long) extends Workload {
  import Migrate._

  private val tables = schema(Scale)
  private var setups = 0
  private var srcUrl = ""
  private def src = JdbcSource(srcUrl, new java.util.Properties())
  private val syncLog = ArrayBuffer.empty[(Int, Double, Double)] // pass, sync s, slowest table s
  private val verifyLog = ArrayBuffer.empty[(Int, Double)]

  def fingerprint(seed: Long): String = {
    val fp = new Fingerprint
    tables.foreach { t =>
      fp.add(t.name)
      rows(t, seed).foreach(_.foreach(fp.add))
    }
    fp.hex
  }

  def rowsPerPass: Long = tables.map(_.n.toLong).sum

  def facts: Seq[(String, String)] = Seq(
    "scale" -> Scale.toString,
    "tables" -> tables.size.toString,
    "rows" -> rowsPerPass.toString,
    "lineitem_rows" -> tables.find(_.name == "lineitem").get.n.toString,
    "flush_policy" -> "derby.system.durability=test; log in the destination directory")

  def setup(ctx: Ctx): Unit = {
    if (setups > 0) dropMemoryDb(srcUrl)
    setups += 1
    srcUrl = s"jdbc:derby:memory:pbsrc$setups"
    val conn = java.sql.DriverManager.getConnection(srcUrl + ";create=true")
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      tables.foreach { t =>
        st.execute(s"""CREATE TABLE "${t.name}" (""" +
          t.cols.map { case (c, ty) => s""""$c" $ty""" }.mkString(", ") + ")")
        val ps = conn.prepareStatement(s"""INSERT INTO "${t.name}" VALUES (""" +
          t.cols.map(_ => "?").mkString(", ") + ")")
        var i = 0
        rows(t, seed).foreach { r =>
          r.indices.foreach(j => ps.setObject(j + 1, r(j)))
          ps.addBatch()
          i += 1
          if (i % 2000 == 0) ps.executeBatch()
        }
        ps.executeBatch()
        ps.close()
      }
      st.execute("CREATE VIEW user_tables(table_name) AS SELECT CAST(tablename AS VARCHAR(128)) " +
        "FROM sys.systables WHERE tabletype = 'T'")
      conn.commit()
    } finally conn.close()
  }

  def pass(ctx: Ctx, p: Int): Unit = {
    val destDir = new java.io.File(ctx.work, s"dest-$p")
    val url = s"jdbc:derby:${destDir.getAbsolutePath}"
    val dest = JdbcDest(url + ";create=true", new java.util.Properties(),
      batchRowSize = 5000, maxConnections = 16)
    val m = new Migrator(ctx.spark, src, dest, SyncConfig(maxParallel = 4))
    val names = tables.map(_.name)
    ctx.op("ddl", "ddl.generate") {
      names.map(t => DdlGenerator.createTable(t, src.probe(ctx.spark, t).schema))
    } { ddl =>
      names.zip(ddl).collect {
        case (t, d) if !d.startsWith(s"create table `$t`") => s"no CREATE TABLE for $t"
      }
    }
    val t0 = System.nanoTime()
    val results: Seq[TableResult] = ctx.tracer.span("migrate.sync")(m.run())
    val syncS = (System.nanoTime() - t0) / 1e9
    val byName = results.map(r => r.table -> r).toMap
    tables.foreach { t =>
      val r = byName.get(t.name)
      ctx.reported(s"copy:${t.name}", r.fold(0.0)(_.seconds), r match {
        case None => Seq("table not copied")
        case Some(r) if !r.ok => Seq(s"copy failed: ${r.error.getOrElse("")}")
        case Some(r) if r.rows != t.n => Seq(s"copied ${r.rows} rows, expected ${t.n}")
        case _ => Nil
      })
    }
    syncLog += ((p, syncS, results.map(_.seconds).foldLeft(0.0)(math.max)))
    val v0 = System.nanoTime()
    ctx.op("verify.counts", "verify.counts")(m.compare().collect()) { rows =>
      val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(4))).toMap
      tables.flatMap { t =>
        got.get(t.name) match {
          case Some((s, d, "YES")) if s == t.n && d == t.n => Nil
          case other => Seq(s"${t.name}: count report $other, expected ${t.n}")
        }
      }
    }
    names.foreach { t =>
      ctx.op(s"verify.checksum:$t", "verify.checksums") {
        Comparator.compareChecksums(ctx.spark, src, m.destSource, t)
      } { same => if (same) Nil else Seq("source and destination checksums differ") }
    }
    verifyLog += ((p, (System.nanoTime() - v0) / 1e9))
  }

  // Stopping the destination checkpoints it to disk: that is the
  // database's cost, not the migration's.
  override def endPass(ctx: Ctx, p: Int): Unit = {
    val destDir = new java.io.File(ctx.work, s"dest-$p")
    shutdownDb(s"jdbc:derby:${destDir.getAbsolutePath}")
    org.apache.commons.io.FileUtils.deleteQuietly(destDir)
  }

  def finalChecks(ctx: Ctx): Unit = {
    // The checksum the engine compares must itself see the generated
    // data: the source read back equals what the generator emitted.
    val t = tables.find(_.name == "orders").get
    val expected = rows(t, seed).map(_(0).asInstanceOf[Long]).sum
    val got = src.table(ctx.spark, t.name)
      .agg(org.apache.spark.sql.functions.sum(col("o_orderkey"))).collect()(0).getLong(0)
    ctx.check("source-content", if (got == expected) Nil
      else Seq(s"orders key sum $got, generator emitted $expected"))
  }

  override def layerProbes(ctx: Ctx): Unit = {
    ctx.setPass(Layers.ProbePass)
    tables.foreach { t =>
      ctx.tracer.span("sources.read") {
        src.table(ctx.spark, t.name).write.format("noop").mode("overwrite").save()
      }
    }
    val destDir = new java.io.File(ctx.work, "dest-probe")
    val url = s"jdbc:derby:${destDir.getAbsolutePath}"
    val dest = JdbcDest(url + ";create=true", new java.util.Properties(),
      batchRowSize = 5000, maxConnections = 16)
    tables.foreach { t =>
      val local = src.table(ctx.spark, t.name).localCheckpoint(eager = true)
      ctx.tracer.span("sinks.insert")(dest.write(local, t.name))
    }
    shutdownDb(url)
    org.apache.commons.io.FileUtils.deleteQuietly(destDir)
  }

  def layerMetrics(ctx: Ctx, traced: Seq[Int]): Map[String, Double] = {
    val t = ctx.tracer
    val probe = Seq(Layers.ProbePass)
    val readS = Layers.selfS(t, "sources.read", probe)
    val insertS = Layers.selfS(t, "sinks.insert", probe)
    val sync = syncLog.filter(r => traced.contains(r._1))
    val verifyCounts = Layers.selfS(t, "verify.counts", traced)
    val verifyChecksums = Layers.selfS(t, "verify.checksums", traced)
    Map(
      "sources.read_s" -> readS,
      "sources.rows_per_s" -> (if (readS > 0) rowsPerPass / readS else 0.0),
      "sources.partitions" -> Layers.count(t, "migrate.sync", traced)(_.sourceTasks),
      "sinks.insert_s" -> insertS,
      "sinks.rows_per_s" -> (if (insertS > 0) rowsPerPass / insertS else 0.0),
      "sinks.write_tasks" -> Layers.count(t, "migrate.sync", traced)(_.tasks),
      "Migrator.table_max_s" -> Stats.median(sync.map(_._3).toSeq),
      "Migrator.straggler_share" -> Stats.median(sync.map(r => r._3 / r._2).toSeq),
      "migrate.sync_s" -> Layers.selfS(t, "migrate.sync", traced),
      "migrate.verify_s" -> (verifyCounts + verifyChecksums),
      "ddl.generate_s" -> Layers.selfS(t, "ddl.generate", traced),
      "verify.counts_s" -> verifyCounts,
      "verify.checksums_s" -> verifyChecksums,
      "verify.jobs" -> (Layers.count(t, "verify.counts", traced)(_.jobs) +
        Layers.count(t, "verify.checksums", traced)(_.jobs)))
  }

  override def figures: Seq[(String, Double)] = {
    val timed = syncLog.filter(_._1 >= 0)
    if (timed.isEmpty) Nil
    else Seq(
      "sync_s" -> Stats.median(timed.map(_._2).toSeq),
      "verify_s" -> Stats.median(verifyLog.filter(_._1 >= 0).map(_._2).toSeq))
  }

  def close(ctx: Ctx): Unit = if (setups > 0) dropMemoryDb(srcUrl)
}

object Migrate {
  /** Fraction of TPC-H sf1 row counts. The published reference run is
    * sf0.1-shaped; this size keeps one pass near three seconds on four
    * cores, so a run measures several passes.
    */
  val Scale = 0.01

  final case class Table(name: String, cols: Seq[(String, String)], n: Int,
      row: (SplittableRandom, Int) => Array[Any])

  private val Words = Array("furious", "sly", "careful", "blithe", "quick", "fluffy",
    "slow", "quiet", "ruthless", "thin", "close", "dogged", "daring", "brave",
    "stealthy", "permanent", "enticing", "idle", "busy", "regular", "final",
    "ironic", "even", "bold", "silent", "pending", "express", "special")

  private def text(r: SplittableRandom, maxLen: Int): String = {
    val sb = new StringBuilder
    val target = 8 + r.nextInt(math.max(1, maxLen - 8))
    while (sb.length < target) {
      if (sb.nonEmpty) sb += ' '
      sb ++= Words(r.nextInt(Words.length))
    }
    sb.take(maxLen).toString
  }
  private def money(r: SplittableRandom, lo: Int, hi: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(lo * 100L + r.nextLong((hi - lo) * 100L), 2)
  private def day(r: SplittableRandom): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.of(1992, 1, 1).plusDays(r.nextInt(2400)))
  private def pick(r: SplittableRandom, xs: String*): String = xs(r.nextInt(xs.length))
  private def phone(r: SplittableRandom): String =
    f"${10 + r.nextInt(25)}-${r.nextInt(900) + 100}-${r.nextInt(900) + 100}-${r.nextInt(9000) + 1000}"

  private val Dec = "DECIMAL(12,2)"

  /** region…lineitem plus events, row counts at `sf` of TPC-H sf1. */
  def schema(sf: Double): Seq[Table] = {
    def n(base: Double) = math.max(1, math.round(base * sf).toInt)
    val supp = n(10000); val cust = n(150000); val part = n(200000)
    val ord = n(1500000)
    Seq(
      Table("region", Seq("r_regionkey" -> "INTEGER", "r_name" -> "VARCHAR(25)",
        "r_comment" -> "VARCHAR(152)"), 5,
        (r, i) => Array(i, s"REGION#$i", text(r, 152))),
      Table("nation", Seq("n_nationkey" -> "INTEGER", "n_name" -> "VARCHAR(25)",
        "n_regionkey" -> "INTEGER", "n_comment" -> "VARCHAR(152)"), 25,
        (r, i) => Array(i, s"NATION#$i", i % 5, text(r, 152))),
      Table("supplier", Seq("s_suppkey" -> "BIGINT", "s_name" -> "VARCHAR(25)",
        "s_address" -> "VARCHAR(40)", "s_nationkey" -> "INTEGER", "s_phone" -> "VARCHAR(15)",
        "s_acctbal" -> Dec, "s_comment" -> "VARCHAR(101)"), supp,
        (r, i) => Array(i.toLong + 1, f"Supplier#${i + 1}%09d", text(r, 40), r.nextInt(25),
          phone(r), money(r, -999, 9999), text(r, 101))),
      Table("customer", Seq("c_custkey" -> "BIGINT", "c_name" -> "VARCHAR(25)",
        "c_address" -> "VARCHAR(40)", "c_nationkey" -> "INTEGER", "c_phone" -> "VARCHAR(15)",
        "c_acctbal" -> Dec, "c_mktsegment" -> "VARCHAR(10)", "c_comment" -> "VARCHAR(117)"), cust,
        (r, i) => Array(i.toLong + 1, f"Customer#${i + 1}%09d", text(r, 40), r.nextInt(25),
          phone(r), money(r, -999, 9999),
          pick(r, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), text(r, 117))),
      Table("part", Seq("p_partkey" -> "BIGINT", "p_name" -> "VARCHAR(55)",
        "p_brand" -> "VARCHAR(10)", "p_type" -> "VARCHAR(25)", "p_size" -> "INTEGER",
        "p_container" -> "VARCHAR(10)", "p_retailprice" -> Dec, "p_comment" -> "VARCHAR(23)"), part,
        (r, i) => Array(i.toLong + 1, text(r, 55), s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
          pick(r, "STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO") + " " +
            pick(r, "ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED") + " " +
            pick(r, "TIN", "NICKEL", "BRASS", "STEEL", "COPPER"),
          1 + r.nextInt(50), pick(r, "SM CASE", "LG BOX", "MED PACK", "JUMBO JAR", "WRAP BAG"),
          money(r, 900, 2000), text(r, 23))),
      Table("partsupp", Seq("ps_partkey" -> "BIGINT", "ps_suppkey" -> "BIGINT",
        "ps_availqty" -> "INTEGER", "ps_supplycost" -> Dec, "ps_comment" -> "VARCHAR(199)"), 4 * part,
        (r, i) => Array(i.toLong / 4 + 1, (i.toLong / 4 + (i % 4) * (supp / 4 + 1)) % supp + 1,
          1 + r.nextInt(9999), money(r, 1, 1000), text(r, 199))),
      Table("orders", Seq("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT",
        "o_orderstatus" -> "VARCHAR(1)", "o_totalprice" -> Dec, "o_orderdate" -> "DATE",
        "o_orderpriority" -> "VARCHAR(15)", "o_clerk" -> "VARCHAR(15)",
        "o_shippriority" -> "INTEGER", "o_comment" -> "VARCHAR(79)"), ord,
        (r, i) => Array(i.toLong * 4 + 1, 1L + r.nextInt(cust), pick(r, "O", "F", "P"),
          money(r, 800, 500000), day(r), pick(r, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          f"Clerk#${1 + r.nextInt(1000)}%09d", 0, text(r, 79))),
      Table("lineitem", Seq("l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT",
        "l_suppkey" -> "BIGINT", "l_linenumber" -> "INTEGER", "l_quantity" -> Dec,
        "l_extendedprice" -> Dec, "l_discount" -> Dec, "l_tax" -> Dec,
        "l_returnflag" -> "VARCHAR(1)", "l_linestatus" -> "VARCHAR(1)", "l_shipdate" -> "DATE",
        "l_commitdate" -> "DATE", "l_receiptdate" -> "DATE", "l_shipinstruct" -> "VARCHAR(25)",
        "l_shipmode" -> "VARCHAR(10)", "l_comment" -> "VARCHAR(44)"), 4 * ord,
        (r, i) => Array((i / 4).toLong * 4 + 1, 1L + r.nextInt(part), 1L + r.nextInt(supp), i % 4 + 1,
          money(r, 1, 50), money(r, 900, 100000), java.math.BigDecimal.valueOf(r.nextInt(11).toLong, 2),
          java.math.BigDecimal.valueOf(r.nextInt(9).toLong, 2),
          pick(r, "R", "A", "N"), pick(r, "O", "F"), day(r), day(r), day(r),
          pick(r, "DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"),
          pick(r, "REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"), text(r, 44))),
      Table("events", Seq("e_id" -> "BIGINT", "e_user" -> "BIGINT", "e_kind" -> "VARCHAR(16)",
        "e_ts" -> "TIMESTAMP", "e_value" -> "DOUBLE"), ord,
        (r, i) => Array(i.toLong, 1L + r.nextInt(cust), pick(r, "view", "click", "cart", "buy", "return"),
          new java.sql.Timestamp(694224000000L + r.nextLong(200000000000L) / 1000 * 1000),
          math.round(r.nextDouble() * 1e6) / 100.0))
    )
  }

  /** Rows of `t` for `seed`: a fresh stream per table, so tables do not
    * shift when another table's size changes.
    */
  def rows(t: Table, seed: Long): Iterator[Array[Any]] = {
    val r = Gen.rng(seed, t.name.hashCode.toLong)
    Iterator.range(0, t.n).map(i => t.row(r, i))
  }

  private def dropMemoryDb(url: String): Unit =
    try { java.sql.DriverManager.getConnection(url + ";drop=true"); () }
    catch { case _: java.sql.SQLException => () } // 08006: dropped

  private def shutdownDb(url: String): Unit =
    try { java.sql.DriverManager.getConnection(url + ";shutdown=true"); () }
    catch { case _: java.sql.SQLException => () } // 08006: stopped
}
