package graft.cli

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Migrator}
import graft.config.SyncConfig
import graft.ddl.{DdlGenerator, DdlScript}
import graft.sources.FixtureSource
import graft.verify.Comparator

/** Engine CLI — subcommand surface mirroring the reference's cobra
  * commands (cmd/root.go, cmd/create.go, cmd/compare.go, cmd/version.go):
  *
  *   sync        full migration: DDL + data + verify    (root.go:40-45)
  *   createTable schema only (`-m`-style plan file opt) (create.go:28-83)
  *   onlyData    data only                              (create.go:85-193)
  *   compareDb   per-table count verification           (compare.go:23-100)
  *   version     build info                             (version.go)
  *
  * Sources/destinations are parquet directories here (the test stand-in
  * for the JDBC endpoints; JdbcSource plugs into the same pipeline).
  */
object Main {

  private val usage =
    """graft <command> [options]
      |  sync        --src <dir> --dest <dir|jdbc:url> [--exclude t1,t2]
      |              [--config f.yml] [--selected true] [--logDir <dir>]
      |  createTable --src <dir> --script <out.sql>
      |  onlyData    --src <dir> --dest <dir|jdbc:url> [--exclude t1,t2] [--selected true]
      |  compareDb   --src <dir> --dest <dir|jdbc:url> [--deep true]
      |
      |jdbc: destinations accept --destUser u --destPassword p when the
      |credentials are not embedded in the URL (sync/onlyData/compareDb).
      |  analyze     --src <dir> [--table documents] [--out <dir>]
      |  version
      |
      |--selected: copy only the tables in the config's tables: map (the
      |reference's -s selFromYml); --logDir: write createSql/run/error
      |category logs there (reference log files).
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(usage); sys.exit(2) }
    val cmd = args.head
    val opts = parseOpts(args.tail)
    if (cmd == "version") { println("graft 0.1.0 (Spark " +
      org.apache.spark.SPARK_VERSION + ")"); return }

    val spark = GraftSession.local("graft-cli")
    try {
      cmd match {
        case "sync"        => sync(spark, opts, ddl = true, data = true)
        case "onlyData"    => sync(spark, opts, ddl = false, data = true)
        case "createTable" => createTable(spark, opts)
        case "compareDb"   => compareDb(spark, opts)
        case "analyze"     => analyze(spark, opts)
        case other =>
          System.err.println(s"unknown command: $other\n$usage"); sys.exit(2)
      }
    } finally spark.stop()
  }

  private def parseOpts(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap

  private def require(opts: Map[String, String], key: String): String =
    opts.getOrElse(key, { System.err.println(s"missing --$key\n$usage"); sys.exit(2) })

  /** A jdbc: destination routes through the batched JDBC writer
    * (quoting sniffed from the URL — backticks for MySQL-kernel
    * targets, ANSI elsewhere; credentials via --destUser/--destPassword
    * when not URL-embedded); anything else is a parquet directory.
    */
  private def destFor(dest: String, opts: Map[String, String]): graft.sinks.TableDest =
    if (dest.startsWith("jdbc:")) {
      val props = new java.util.Properties()
      opts.get("destUser").foreach(props.setProperty("user", _))
      opts.get("destPassword").foreach(props.setProperty("password", _))
      graft.sinks.JdbcDest(dest, props)
    } else graft.sinks.ParquetDest(dest)

  private def config(opts: Map[String, String]): SyncConfig = {
    val base = opts.get("config").map(SyncConfig.load).getOrElse(SyncConfig())
    opts.get("exclude")
      .map(e => base.copy(exclude = base.exclude ++ e.split(",").map(_.trim)))
      .getOrElse(base)
  }

  private def sync(spark: SparkSession, opts: Map[String, String],
      ddl: Boolean, data: Boolean): Unit = {
    val src = FixtureSource(require(opts, "src"))
    val dest = require(opts, "dest")
    val cfg = config(opts)
    val logs = opts.get("logDir").map(new graft.sinks.RunLogs(_))
      .getOrElse(graft.sinks.RunLogs.noop)
    val t0 = System.nanoTime()
    val m = new Migrator(spark, src, destFor(dest, opts), cfg, logs)
    val results =
      if (opts.get("selected").exists(_.toBoolean)) m.runSelected() else m.run()
    val secs = (System.nanoTime() - t0) / 1e9
    // reference-style summary report (root.go:177-203)
    println(f"${"table"}%-20s ${"rows"}%10s ${"seconds"}%10s  ok")
    results.sortBy(_.table).foreach { r =>
      println(f"${r.table}%-20s ${r.rows}%10d ${r.seconds}%10.3f  ${if (r.ok) "YES" else "NO: " + r.error.getOrElse("")}")
    }
    println(f"TableData total: $secs%.3f s, failed: ${results.count(!_.ok)}")
    println("compare:")
    m.compare().orderBy("table_name").show(100, truncate = false)
  }

  private def createTable(spark: SparkSession, opts: Map[String, String]): Unit = {
    import spark.implicits._
    val src = FixtureSource(require(opts, "src"))
    val script = new DdlScript
    val ddl = src.tableNames(spark).map { t =>
      // one schema probe per table — each probe is a metadata round-trip
      // on the JDBC twin
      val drop = DdlGenerator.dropTable(t)
      val create = DdlGenerator.createTable(t, src.probe(spark, t).schema)
      script.add(drop)
      script.add(create)
      (t, drop + ";\n" + create + ";")
    }.toDF("table_name", "sql_cmd")
    val out = opts.getOrElse("script", "createSql.log")
    script.writeTo(out)
    // executor sink with the reference's per-category report
    // (cmd/create.go:88-101): plan-only here (no JDBC endpoint in the
    // parquet stand-in) — statements are logged, counted and timed
    val logs = opts.get("logDir").map(new graft.sinks.RunLogs(_))
      .getOrElse(graft.sinks.RunLogs.noop)
    val executor = new graft.sinks.DdlExecutor(
      new graft.sinks.StatementExecutor.Recording(), logs, metaDataOnly = true)
    val reports = executor.executeAll(Seq("Table" -> ddl))
    graft.sinks.DdlExecutor.reportDf(spark, reports).show(truncate = false)
    println(s"wrote ${script.all.size} DDL statements to $out")
  }

  /** Training-data analysis over a document table: annotate every row
    * with the text-analysis battery, report exact-duplicate groups and
    * verified near-duplicate pairs, optionally write the annotated table.
    */
  private def analyze(spark: SparkSession, opts: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions._
    val src = FixtureSource(require(opts, "src"))
    val tableName = opts.getOrElse("table", "documents")
    val docs = src.table(spark, tableName)
    val idCol = docs.columns.head
    val annotated = graft.operators.TextAnalysis.analyze(docs)

    val dupGroups = graft.operators.Dedup
      .exactGroups(docs, idCol, "text").filter(col("dup_count") > 1).count()
    val nearPairs = graft.operators.Dedup
      .minhashNearDupPairs(docs, idCol, "text").count()
    val profile = Comparator.columnProfile(docs.select(idCol, "text"))

    println(s"table=$tableName rows=${docs.count()}")
    println(s"exact-duplicate groups: $dupGroups")
    println(s"near-duplicate pairs (jaccard >= 0.7): $nearPairs")
    println("column profile:")
    profile.show(truncate = false)
    annotated.select(idCol, "ta_n_tokens", "ta_quality", "ta_lang")
      .orderBy(col("ta_quality").desc).show(10, truncate = false)
    opts.get("out").foreach { out =>
      annotated.write.mode("overwrite").parquet(s"$out/${tableName}_analyzed.parquet")
      println(s"annotated table written to $out/${tableName}_analyzed.parquet")
    }
  }

  private def compareDb(spark: SparkSession, opts: Map[String, String]): Unit = {
    val src = FixtureSource(require(opts, "src"))
    // a jdbc: destination re-verifies through the same read-back source
    // the sync's in-process compare used
    val dest = destFor(require(opts, "dest"), opts).asSource
    val tables = src.tableNames(spark)
    val report = Comparator.compareCounts(spark, src, dest, tables)
    report.orderBy("table_name").show(100, truncate = false)
    // --deep: beyond the reference's count compare — exact content
    // checksums per table (order-insensitive hash sums)
    if (opts.get("deep").exists(_.toBoolean)) {
      val bad = tables.filterNot(t =>
        try Comparator.compareChecksums(spark, src, dest, t)
        catch { case _: Exception => false })
      if (bad.nonEmpty) {
        println(s"CHECKSUM MISMATCH: ${bad.mkString(", ")}")
        sys.exit(1)
      } else println(s"checksums OK for ${tables.size} tables")
    }
    val failed = Comparator.failures(report)
    if (failed.count() > 0) {
      println("FAILED tables:")
      failed.orderBy("table_name").show(100, truncate = false)
      sys.exit(1)
    } else println("all tables OK")
  }
}
