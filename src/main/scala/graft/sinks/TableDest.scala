package graft.sinks

import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{FixtureSource, JdbcSource, TableSource}

/** The two identifier-quoting conventions the engine speaks, in ONE
  * place: write path, read-back path, and CLI must stay mutually
  * consistent or verification silently diverges from the copy.
  *
  * Proof status per branch (the sandbox ships an embedded Derby engine
  * but no MySQL kernel): the ANSI branch is LIVE-PROVEN — every JDBC
  * surface executes against real Derby in DerbyLiveJdbcSpec; the
  * MySQL-kernel branch (backticks, the reference's actual destination)
  * is GOLDEN-PINNED — DialectMatrixSpec asserts the exact generated
  * DDL/TRUNCATE/DELETE text, quoting escapes, URL sniffing, and the
  * 65535-placeholder batch clamp for a fixed table meta, and
  * FakeJdbcSpec captures the statement stream shape end-to-end.
  */
object SqlQuote {
  /** ANSI double quotes (Derby, Postgres, Oracle); embedded double
    * quotes double, per the standard — identifiers flow in verbatim
    * from source listings, so the quoter must not trust them.
    */
  val ansi: String => String = n => "\"" + n.replace("\"", "\"\"") + "\""
  /** MySQL-kernel backticks (the reference's destination); embedded
    * backticks double, per the MySQL identifier rules.
    */
  val backtick: String => String = n => "`" + n.replace("`", "``") + "`"

  /** URL-sniffed default for a JDBC destination. */
  def forUrl(url: String): String => String =
    if (url.startsWith("jdbc:mysql") || url.startsWith("jdbc:mariadb")) backtick
    else ansi
}

/** Destination abstraction for [[graft.Migrator]]: where each table's
  * copy lands, plus how to read the destination back for `compareDb`
  * verification. Two implementations mirror the two source kinds —
  * [[ParquetDest]] (the fixture/test destination) and [[JdbcDest]]
  * (the production path: batched truncate+insert through
  * [[BatchWriter.writeJdbc]], exercised live against embedded Derby in
  * DerbyLiveJdbcSpec).
  */
trait TableDest {
  def write(df: DataFrame, name: String): Unit

  /** The destination as a readable [[TableSource]], for count/checksum
    * verification after the copy.
    */
  def asSource: TableSource
}

/** Parquet-directory destination: `<dir>/<name>.parquet` per table. */
final case class ParquetDest(dir: String) extends TableDest {
  def write(df: DataFrame, name: String): Unit =
    BatchWriter.writeParquet(df, dir, name)
  def asSource: TableSource = FixtureSource(dir)
}

/** JDBC destination: each table lands through the batched
  * truncate-before-load writer (the table is created by Spark's
  * dialect on first load when absent). `quoteIdent` defaults from the
  * URL ([[SqlQuote.forUrl]]: backticks for MySQL-kernel targets, ANSI
  * double quotes elsewhere), preserving the source's lowercase table
  * names verbatim on case-folding engines.
  *
  * `array<float>` columns (no portable JDBC type) ride the
  * [[ArrayCarrier]] convention: packed to float32-LE binary under a
  * `__arr_f32le`-suffixed name on write, unpacked and renamed back by
  * [[asSource]] — so vector tables sync and verify like any other.
  */
final case class JdbcDest(
    url: String,
    props: java.util.Properties,
    batchRowSize: Int = 1000,
    maxConnections: Int = 100,
    quoteIdentOverride: Option[String => String] = None
) extends TableDest {
  val quoteIdent: String => String =
    quoteIdentOverride.getOrElse(SqlQuote.forUrl(url))

  def write(df: DataFrame, name: String): Unit =
    BatchWriter.writeJdbc(ArrayCarrier.pack(df), url, quoteIdent(name), props,
      batchRowSize, maxConnections)

  /** Read-back source for verification. NOT a plain
    * [[graft.sources.JdbcSource]]: that models an Oracle-STYLE source
    * (its table list comes from the `user_tables` dictionary, its
    * quoting is fixed ANSI), while a destination must be listable on
    * ANY engine and must read back through the SAME `quoteIdent` the
    * writes used — otherwise `compareDb` crashes on engines without
    * the Oracle dictionary, or reads a differently-folded identifier
    * than the one written. Listing goes through the dialect-neutral
    * JDBC `DatabaseMetaData.getTables` instead; the row count is one
    * pushed `select count(*)` under the same `quoteIdent`.
    */
  def asSource: TableSource = new TableSource {
    override def tableNames(spark: SparkSession): Seq[String] = {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        // scope the listing to the CONNECTION's catalog/schema — null
        // patterns would list every schema the connection can see, and
        // a same-named table elsewhere would fake dest-exists for a
        // table this destination never received
        val rs = conn.getMetaData.getTables(
          conn.getCatalog, conn.getSchema, "%", Array("TABLE"))
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (rs.next()) buf += rs.getString("TABLE_NAME")
        buf.toSeq
      } finally conn.close()
    }
    override def table(spark: SparkSession, name: String): DataFrame =
      ArrayCarrier.unpack(spark.read.jdbc(url, quoteIdent(name), props))
    override def rowCount(spark: SparkSession, name: String,
        timeout: FiniteDuration): Long =
      JdbcSource.pushedCount(url, props, quoteIdent(name), timeout)
  }
}
