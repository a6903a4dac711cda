package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Text-format corpus ingestion: JSONL and CSV, round-trip lossless.
  *
  * Raw LLM training data rarely arrives as parquet — web-crawl and
  * vendor drops land as JSONL (one JSON object per line, usually
  * gzip/zstd shards) or CSV. The reference engine's ingestion surface is
  * JDBC-only (OracleSync2MySQL reads tables, not files), so this module
  * is part of the training-pipeline extension surface, not §2 parity.
  *
  * Losslessness is the whole game: a codec that silently conflates
  * null with empty string, eats embedded newlines, or mangles quotes
  * corrupts the corpus without failing. Both readers therefore take an
  * EXPLICIT schema and run FAILFAST — a malformed shard should kill the
  * job, not dissolve into nulls — and the round-trip correctness gates
  * (`q_k2_jsonl_roundtrip` / `q_k3_csv_roundtrip`) push hazard
  * characters (embedded newlines, CRLF, quotes, backslashes, commas,
  * tabs, astral-plane unicode, null vs empty string) through
  * write→read and hash-compare against the source of truth.
  *
  * Scale notes (100 TB):
  *  - Explicit schema, never inference: `spark.read.json(path)` with no
  *    schema runs a FULL extra pass over the data just to infer types.
  *    At 100 TB that doubles the ingest cost; at any scale it can infer
  *    a different type per run (a column that happens to be all-digits
  *    in one shard). The schema is a contract, not a discovery.
  *  - Parallelism comes from shard COUNT, not intra-file splits:
  *    compressed text shards (gzip/deflate/lz4 in this Hadoop runtime;
  *    zstd where the native codec is present) are not splittable, and
  *    multiLine CSV is never splittable even uncompressed. A corpus
  *    should land as many ~256 MB shards; one 100 GB .jsonl.gz is a
  *    single-task straggler. `minShards` repartitions AFTER read so a
  *    badly-sharded drop still fans out for downstream work.
  *  - JSONL over CSV when there is a choice: line-per-record JSON
  *    escapes newlines as `\n` inside the value, so uncompressed JSONL
  *    stays newline-splittable even with hazard-laden text; CSV needs
  *    multiLine (non-splittable) the moment any value embeds a newline.
  */
object TextFormats {

  /** Fan a badly-sharded drop out to at least `minShards` partitions.
    * The partition-count probe reads `queryExecution.toRdd` — the
    * canonical physical RDD already cached on the plan (computing its
    * partition array lists files but runs no job) — NOT `df.rdd`,
    * which builds a SECOND lineage with a row-deserialization layer
    * just to read a number (the conversion
    * [[graft.sinks.BatchWriter.cappedForWrite]]'s house rule removed).
    */
  private def withMinShards(df: DataFrame, minShards: Int): DataFrame =
    if (minShards > 0 && df.queryExecution.toRdd.getNumPartitions < minShards)
      df.repartition(minShards)
    else df

  /** Null sentinel for CSV: Spark's default writes null as an empty
    * unquoted field, which is indistinguishable from the empty string
    * on read. An explicit out-of-band token keeps `null` and `""`
    * distinct through the round-trip (the fixture text is word-salad
    * and never contains it; a real corpus would pick a rarer token or
    * stay on JSONL, which has a native null).
    */
  val CsvNullToken = "\\N"

  /** Write one JSONL table: `dir/table.jsonl/part-*.json[.gz]`.
    * Field order follows the schema; null fields are written explicitly
    * (ignoreNullFields=false) so a reader without the schema contract
    * still sees every column on every line.
    */
  def writeJsonl(df: DataFrame, dir: String, table: String,
      codec: String = "gzip"): String = {
    val path = s"$dir/$table.jsonl"
    df.write.mode(SaveMode.Overwrite)
      .option("compression", codec)
      .option("ignoreNullFields", "false")
      .json(path)
    path
  }

  /** Read a JSONL shard directory with a contracted schema. FAILFAST:
    * a line that doesn't parse, or a field that doesn't fit its type,
    * fails the task instead of landing as a silent null row.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
      minShards: Int = 0): DataFrame = {
    val df = spark.read.schema(schema)
      .option("mode", "FAILFAST")
      .json(path)
    withMinShards(df, minShards)
  }

  /** Write one CSV table: `dir/table.csv/part-*.csv[.gz]`. RFC-4180
    * quoting (quote doubled by escape=quote), explicit null sentinel,
    * header row per shard.
    */
  def writeCsv(df: DataFrame, dir: String, table: String,
      codec: String = "gzip"): String = {
    val path = s"$dir/$table.csv"
    df.write.mode(SaveMode.Overwrite)
      .option("compression", codec)
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"") // RFC 4180: embedded quotes are doubled
      .option("nullValue", CsvNullToken)
      // Spark's CSV writer TRIMS unquoted leading/trailing whitespace by
      // default (ignore*WhiteSpace=true on write) — silent corruption for
      // text columns; the round-trip gate caught exactly this
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)
    path
  }

  /** Read a CSV shard directory with a contracted schema. multiLine
    * handles values with embedded newlines (at the cost of per-file
    * tasks — see scale notes); FAILFAST as for JSONL.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      minShards: Int = 0): DataFrame = {
    val df = spark.read.schema(schema)
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("nullValue", CsvNullToken)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("multiLine", "true")
      .option("mode", "FAILFAST")
      .csv(path)
    withMinShards(df, minShards)
  }

  /** Null sentinel for XML, same rationale as [[CsvNullToken]]: an
    * absent element and an empty element are both plausible encodings
    * of null, and implementations disagree — an out-of-band token
    * keeps `null` and `""` distinct through the round-trip.
    */
  val XmlNullToken = "\\N"

  /** Write one XML table via Spark 4's native XML source:
    * `dir/table.xml/part-*.xml[.gz]`, one `<row>` element per record
    * under a `<rows>` root per shard.
    *
    * CR needs no codec-side protection here, but only because the
    * writer earns it: XML 1.0 end-of-line rules make every conformant
    * PARSER normalize `\r\n` and bare `\r` to `\n` in element content,
    * and Spark's StAX generator emits CR as the character reference
    * `&#xd;` — which parsers do NOT normalize — so CRLF text
    * round-trips bit-exact (the hazard gate pins it; a writer that
    * emitted the raw byte would corrupt silently).
    */
  def writeXml(df: DataFrame, dir: String, table: String,
      codec: String = "gzip"): String = {
    val path = s"$dir/$table.xml"
    df.write.mode(SaveMode.Overwrite)
      .format("xml")
      .option("rowTag", "row")
      .option("rootTag", "rows")
      .option("compression", codec)
      .option("nullValue", XmlNullToken)
      .option("declaration", "version=\"1.0\" encoding=\"UTF-8\"")
      .save(path)
    path
  }

  /** Read an XML shard directory with a contracted schema. Surrounding
    * whitespace is significant (ignoreSurroundingSpaces=false — the
    * reader default TRIMS element text, the same silent corruption the
    * CSV writer defaults had); FAILFAST as for JSONL/CSV.
    */
  def readXml(spark: SparkSession, path: String, schema: StructType,
      minShards: Int = 0): DataFrame = {
    val df = spark.read.schema(schema)
      .format("xml")
      .option("rowTag", "row")
      .option("nullValue", XmlNullToken)
      .option("ignoreSurroundingSpaces", "false")
      .option("mode", "FAILFAST")
      .load(path)
    withMinShards(df, minShards)
  }
}
