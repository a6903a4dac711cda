package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** JSONL / CSV corpus ingestion must be LOSSLESS — every hazard class a
  * real web-crawl corpus contains has to survive write→read bit-exact,
  * and null must stay distinct from the empty string. A codec that
  * conflates them corrupts a corpus silently, which is why each case
  * here asserts exact row equality rather than counts.
  */
class TextFormatsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("text", StringType),
    StructField("tag", StringType)))

  // one row per hazard class; id keys the assertion messages
  private val hazardRows = Seq(
    Row(1L, "plain words", "t"),
    Row(2L, "embedded\nnewline and\r\ncrlf", "t"),
    Row(3L, "quote \" double \"\" backslash \\ end", "t"),
    Row(4L, "comma, semicolon; tab\there", "t"),
    Row(5L, "unicode ☃ é 🦄 中文", "t"),
    Row(6L, "null tag below", null),
    Row(7L, "empty tag below", ""),
    Row(8L, "", "empty text"),
    Row(9L, "looks like the null token \\N inside", "t"),
    Row(10L, "trailing space ", " leading space"))

  private def hazardDf = spark.createDataFrame(
    spark.sparkContext.parallelize(hazardRows, 2), schema)

  private def collectById(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.orderBy("id").collect().toSeq

  test("JSONL round-trip is lossless across every hazard class") {
    val dir = java.nio.file.Files.createTempDirectory("tf_jsonl").toString
    val path = TextFormats.writeJsonl(hazardDf, dir, "hazard")
    val back = TextFormats.readJsonl(spark, path, schema)
    assert(collectById(back) === collectById(hazardDf))
  }

  test("CSV round-trip is lossless, including null vs empty string") {
    val dir = java.nio.file.Files.createTempDirectory("tf_csv").toString
    val path = TextFormats.writeCsv(hazardDf, dir, "hazard")
    val back = TextFormats.readCsv(spark, path, schema)
    assert(collectById(back) === collectById(hazardDf))
    // the distinction the default CSV options lose
    val byId = collectById(back).map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId(6L) == null, "null must read back as null")
    assert(byId(7L) == "", "empty string must read back as empty, not null")
  }

  test("XML round-trip is lossless, including CR (parser-normalized) and null vs empty") {
    val dir = java.nio.file.Files.createTempDirectory("tf_xml").toString
    val path = TextFormats.writeXml(hazardDf, dir, "hazard")
    val back = TextFormats.readXml(spark, path, schema)
    assert(collectById(back) === collectById(hazardDf))
    val byId = collectById(back).map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId(6L) == null, "null must read back as null")
    assert(byId(7L) == "", "empty string must read back as empty, not null")
    // the XML-specific hazard: a conformant parser normalizes raw \r\n
    // -> \n in element content, so row 2 only survives because the
    // writer emits CR as the &#xd; character reference
    val texts = collectById(back).map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(2L) == "embedded\nnewline and\r\ncrlf", texts(2L))
  }

  test("JSONL shards are gzip-compressed and re-shardable via minShards") {
    val dir = java.nio.file.Files.createTempDirectory("tf_gz").toString
    val path = TextFormats.writeJsonl(hazardDf, dir, "hazard")
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.getName.endsWith(".json.gz")))
    val fanned = TextFormats.readJsonl(spark, path, schema, minShards = 4)
    assert(fanned.rdd.getNumPartitions >= 4)
    assert(collectById(fanned) === collectById(hazardDf))
  }

  test("FAILFAST: a malformed JSONL shard fails the read, not nulls it") {
    val dir = java.nio.file.Files.createTempDirectory("tf_bad")
    val f = dir.resolve("part-00000.json")
    java.nio.file.Files.write(f,
      "{\"id\":1,\"text\":\"ok\",\"tag\":\"t\"}\nnot json at all\n".getBytes("UTF-8"))
    val ex = intercept[Exception] {
      TextFormats.readJsonl(spark, dir.toString, schema).count()
    }
    assert(ex.getMessage != null)
  }

  test("round-trip gates run against the fixture documents table") {
    // the q_k2/q_k3 shapes end-to-end at sf0.001: decorated text incl.
    // the hazard suffix must hash-match the pre-write frame
    import graft.SparkEntry
    Seq("q_k2_jsonl_roundtrip", "q_k3_csv_roundtrip",
      "q_k5_xml_roundtrip").foreach { q =>
      val out = SparkEntry.queries(q)(spark, sfDir)
      val docs = table("documents")
      assert(out.count() === docs.count(), s"$q row count")
      // text must end with the CRLF-bearing suffix after the round-trip
      val tail = out.select(substring_index(col("text"), "☃", -1))
        .limit(1).collect()(0).getString(0)
      assert(tail.contains("\r\nend"), s"$q lost the CRLF hazard")
    }
  }
}
