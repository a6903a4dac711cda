package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixture scale-up: builds an `sf × factor` dataset from
  * an existing testdata directory by unioning `factor` key-shifted
  * copies of every table — the harness behind the sf1 scale soak
  * (BENCH params `soak`), which converts the "would survive 100×"
  * plan-audit arguments into measured sf0.1 → sf1 ratios.
  *
  * The copies are NOT verbatim: verbatim replication would change the
  * statistical character of the workload, not just its size —
  *  - 10 verbatim copies of `documents` turn every doc into a 10-way
  *    exact/near-dup cluster: pair-emitting operators would output
  *    45 pairs per doc (O(factor²) growth), which measures an
  *    artificial duplicate explosion, not scaling. Instead each copy
  *    i>0 prefixes every whitespace token with `c$i`, so copies share
  *    ZERO shingles: the near-dup graph of each copy is an exact image
  *    of the original's, and collision counts scale linearly — the
  *    behavior real crawl growth exhibits.
  *  - 10 verbatim copies of `embeddings` place every vector exactly on
  *    top of its 9 twins (cosine 1.0, the same O(factor²) explosion).
  *    Instead each copy applies a copy-specific ±1 sign pattern across
  *    dimensions — an ISOMETRY, so every within-copy inner product
  *    (cluster geometry, neighbor ranks) is preserved exactly, while
  *    two different copies' patterns disagree on ~half the dimensions,
  *    landing cross-copy cosines near 0.
  *  - TPC-H tables shift all primary AND foreign keys by the same
  *    per-copy offset, so referential integrity holds within each copy
  *    and join fan-outs are unchanged.
  *  - `region`/`nation` stay fixed (constant-size dimensions, as in
  *    TPC-H proper); copied customers/suppliers re-reference them.
  *
  * Key offsets are `maxKey + 1_000_001`: bench gates plant duplicate
  * rows at `id + 1_000_000` (the oracle convention), so the shifted
  * copies leave that whole planted range inside the inter-copy gap —
  * a planted id can never collide with a real id of another copy.
  *
  * Usage: `runMain graft.tools.ScaleUp <srcDir> <destDir> [factor]`
  */
object ScaleUp {

  /** Offset leaving room for the `id + 1_000_000` planted-dup range. */
  private def off(maxKey: Long): Long = maxKey + 1000001L

  /** `factor` copies of `df`, each transformed by `shift(copy)`. */
  private def copies(df: DataFrame, factor: Int)(shift: Int => DataFrame => DataFrame): DataFrame =
    (0 until factor).map(i => shift(i)(df)).reduce(_ unionAll _)

  private def shiftKeys(cols: Seq[(String, Long)], copy: Int)(df: DataFrame): DataFrame =
    cols.foldLeft(df) { case (d, (c, o)) =>
      d.withColumn(c, col(c) + lit(o * copy))
    }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dest = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10

    val spark = graft.GraftSession.local("graft-scaleup")

    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"scaleup: $name x$factor written")
    }

    // fixed-size dimensions: copied verbatim, referenced by every copy
    Seq("region", "nation").foreach(n => write(n, read(n)))

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect()(0).getLong(0)

    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val lineitem = read("lineitem")
    val oCust = off(maxOf(customer, "c_custkey"))
    val oSupp = off(maxOf(supplier, "s_suppkey"))
    val oPart = off(maxOf(part, "p_partkey"))
    val oOrd = off(maxOf(orders, "o_orderkey"))

    write("customer", copies(customer, factor)(i => shiftKeys(Seq("c_custkey" -> oCust), i)))
    write("supplier", copies(supplier, factor)(i => shiftKeys(Seq("s_suppkey" -> oSupp), i)))
    write("part", copies(part, factor)(i => shiftKeys(Seq("p_partkey" -> oPart), i)))
    write("orders", copies(orders, factor)(i =>
      shiftKeys(Seq("o_orderkey" -> oOrd, "o_custkey" -> oCust), i)))
    write("lineitem", copies(lineitem, factor)(i =>
      shiftKeys(Seq("l_orderkey" -> oOrd, "l_partkey" -> oPart, "l_suppkey" -> oSupp), i)))

    val events = read("events")
    val oEvt = off(maxOf(events, "event_id"))
    val oUser = off(maxOf(events, "user_id"))
    write("events", copies(events, factor)(i =>
      shiftKeys(Seq("event_id" -> oEvt, "user_id" -> oUser), i)))

    val documents = read("documents")
    val oDoc = off(maxOf(documents, "doc_id"))
    write("documents", copies(documents, factor) { i => df =>
      val shifted = shiftKeys(Seq("doc_id" -> oDoc), i)(df)
      if (i == 0) shifted
      else {
        // disjoint token space per copy: near-dup structure replicates
        // instead of compounding (see object doc)
        val tagged = concat_ws(" ",
          transform(split(col("text"), " "), t => concat(lit(s"c$i"), t)))
        shifted.withColumn("text", tagged)
          .withColumn("n_chars", length(col("text")))
      }
    })

    val embeddings = read("embeddings")
    val oVec = off(maxOf(embeddings, "vec_id"))
    val dim = embeddings.select(size(col("embedding"))).first().getInt(0)
    write("embeddings", copies(embeddings, factor) { i => df =>
      val shifted = shiftKeys(Seq("vec_id" -> oVec), i)(df)
      if (i == 0) shifted
      else {
        // copy-specific ±1 sign pattern: an isometry within the copy,
        // ~orthogonal across copies (Knuth-hash bit per (dim, copy))
        val signs = Array.tabulate(dim) { d =>
          if ((((d * 2654435761L + i * 40503L) >>> 16) & 1L) == 1L) -1.0f else 1.0f
        }
        shifted.withColumn("embedding",
          zip_with(col("embedding"), typedLit(signs.toSeq), (x, s) => x * s))
      }
    })

    spark.stop()
  }
}
