package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** `TextAnalysis.lexicalCosinePairs` prunes candidates with an exact
  * prefix bound. These specs hold it to a brute-force all-pairs
  * reference written here, over a seeded Zipf corpus, and pin the
  * verb's Spark job count.
  */
class CosinePrefixSpec extends SparkSpec {

  /** A seeded Zipf corpus: exact and near copies, df ties in the tail,
    * a one-term doc, and `omni`, a term in every doc (idf_fx = 0).
    */
  private lazy val corpus: Seq[(Long, String)] = {
    val r = new java.util.Random(20261019L)
    val vocab = 400
    val cum = (1 to vocab).map(k => 1.0 / k).scanLeft(0.0)(_ + _).tail
    def word(): String = {
      val u = r.nextDouble() * cum.last
      val i = cum.indexWhere(_ >= u)
      s"w${if (i < 0) vocab - 1 else i}"
    }
    val base = (0 until 260).map(_ => (Seq.fill(1 + r.nextInt(30))(word()) :+ "omni").mkString(" "))
    val exact = (0 until 12).map(i => base(i * 7))
    val near = (0 until 12).map { i =>
      val ws = base(i * 11 + 3).split(" ").toVector
      ws.updated(r.nextInt(ws.size - 1), word()).mkString(" ")
    }
    (base ++ exact ++ near :+ "w17 omni" :+ "omni w17" :+ "omni")
      .zipWithIndex.map { case (t, i) => (i.toLong * 3 + 1, t) }
  }

  /** (id_a, id_b, num_fx, norm_a, norm_b) by brute force over all
    * pairs, with the operator's weights, tokenization and rational
    * compare.
    */
  private def reference(docs: Seq[(Long, String)], p: Int, q: Int)
      : Set[(Long, Long, Long, Long, Long)] = {
    val n = docs.map(_._1).distinct.size
    val tf = docs.groupBy(_._1).map { case (id, rows) =>
      id -> rows.flatMap(_._2.split(" ")).filter(_.nonEmpty).groupBy(identity).map {
        case (t, occ) => t -> occ.size.toLong }
    }
    val dfreq = tf.values.flatMap(_.keys).groupBy(identity).map { case (t, ds) => t -> ds.size }
    def idf(d: Int): Long =
      math.floor(StrictMath.log((n + 1).toDouble / (d + 1).toDouble) * 1000.0 + 0.5).toLong
    val vecs = tf.map { case (id, m) =>
      id -> m.map { case (t, c) => t -> c * idf(dfreq(t)) }.filter(_._2 > 0)
    }.filter(_._2.nonEmpty)
    val norms = vecs.map { case (id, v) => id -> v.values.map(x => x * x).sum }
    val ids = vecs.keys.toSeq.sorted
    (for {
      a <- ids; b <- ids if a < b
      shared = vecs(a).keySet intersect vecs(b).keySet if shared.nonEmpty
      num = shared.toSeq.map(t => vecs(a)(t) * vecs(b)(t)).sum
      if BigInt(num) * num * q * q >= BigInt(norms(a)) * norms(b) * p * p
    } yield (a, b, num, norms(a), norms(b))).toSet
  }

  private def rows(df: DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet

  private def pairs(docs: Seq[(Long, String)], p: Int, q: Int) = {
    import spark.implicits._
    rows(TextAnalysis.lexicalCosinePairs(docs.toDF("doc_id", "text"), "doc_id", "text", p, q))
  }

  test("prefix-pruned cosine returns exactly the brute-force all-pairs rows at every threshold") {
    val dfs = corpus.flatMap(_._2.split(" ").distinct).groupBy(identity).values.map(_.size).toSeq
    assert(dfs.max === corpus.size, "omni must be in every doc")
    assert(dfs.diff(dfs.distinct).nonEmpty, "the corpus must hold df ties")
    for ((p, q) <- Seq((0, 1), (1, 100), (1, 2), (4, 5), (99, 100), (1, 1))) {
      val want = reference(corpus, p, q)
      assert(pairs(corpus, p, q) === want, s"threshold $p/$q")
      if (p > 0) assert(want.nonEmpty, s"threshold $p/$q: the reference must keep pairs")
    }
    // an empty text counts toward N, so omni's idf leaves 0 and it
    // weighs into every vector
    val withEmpty = corpus :+ ((2L, ""))
    assert(pairs(withEmpty, 1, 2) === reference(withEmpty, 1, 2))
  }

  test("prefix-pruned cosine with ANSI off: the decimal accumulation returns the same rows") {
    val was = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assert(pairs(corpus, 4, 5) === reference(corpus, 4, 5))
    finally spark.conf.set("spark.sql.ansi.enabled", was)
  }

  test("lexicalCosinePairs job budget: one collect on the corpus runs at most 9 Spark jobs") {
    import spark.implicits._
    // the verb persists its per-doc frame: start from an empty cache so
    // that materialization is counted
    spark.catalog.clearCache()
    val out = TextAnalysis.lexicalCosinePairs(corpus.toDF("doc_id", "text"), "doc_id", "text", 4, 5)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        ()
      }
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try out.collect()
    finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get <= 9, s"lexicalCosinePairs ran ${jobs.get} Spark jobs")
  }
}
