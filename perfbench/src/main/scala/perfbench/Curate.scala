package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** A batch LLM-data curation pass over a seeded corpus: quality filter,
  * exact dedup, MinHash near-duplicate pairs, duplicate clusters, an IVF
  * top-k query batch, and exact lexical cosine on a subset.
  *
  * The corpus (about 7 k documents) is large enough that kernels, not
  * job scheduling, set the time, and its inputs are read from parquet so
  * that the engine's size gates see file statistics. The cosine subset
  * is sized so cosine is the largest single operation without taking the
  * pass over: cosine is quadratic on the dense head of a Zipf vocabulary.
  */
final class Curate(seed: Long) extends Workload {
  import Curate._

  private var data: Corpus = _
  private var dir: java.io.File = _
  private val cached = ArrayBuffer.empty[DataFrame]
  // Pass outputs: the first timed or warm-up pass is checked against the
  // planted truth, later passes must reproduce it exactly.
  private var first: Option[Outputs] = None
  private val precision = ArrayBuffer.empty[(Int, Double)]
  private val recall = ArrayBuffer.empty[(Int, Double)]
  private val cosineRows = ArrayBuffer.empty[(Int, Double)]
  private var ivfRecall = 0.0
  private var lifecycle = Map.empty[String, Double]

  def fingerprint(seed: Long): String =
    Curate.generate(seed).fingerprint + "-" + new Lifecycle(seed).fingerprint(seed)

  def rowsPerPass: Long = Docs.toLong + Junk + ExactCopies + NearCopies

  def facts: Seq[(String, String)] = Seq(
    "documents" -> rowsPerPass.toString,
    "vocabulary" -> s"$Vocab words, Zipf s=$ZipfS, $MinWords-$MaxWords words per document",
    "junk_share" -> f"${Junk.toDouble / rowsPerPass}%.3f",
    "exact_duplicate_share" -> f"${ExactCopies.toDouble / rowsPerPass}%.3f",
    "near_duplicate_share" -> f"${NearCopies.toDouble / rowsPerPass}%.3f",
    "embeddings" -> s"$Dim-d, $Clusters clusters, noise $Noise",
    "ivf_queries" -> Queries.toString,
    "cosine_subset" -> s"documents with id < $CosineSubset and their near copies") ++
    new Lifecycle(seed).facts ++
    Option(data).map(d => "text_bytes" -> d.textBytes.toString)

  def setup(ctx: Ctx): Unit = {
    data = generate(seed)
    val spark = ctx.spark
    dir = new java.io.File(ctx.work, "curate-input")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    spark.createDataFrame(java.util.Arrays.asList(data.docs: _*), DocSchema)
      .write.parquet(new java.io.File(dir, "docs").getPath)
    spark.createDataFrame(java.util.Arrays.asList(data.vectors: _*), VecSchema("id"))
      .write.parquet(new java.io.File(dir, "vectors").getPath)
    spark.createDataFrame(java.util.Arrays.asList(data.queries: _*), VecSchema("qid"))
      .write.parquet(new java.io.File(dir, "queries").getPath)
    first = None
  }

  private def input(n: String)(implicit ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(new java.io.File(dir, n).getPath)

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    cached += p
    p
  }

  def pass(ctx: Ctx, p: Int): Unit = {
    implicit val c: Ctx = ctx
    val d = data
    val docs = input("docs")
    val kept = ctx.op("quality", "text.quality") {
      val f = materialize(docs.filter(TextAnalysis.qualityScore(col("text")) >= QualityMin))
      (f, ids(f))
    } { case (_, got) => sameSet("quality filter survivors", got, d.normalIds) }._1

    val unique = ctx.op("exact", "dedup.exact") {
      val u = materialize(Dedup.exact(kept, "id", "text"))
      (u, ids(u))
    } { case (_, got) => sameSet("exact dedup keepers", got, d.normalIds -- d.exactCopyIds) }._1

    val pairsDf = ctx.op("minhash_pairs", "dedup.minhash_pairs") {
      val pr = materialize(Dedup.minhashNearDupPairs(unique, "id", "text").select("id_a", "id_b"))
      (pr, pairSet(pr))
    } { case (_, got) =>
      val hit = d.nearPairs.count(got.contains)
      recall += ((p, hit.toDouble / d.nearPairs.size))
      precision += ((p, if (got.isEmpty) 0.0 else got.count(d.nearPairs.contains).toDouble / got.size))
      if (hit >= MinhashRecallFloor * d.nearPairs.size) Nil
      else Seq(s"near-duplicate recall ${hit}/${d.nearPairs.size} below $MinhashRecallFloor")
    }._1
    val pairs = pairSet(pairsDf)

    val clusters = ctx.op("clusters", "dedup.clusters") {
      Dedup.duplicateClusters(pairsDf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } { got =>
      val want = components(pairs)
      if (got == want) Nil else Seq(s"${(got.toSet diff want.toSet).size} cluster labels " +
        "differ from the connected components of the pairs")
    }

    val topk = ctx.op("ivf_topk", "similarity.ivf_topk") {
      Similarity.ivfTopK(input("queries"), input("vectors"), "qid", "vec", "id", "vec",
        k = TopK, nCentroids = Centroids, nProbe = Probes)
        .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } { got =>
      val perQuery = got.groupBy(_._1).values.map(_.size)
      if (perQuery.size == Queries && perQuery.forall(_ == TopK)) Nil
      else Seq(s"ivf returned ${got.size} neighbours for ${perQuery.size} queries, " +
        s"expected $TopK for each of $Queries")
    }

    val cosine = ctx.op("cosine_pairs", "text.cosine_pairs") {
      val df = TextAnalysis.lexicalCosinePairs(
        unique.filter(col("id") < CosineSubset || col("id").isin(d.subsetNearCopies: _*)), "id", "text")
        .select("id_a", "id_b")
      val got = pairSet(df)
      if (ctx.tracer.enabled) cosineRows += ((p, rowsIntoAggregates(df).toDouble / math.max(1, got.size)))
      got
    } { got =>
      val missing = d.subsetNearPairs.filterNot(got.contains)
      if (missing.isEmpty) Nil else Seq(s"cosine missed ${missing.size} planted near pairs, e.g. ${missing.head}")
    }

    val out = Outputs(pairs, clusters, topk, cosine)
    first match {
      case None => first = Some(out)
      case Some(f) => ctx.check("pass-repeat", if (f == out) Nil
        else Seq(s"pass $p outputs differ from the first pass's"))
    }
  }

  override def endPass(ctx: Ctx, p: Int): Unit = {
    cached.foreach(_.unpersist())
    cached.clear()
    // the engine's own persisted frames are per pass too: no pass reuses
    // work an earlier pass left in the cache
    ctx.spark.catalog.clearCache()
  }

  def finalChecks(ctx: Ctx): Unit = {
    implicit val c: Ctx = ctx
    val exact = Similarity.bruteForceTopK(input("queries"), input("vectors"), "qid", "vec", "id", "vec", TopK)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = first.get.topk
    val r = got.count(exact.contains).toDouble / exact.size
    ivfRecall = r
    ctx.check("ivf-recall", if (r >= IvfRecallFloor) Nil
      else Seq(f"ivf recall@$TopK $r%.3f below $IvfRecallFloor"))
  }

  /** The index lifecycle has no workload of its own (see README): the
    * traced run measures one cycle of it here.
    */
  override def layerProbes(ctx: Ctx): Unit = {
    ctx.setPass(Layers.ProbePass)
    lifecycle = new Lifecycle(seed).run(ctx)
  }

  def layerMetrics(ctx: Ctx, traced: Seq[Int]): Map[String, Double] = {
    val t = ctx.tracer
    def med(xs: ArrayBuffer[(Int, Double)]) = {
      val v = xs.filter(x => traced.contains(x._1)).map(_._2).toSeq
      if (v.isEmpty) 0.0 else Stats.median(v)
    }
    Seq("text.quality", "dedup.exact", "dedup.minhash_pairs", "dedup.clusters",
      "similarity.ivf_topk", "text.cosine_pairs").flatMap(Layers.operator(t, _, traced)).toMap ++ Map(
      "dedup.minhash_precision" -> med(precision),
      "dedup.minhash_recall" -> med(recall),
      "similarity.ivf_recall" -> ivfRecall,
      "text.cosine_rows_aggregated_per_pair" -> med(cosineRows)) ++ lifecycle
  }

  override def figures: Seq[(String, Double)] = Seq(
    "minhash_recall" -> recall.map(_._2).lastOption.getOrElse(0.0),
    "ivf_recall" -> ivfRecall)

  def close(ctx: Ctx): Unit = ctx.spark.catalog.clearCache()
}

object Curate {
  val Docs = 6000
  val Junk = 300
  val ExactCopies = 300
  val NearCopies = 300
  val Vocab = 20000
  val ZipfS = 1.0
  val MinWords = 30
  val MaxWords = 60
  /** Per-word replacement probability of a near copy beyond the one word
    * always replaced: one edit keeps 3-shingle Jaccard above 0.8.
    */
  val NearEdit = 0.0
  val Dim = 64
  val Clusters = 32
  val Noise = 0.5
  val Queries = 128
  val TopK = 10
  val Centroids = 32
  val Probes = 4
  val CosineSubset = 600
  /** Normal documents score at least 0.45 by construction (no
    * punctuation, 30-60 words of 3-9 letters), junk at most about 0.2;
    * the cut sits between the two.
    */
  val QualityMin = 0.35
  val MinhashRecallFloor = 0.9
  val IvfRecallFloor = 0.8

  val DocSchema = StructType(Seq(StructField("id", LongType, false), StructField("text", StringType, false)))
  def VecSchema(id: String) = StructType(Seq(StructField(id, LongType, false),
    StructField("vec", ArrayType(FloatType, false), false)))

  final case class Outputs(pairs: Set[(Long, Long)], clusters: Map[Long, Long],
      topk: Set[(Long, Long)], cosine: Set[(Long, Long)])

  /** The generated corpus and what was planted in it. Ids: originals
    * 0 until Docs, then junk, exact copies, near copies.
    */
  final case class Corpus(docs: Seq[Row], vectors: Seq[Row], queries: Seq[Row],
      normalIds: Set[Long], exactCopyIds: Set[Long], nearPairs: Set[(Long, Long)],
      subsetNearCopies: Seq[Long], subsetNearPairs: Set[(Long, Long)],
      textBytes: Long, fingerprint: String)

  def generate(seed: Long): Corpus = {
    val fp = new Fingerprint
    val r = Gen.rng(seed, 1)
    val vocab = Gen.vocabulary(r, Vocab)
    val zipf = new Gen.Zipf(Vocab, ZipfS)
    val texts = ArrayBuffer.empty[String]
    val words = (0 until Docs).map(_ => Gen.doc(r, vocab, zipf, MinWords + r.nextInt(MaxWords - MinWords + 1)))
    words.foreach(w => texts += w.mkString(" "))
    (0 until Junk).foreach(_ => texts += Gen.junk(r))
    val exactSrc = (0 until ExactCopies).map(_ => r.nextInt(Docs))
    exactSrc.foreach(i => texts += texts(i))
    // near copies come from distinct originals
    val nearSrc = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((0 until Docs).toVector).take(NearCopies)
    nearSrc.foreach(i => texts += Gen.nearCopy(r, words(i), vocab, zipf, NearEdit).mkString(" "))
    val nearBase = Docs + Junk + ExactCopies
    val nearPairs = nearSrc.zipWithIndex.map { case (o, j) => (o.toLong, (nearBase + j).toLong) }
    val docs = texts.zipWithIndex.map { case (t, i) => fp.add(t); Row(i.toLong, t) }.toSeq
    val centers = Gen.centers(r, Clusters, Dim)
    def vec(id: Long) = {
      val v = Gen.clustered(r, centers, Noise)
      v.foreach(fp.add)
      Row(id, v.toSeq)
    }
    val vectors = docs.indices.map(i => vec(i.toLong))
    val queries = (0 until Queries).map(i => vec(10000000L + i))
    val subsetPairs = nearPairs.filter(_._1 < CosineSubset)
    Corpus(docs, vectors, queries,
      normalIds = (0L until Docs).toSet ++ (0 until ExactCopies + NearCopies).map(i => (Docs + Junk + i).toLong),
      exactCopyIds = (0 until ExactCopies).map(i => (Docs + Junk + i).toLong).toSet,
      nearPairs = nearPairs.toSet,
      subsetNearCopies = subsetPairs.map(_._2),
      subsetNearPairs = subsetPairs.toSet,
      textBytes = texts.map(_.length.toLong).sum,
      fingerprint = fp.hex)
  }

  def ids(df: DataFrame): Set[Long] = df.select("id").collect().map(_.getLong(0)).toSet

  /** (id_a, id_b) of a frame whose first two columns are those. */
  def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  def sameSet(what: String, got: Set[Long], want: Set[Long]): Seq[String] =
    if (got == want) Nil
    else Seq(s"$what: ${(want -- got).size} missing, ${(got -- want).size} unexpected")

  /** Node → smallest id of its connected component. */
  def components(pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** Rows that entered the plan's largest aggregate, from its SQL metrics:
    * the output rows of the nearest operator below it that counts them.
    */
  def rowsIntoAggregates(df: DataFrame): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    def rowsBelow(p: SparkPlan): Option[Long] =
      p.children.flatMap(c => nodes(c)).collectFirst {
        case n if n.metrics.contains("numOutputRows") && !n.isInstanceOf[BaseAggregateExec] =>
          n.metrics("numOutputRows").value
      }
    nodes(df.queryExecution.executedPlan).collect { case a: BaseAggregateExec => a }
      .flatMap(rowsBelow).foldLeft(0L)(math.max)
  }
}
