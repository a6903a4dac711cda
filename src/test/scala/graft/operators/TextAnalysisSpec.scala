package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import TextAnalysis._

  private def one(c: org.apache.spark.sql.Column, text: String): Any = {
    import spark.implicits._
    Seq(text).toDF("t").select(c.as("v")).collect()(0).get(0)
  }

  test("token and char counts") {
    assert(one(tokenCount(col("t")), "a bb  ccc") === 3)
    assert(one(charCount(col("t")), "hello") === 5)
    assert(one(bpeishTokenCount(col("t")), "don't stop-me now2") === 7)
  }

  test("punct and stopword ratios") {
    assert(one(punctRatio(col("t")), "ab,.") === 0.5)
    assert(one(stopwordRatio(col("t")), "the cat and dog") === 0.5)
    assert(one(punctRatio(col("t")), "") === 0.0)
  }

  test("quality score bounded [0,1]") {
    import spark.implicits._
    val scores = table("documents")
      .select(qualityScore(col("text")).as("q"))
      .agg(min($"q"), max($"q"))
      .collect()(0)
    assert(scores.getDouble(0) >= 0.0 && scores.getDouble(1) <= 1.0)
  }

  test("langId picks the marker-matching language") {
    assert(one(langId(col("t")), "the cat is in the house and that") === "en")
    assert(one(langId(col("t")), "der hund ist nicht mit der katze") === "de")
    assert(one(langId(col("t")), "el perro es la mascota y que bien con") === "es")
    assert(one(langId(col("t")), "le chien est dans la maison et que une") === "fr")
    assert(one(langId(col("t")), "") === "und")
  }

  test("fingerprint is whitespace/case-insensitive and order-sensitive") {
    val a = one(fingerprint(col("t")), "Hello  World")
    val b = one(fingerprint(col("t")), "hello world")
    assert(a === b)
    assert(one(fingerprint(col("t")), "world hello") !== b)
  }

  test("rollingHash: exact Karp–Rabin over normalized text") {
    // "ab" -> ((0*31+97)*31+98) % 1e9+7 = 3105
    assert(one(rollingHash(col("t")), "ab") === 3105L)
    // normalization: case and punctuation stripped
    assert(one(rollingHash(col("t")), "A!B?") === 3105L)
    assert(one(rollingHash(col("t")), "") === 0L)
  }

  test("minGramFingerprint: shared k-gram region can collide, short text falls back") {
    // short text (< k chars): falls back to the full rolling hash
    assert(one(minGramFingerprint(col("t"), 8), "ab") === 3105L)
    // identical text -> identical fingerprint
    val a = one(minGramFingerprint(col("t"), 8), "the quick brown fox jumps")
    val b = one(minGramFingerprint(col("t"), 8), "the quick brown fox jumps")
    assert(a === b)
    // appending a suffix keeps the minimum gram unless the new grams hash lower
    val c = one(minGramFingerprint(col("t"), 8), "the quick brown fox jumps extra")
      .asInstanceOf[Long]
    assert(c <= a.asInstanceOf[Long])
  }

  test("analyze annotates all columns") {
    val out = analyze(table("documents").limit(10))
    val cols = out.columns.toSet
    assert(Seq("ta_n_chars", "ta_n_tokens", "ta_n_bpeish", "ta_punct_ratio",
      "ta_stopword_ratio", "ta_quality", "ta_lang", "ta_fingerprint")
      .forall(cols.contains))
    assert(out.count() === 10)
  }

  test("gopher filters: repetition, symbol and digit ratios on planted docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"),                 // 4 tokens, 2 distinct
      (2L, "x\nx\ny"),                 // 3 lines, 2 distinct
      (3L, "# tag ... end"),           // 1 hash + 1 ellipsis, 4 tokens
      (4L, "a1b2"),                    // 2 digits of 4 chars
      (5L, "")                         // empty: all ratios 0
    ).toDF("doc_id", "text")
    val out = docs.select(
      col("doc_id"),
      TextAnalysis.wordRepetitionRatio(col("text")).as("wr"),
      TextAnalysis.lineRepetitionRatio(col("text")).as("lr"),
      TextAnalysis.symbolWordRatio(col("text")).as("sr"),
      TextAnalysis.digitRatio(col("text")).as("dr")
    ).collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1L)._1 === 0.5)
    assert(out(2L)._2 === 1.0 - 2.0 / 3.0)
    assert(out(3L)._3 === 0.5)
    assert(out(4L)._4 === 0.5)
    assert(out(5L) === ((0.0, 0.0, 0.0, 0.0)))
  }

  test("native kr-hash kernel is bit-compatible with the HOF composition") {
    import spark.implicits._
    val fixture = table("documents").select(col("text"))
    val planted = Seq("Hello, World! 123", "  MiXeD   CaSe  ", "", "ALL CAPS",
      "punct!@#$%^&*()", "\u00c9l\u00e8ve \u00dcber stra\u00dfe").toDF("text")
    Seq(fixture, planted).foreach { df =>
      val mism = df.select(
        TextAnalysis.rollingHash(col("text")).as("k"),
        TextAnalysis.rollingHashBuiltin(col("text")).as("b")
      ).filter(col("k") =!= col("b")).count()
      assert(mism === 0)
    }
  }

  test("charEntropy: uniform alphabet maxes, single symbol zeroes, empty zeroes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcd"),        // 4 distinct, uniform: ln(4)
      (2L, "aaaa"),        // single symbol: 0.0 (not -0.0)
      (3L, ""),            // empty: 0.0
      (4L, "aabb")         // two symbols, uniform: ln(2)
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"), TextAnalysis.charEntropy(col("text")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - math.log(4)) < 1e-6)
    assert(out(2L) === 0.0 && java.lang.Double.doubleToLongBits(out(2L)) === 0L)
    assert(out(3L) === 0.0)
    assert(math.abs(out(4L) - math.log(2)) < 1e-6)
  }

  test("topNgramStats: dominant bigram share, short-doc degenerate gram") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a"), // bigrams: "a b"x2, "b a"x2 -> top 2 of 4
      (2L, "x"),         // shorter than n: whole token list is one gram
      (3L, "p q r")      // "p q", "q r" -> top 1 of 2
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topNgramStats(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("top_count"), r.getAs[Long]("top_frac_fx")))
    assert(out.toSeq === Seq(
      (1L, 4L, 2L, 500000L),
      (2L, 1L, 1L, 1000000L),
      (3L, 2L, 1L, 500000L)))
  }

  test("topNgramStats matches the relational explode/groupBy formulation; plan has no Exchange") {
    // independent recomputation of the same statistic the slow way
    val docs = table("documents").limit(200)
    val toks = split(trim(col("text")), "[ \t\n\f\r]+")
    val grams = when(size(toks) < 2, array(array_join(toks, " ")))
      .otherwise(transform(
        sequence(lit(0), size(toks) - 2),
        i => array_join(slice(toks, i + 1, lit(2)), " ")))
    val relational = docs
      .select(col("doc_id"), explode(grams).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_grams"), max(col("cnt")).as("top_count"))
    val native = TextAnalysis.topNgramStats(docs, "doc_id", "text", n = 2)
      .select("doc_id", "n_grams", "top_count")
    assert(native.exceptAll(relational).count() === 0)
    assert(relational.exceptAll(native).count() === 0)
    // the whole point of the native kernel: a row-local statistic must
    // not shuffle the corpus
    val plan = TextAnalysis.topNgramStats(docs, "doc_id", "text", n = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"topNgramStats plan shuffles:\n$plan")
  }

  test("tfidfTopTerms ranks by tf·idf with deterministic term tie-break") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry durian cherry cherry")
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank").collect()
    val got = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank"),
      r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("df")))
    assert(got.toSeq === Seq(
      (1L, 1L, "apple", 2L, 1L), (1L, 2L, "banana", 1L, 2L),
      // doc 2: equal scores — the term string breaks the tie
      (2L, 1L, "banana", 1L, 2L), (2L, 2L, "cherry", 1L, 2L),
      (3L, 1L, "cherry", 3L, 2L), (3L, 2L, "durian", 1L, 1L)))
    // N=3 docs: apple's idf = ln(4/2), quantized to micro-units BEFORE
    // the tf multiply — score_fx = tf · floor(ln2·1e6 + 0.5) exactly
    val appleFx = rows.find(r => r.getAs[String]("term") == "apple").get
      .getAs[Long]("score_fx")
    assert(appleFx === 2L * math.floor(math.log(2.0) * 1e6 + 0.5).toLong)
  }

  test("pmiCollocations: only the consistently-adjacent pair clears minCount") {
    import spark.implicits._
    // "new york" adjacent in every doc; rotating filler words never
    // repeat the same neighbor pair often enough to reach minCount
    val colors = Array("red", "blue", "green", "gold", "gray")
    val docs = (0 until 8).map { i =>
      (i.toLong,
        s"${colors(i % 5)} new york ${colors((i + 2) % 5)} ${colors((i + 3) % 5)}")
    }.toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(docs, "doc_id", "text", minCount = 5, k = 5)
      .collect()
    assert(out.length === 1, out.mkString(";"))
    val top = out.head
    assert((top.getAs[String]("w1"), top.getAs[String]("w2")) === ("new", "york"))
    assert(top.getAs[Long]("c_ab") === 8L)
    assert(top.getAs[Long]("c_a") === 8L && top.getAs[Long]("c_b") === 8L)
    // 5 tokens and 4 bigrams per doc; pmi_fx reproduces the quantized
    // formula in the engine's exact association order
    val n1 = 5L * 8
    val n2 = 4L * 8
    val expected = math.floor(math.log(
      8.0 * n1 * n1 / (n2.toDouble * 8 * 8)) * 1e6 + 0.5).toLong
    assert(top.getAs[Long]("pmi_fx") === expected)
  }

  test("bpeMerges: learns the hand-computed merge sequence on a tiny corpus") {
    import spark.implicits._
    // word counts: low x3, lower x2, west x1
    // round 1 pairs: (l,o) 5, (o,w) 5, (w,e) 3, (e,r) 2, ... -> the 5-5
    //   tie breaks lexicographically to (l,o); round 2: (lo,w) 5 -> low;
    //   round 3: (low,e) and (e,r) tie at 2 -> ("e" < "low") -> (e,r)
    val docs = Seq(
      (1L, "low low lower west"),
      (2L, "low lower")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bpeMerges(docs, "text", nMerges = 3, minCount = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, "l", "o", 5L),
      (2L, "lo", "w", 5L),
      (3L, "e", "r", 2L)), out.toSeq)
  }

  test("bpeTokenCounts: per-doc token cost under a fixed merge table") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low low lower west"),
      (2L, "low lower")
    ).toDF("doc_id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
    // low -> [low] (1); lower -> [low, er] (2); west -> [w,e,s,t] (4)
    val out = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 4L, 8L), (2L, 2L, 3L)), out.toSeq)
  }

  test("bpeMerges: driver-side trainer and distributed twin learn identical sequences") {
    import spark.implicits._
    // rich-enough corpus that the incremental pair maintenance gets
    // exercised: repeated stems, overlaps, ties — train well past the
    // point where early merges invalidate later pair counts
    val docs = Seq(
      (1L, "the theme thesis then anthem theory"),
      (2L, "low lower lowest slow slower glow"),
      (3L, "ab abab ababab aabb baba"),
      (4L, "the lower theme slows then")
    ).toDF("doc_id", "text")
    val local = TextAnalysis.bpeMerges(docs, "text", nMerges = 16, minCount = 1)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val dist = TextAnalysis.bpeMergesDistributed(docs, "text", nMerges = 16, minCount = 1)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(local === dist, s"local=$local dist=$dist")
    assert(local.size === 16)
  }

  test("bpeTokenCountsDict: dictionary kernel equals the sequential-fold composition") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the theme thesis then anthem theory"),
      (2L, "low lower lowest slow slower glow"),
      (3L, "ab abab ababab aabb baba"),
      (4L, "the lower theme slows then")
    ).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(docs, "text", nMerges = 16, minCount = 1)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val dict = TextAnalysis.bpeTokenCountsDict(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val fold = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(dict === fold)
  }

  test("BpeEncodeExpression: lowest-rank-first loop, overlap handling, token output") {
    import spark.implicits._
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"), ("a", "a"))
    val df = Seq("lower", "low", "aaaa", "x", "").toDF("w")
    val out = df.select(col("w"),
      graft.functions.BpeEncodeExpression.bpeEncode(col("w"), merges).as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    assert(out("lower") === Seq("low", "er"))
    assert(out("low") === Seq("low"))
    // overlap: greedy left-to-right non-overlapping, same as the fold
    assert(out("aaaa") === Seq("aa", "aa"))
    assert(out("x") === Seq("x"))
    assert(out("") === Seq.empty)
  }

  test("bpeMerges: maxVocab pruning keeps the most frequent words") {
    import spark.implicits._
    // vocab = {zz x5, qq x1}: maxVocab = 1 keeps only zz, so the only
    // learnable merge is (z, z); the unpruned run learns (q, q) too
    val docs = Seq((1L, "zz zz zz zz zz qq")).toDF("doc_id", "text")
    val pruned = TextAnalysis.bpeMerges(docs, "text", nMerges = 5, minCount = 1, maxVocab = 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(pruned === Seq(("z", "z", 5L)), pruned)
  }

  test("bpeMerges: greedy left-to-right merge handles overlapping pairs (aaaa)") {
    import spark.implicits._
    // 'aaaa' x3: round-1 pairs (a,a)=9 -> merge; symbols become [aa,aa]
    // round 2: (aa,aa)=3 -> merge to [aaaa]; round 3: no pair left with
    // count >= 2 -> early stop
    val docs = Seq((1L, "aaaa aaaa aaaa")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeMerges(docs, "text", nMerges = 5, minCount = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, "a", "a", 9L),
      (2L, "aa", "aa", 3L)), out.toSeq)
  }

  test("htmlToText: strips non-content subtrees, keeps block structure") {
    val html = "<html><head><title>nope</title><style>p{x}</style></head>" +
      "<body><script>var s = \"<p>decoy</p>\";</script>" +
      "<h1>Title</h1><p>first para</p><p>second  para</p>" +
      "<ul><li>item one</li><li>item two</li></ul>" +
      "<!-- hidden comment --><div>footer</div></body></html>"
    val out = one(TextAnalysis.htmlToText(org.apache.spark.sql.functions.lit(html)), "")
    assert(out === "Title\nfirst para\nsecond para\nitem one\nitem two\nfooter")
  }

  test("htmlToText: entity decode order — &amp;lt; yields literal &lt;") {
    val html = "<p>Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;s&nbsp;x &amp;lt;</p>"
    val out = one(TextAnalysis.htmlToText(org.apache.spark.sql.functions.lit(html)), "")
    assert(out === "Tom & Jerry <3 \"q\" 's x &lt;")
  }

  test("htmlToText: case-insensitive tags, self-closed br, attr-laden script") {
    val html = "<P>one<BR/>two</P><SCRIPT type=\"text/javascript\" async>x<y</SCRIPT>three"
    val out = one(TextAnalysis.htmlToText(org.apache.spark.sql.functions.lit(html)), "")
    assert(out === "one\ntwo\nthree")
  }

  test("htmlToText: plain text without markup passes through trimmed") {
    val out = one(TextAnalysis.htmlToText(
      org.apache.spark.sql.functions.lit("  just   plain words  ")), "")
    assert(out === "just plain words")
  }

  test("hashFeatures: deterministic signed buckets, repeated tokens accumulate") {
    import spark.implicits._
    val df = Seq((1L, "alpha alpha beta"), (2L, "alpha")).toDF("doc_id", "text")
    val out = TextAnalysis.hashFeatures(df, "doc_id", "text", d = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc 1's alpha bucket = 2x doc 2's single alpha contribution
    val alphaBucket = out.keys.filter(_._1 == 2L).head._2
    assert(out((2L, alphaBucket)).abs == 1L)
    assert(out((1L, alphaBucket)) == 2L * out((2L, alphaBucket)) ||
      out.keySet.count(_._1 == 1L) == 1, // unless beta collided into the bucket
      out.toString)
    // dims stay inside [0, d)
    assert(out.keys.forall { case (_, dim) => dim >= 0 && dim < 8 })
    // determinism across runs
    val again = TextAnalysis.hashFeatures(df, "doc_id", "text", d = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == again)
  }

  test("topTermsPerGroup: exact counts, rank ties break on the term string") {
    import spark.implicits._
    val docs = Seq(
      ("en", "a a a b b c"),
      ("en", "b c"),
      ("de", "x y y")
    ).toDF("lang", "text")
    val out = TextAnalysis.topTermsPerGroup(docs, "lang", "text", k = 2)
      .orderBy("lang", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // en: a=3, b=3 (tie -> 'a' first), c=2 cut by k; de: y=2, x=1
    assert(out.toSeq == Seq(
      ("de", 1L, "y", 2L), ("de", 2L, "x", 1L),
      ("en", 1L, "a", 3L), ("en", 2L, "b", 3L)))
  }

  test("bm25TopK: ranks by query-term relevance, saturates on length and tf") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark spark"),        // high tf, short
      (2L, "spark hash"),                     // two distinct query terms
      (3L, "noise noise noise noise noise"),  // no hits
      (4L, "spark " + Seq.fill(50)("pad").mkString(" ")) // hit diluted by length
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      query = Seq("spark", "hash"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // no-hit doc never appears
    assert(!out.map(_._1).contains(3L))
    val byDoc = out.map(t => t._1 -> t).toMap
    // doc 2 hits both terms and 'hash' is rarer -> top score
    assert(out.head._1 == 2L, out.toSeq.toString)
    assert(byDoc(2L)._3 == 2L, "doc 2 hits both query terms")
    // same single term: high-tf short doc beats the length-diluted one
    assert(byDoc(1L)._2 > byDoc(4L)._2, out.toSeq.toString)
  }

  test("bm25TopKBatch: each query's top-k equals the single-query scorer's") {
    import spark.implicits._
    val docs = table("documents")
    val queries = Seq(
      (1L, "spark"), (1L, "hash"),
      (2L, "vector"), (2L, "window")).toDF("query_id", "term")
    val batch = TextAnalysis.bm25TopKBatch(docs, "doc_id", "text", queries, k = 5)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
      }
    val singles = Map(
      1L -> Seq("spark", "hash"),
      2L -> Seq("vector", "window")
    ).map { case (q, terms) =>
      q -> TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(batch == singles)
  }

  test("bm25TopK: limit bounds the result and ordering is score desc, id asc") {
    val out = TextAnalysis.bm25TopK(table("documents"), "doc_id", "text",
      query = Seq("spark", "hash", "vector"), k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 7)
    val resorted = out.sortBy { case (id, s) => (-s, id) }
    assert(out.toSeq == resorted.toSeq, "TakeOrdered must deliver sorted top-k")
  }

  test("hashFeatureVectors: dense assembly equals the sparse counts, zeros elsewhere") {
    val docs = table("documents").limit(50)
    val d = 16
    val sparse = TextAnalysis.hashFeatures(docs, "doc_id", "text", d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dense = TextAnalysis.hashFeatureVectors(docs, "doc_id", "text", d)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(dense.nonEmpty)
    dense.foreach { case (id, vec) =>
      assert(vec.length == d)
      vec.zipWithIndex.foreach { case (v, j) =>
        assert(v == sparse.getOrElse((id, j.toLong), 0L).toDouble,
          s"doc $id dim $j")
      }
    }
    // every sparse entry is represented — nothing silently dropped
    sparse.keys.foreach { case (id, j) => assert(dense.contains(id), s"doc $id") }
  }

  test("hashed vectors through the IVF-SQ index equal the in-memory ANN path") {
    val docs = table("documents")
    val vecs = TextAnalysis.hashFeatureVectors(docs, "doc_id", "text", d = 16)
    val queries = vecs.filter(col("doc_id") < 10)
    graft.operators.Similarity.writeIvfSqIndex(vecs, "doc_id", "vec",
      "hashed_rt", nCentroids = 8, buckets = 4, portableCentroids = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val fromIndex = rows(
      graft.operators.Similarity.ivfQuantizedTopKFromIndex(spark, "hashed_rt",
        queries, "doc_id", "vec", k = 4, nProbe = 2, shortlist = 16)
        .select("query_id", "rank", "neighbor_id"))
    val inMemory = rows(
      graft.operators.Similarity.ivfQuantizedTopK(queries, vecs,
        "doc_id", "vec", "doc_id", "vec", k = 4, nCentroids = 8,
        nProbe = 2, shortlist = 16, portableCentroids = true)
        .select("query_id", "rank", "neighbor_id"))
    assert(fromIndex == inMemory)
    assert(fromIndex.nonEmpty)
  }

  private def bm25Rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("bm25 index: indexed retrieval equals the in-memory batch bit-for-bit") {
    import spark.implicits._
    val docs = table("documents")
    val queries = Seq(
      (1L, "spark"), (1L, "hash"),
      (2L, "vector"), (2L, "window")).toDF("query_id", "term")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", "bm25_rt", buckets = 4)
    val fromIndex = bm25Rows(
      TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_rt", queries, k = 5))
    val inMemory = bm25Rows(
      TextAnalysis.bm25TopKBatch(docs, "doc_id", "text", queries, k = 5))
    assert(fromIndex == inMemory)
  }

  test("bm25 filtered retrieval: top-k of the restriction at unchanged scores; carry survives appends") {
    import spark.implicits._
    val docs = table("documents")
    val queries = Seq(
      (1L, "spark"), (1L, "hash"),
      (2L, "vector"), (2L, "window")).toDF("query_id", "term")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", "bm25_flt",
      buckets = 4, carryCols = Seq("lang"))
    val filtered = bm25Rows(
      TextAnalysis.bm25TopKBatchFromIndexWhere(spark, "bm25_flt", queries,
        k = 5, predicate = col("lang") === "en"))
    // the contract: same scores as the unfiltered run, candidates
    // restricted — so filtered top-5 = the en-docs of a deep
    // unfiltered run, re-ranked, cut at 5
    val enIds = docs.filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val deep = TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_flt", queries,
      k = 100000)
      .filter(col("doc_id").isin(enIds.toSeq: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score_fx").desc, col("doc_id"))
    val expected = bm25Rows(deep
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "doc_id", "score_fx"))
    assert(filtered == expected)
    // every returned doc satisfies the predicate
    assert(filtered.forall { case (_, _, doc, _) => enIds.contains(doc) })

    // appends must supply the carried metadata — and then keep serving it
    val more = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 5000000).as("doc_id"), col("text"), col("lang"))
    TextAnalysis.appendToBm25Index(spark, "bm25_flt", more, "doc_id", "text")
    val after = bm25Rows(
      TextAnalysis.bm25TopKBatchFromIndexWhere(spark, "bm25_flt", queries,
        k = 5, predicate = col("lang") === "en"))
    assert(after.forall { case (_, _, doc, _) =>
      enIds.contains(doc) || doc >= 5000000 })
    intercept[IllegalArgumentException] {
      TextAnalysis.appendToBm25Index(spark, "bm25_flt",
        docs.select((col("doc_id") + 9000000).as("doc_id"), col("text")),
        "doc_id", "text")
    }
  }

  test("bm25 index: append == rebuild, and stats stay additive-exact") {
    import spark.implicits._
    val docs = table("documents")
    val base = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val queries = Seq((1L, "spark"), (1L, "hash"), (2L, "merge"))
      .toDF("query_id", "term")
    TextAnalysis.writeBm25Index(base, "doc_id", "text", "bm25_app", buckets = 4)
    TextAnalysis.appendToBm25Index(spark, "bm25_app", batch, "doc_id", "text")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", "bm25_full", buckets = 4)
    // append must answer exactly like a full rebuild over base ∪ batch:
    // live df + additively maintained (n_docs, sum_dl) keep scoring exact
    assert(
      bm25Rows(TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_app", queries, k = 5))
        == bm25Rows(TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_full", queries, k = 5)))
    // ...and both equal the raw-corpus batch path
    assert(
      bm25Rows(TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_app", queries, k = 5))
        == bm25Rows(TextAnalysis.bm25TopKBatch(docs, "doc_id", "text", queries, k = 5)))
    val st = TextAnalysis.bm25IndexStats(spark, "bm25_app")
    assert(st.totalDocs === docs.count())
    assert(st.builtDocs === base.count())
    val fullSt = TextAnalysis.bm25IndexStats(spark, "bm25_full")
    assert(math.abs(st.avgdl - fullSt.avgdl) < 1e-12,
      "additive sum_dl must reproduce the rebuild's avgdl exactly")
  }

  test("tfidf from the postings index equals the in-memory path, appends included") {
    val docs = table("documents")
    val base = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "rank").collect().map(_.toString).toSeq
    TextAnalysis.writeBm25Index(base, "doc_id", "text", "tfidf_rt", buckets = 4)
    assert(
      rows(TextAnalysis.tfidfTopTermsFromIndex(spark, "tfidf_rt", k = 4))
        == rows(TextAnalysis.tfidfTopTerms(base, "doc_id", "text", k = 4)))
    // live df + additive N keep the second consumer exact after appends
    TextAnalysis.appendToBm25Index(spark, "tfidf_rt", batch, "doc_id", "text")
    assert(
      rows(TextAnalysis.tfidfTopTermsFromIndex(spark, "tfidf_rt", k = 4))
        == rows(TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 4)))
  }

  test("bm25 index: staleness flags append dominance, rebuild clears it") {
    import spark.implicits._
    val docs = table("documents")
    val tenth = docs.filter(col("doc_id") % 10 === 0)
    val rest = docs.filter(col("doc_id") % 10 =!= 0)
    TextAnalysis.writeBm25Index(tenth, "doc_id", "text", "bm25_stale", buckets = 4)
    assert(!TextAnalysis.isStaleBm25Index(spark, "bm25_stale"),
      "fresh index must not flag")
    TextAnalysis.appendToBm25Index(spark, "bm25_stale", rest, "doc_id", "text")
    val st = TextAnalysis.bm25IndexStats(spark, "bm25_stale")
    assert(st.appendedFraction > 0.5, st.toString)
    assert(st.newTermPpm >= 0L && st.maxDfDriftPpm > 0L, st.toString)
    assert(TextAnalysis.isStaleBm25Index(spark, "bm25_stale"),
      "append-dominated index must flag")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", "bm25_stale", buckets = 4)
    assert(!TextAnalysis.isStaleBm25Index(spark, "bm25_stale"),
      "rebuild must clear the flag")
  }

  test("reciprocalRankFusion: agreement outranks any single channel, exact fixed point") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1L), (1L, 13L, 2L)).toDF("query_id", "doc_id", "rank")
    val out = TextAnalysis.reciprocalRankFusion(Seq(a, b), k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 11 is #2 lexically and #1 fresh: 1e6 div 62 + 1e6 div 61 =
    // 16129 + 16393 = 32522 — agreement beats doc 10's single #1
    assert(out.toSeq == Seq(
      (1L, 11L, 32522L), (2L, 10L, 16393L),
      (3L, 13L, 16129L), (4L, 12L, 15873L)))
    // per-query reduction rides the k-bounded queue, not a rank window
    val plan = TextAnalysis.reciprocalRankFusion(Seq(a, b), k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("collect_top_k"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("bm25 index: replayed epoch dedups through bucketed compaction, answers unchanged") {
    import spark.implicits._
    val docs = table("documents")
    val base = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val queries = Seq((1L, "spark"), (2L, "hash")).toDF("query_id", "term")
    TextAnalysis.writeBm25Index(base, "doc_id", "text", "bm25_replay", buckets = 4)
    TextAnalysis.appendToBm25Index(spark, "bm25_replay", batch, "doc_id", "text")
    val before = bm25Rows(
      TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_replay", queries, k = 5))
    // replay the SAME epoch's posting rows (the crash-retry shape);
    // stats must NOT be re-bumped — replaying an epoch re-lands rows,
    // it does not re-add documents — so only the postings duplicate
    spark.table("bm25_replay").filter(col("doc_id") % 2 === 1)
      .write.mode("append").format("parquet")
      .bucketBy(4, "term").sortBy("term").saveAsTable("bm25_replay")
    spark.catalog.refreshTable("bm25_replay")
    val (rowsBefore, rowsAfter) =
      graft.plans.Compaction.compactBucketedTable(spark, "bm25_replay")
    assert(rowsBefore > rowsAfter, "compaction must drop the replay residue")
    val after = bm25Rows(
      TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_replay", queries, k = 5))
    assert(after == before, "compaction must not change answers")
  }

  test("adaptiveRetokenize: space-free scripts become bigrams; everything else is a byte no-op") {
    import spark.implicits._
    def retok(s: String): String =
      Seq(s).toDF("t").select(TextAnalysis.adaptiveRetokenize(col("t"))).head().getString(0)
    // CJK → overlapping character bigrams, space-joined
    assert(retok("東京都") === "東京 京都")
    // incidental spaces are stripped BEFORE gramming — no space-spanning grams
    assert(retok("ひらがな と カタカナ")
      === "ひら らが がな なと とカ カタ タカ カナ")
    // single ideograph is its own token; empty stays empty
    assert(retok("本") === "本")
    assert(retok("") === "")
    // space-delimited text passes through BYTE-IDENTICALLY — adopting
    // the adaptive path cannot change any existing Latin-corpus result
    for (s <- Seq("the quick brown fox", "  padded   text ", "a\tb\nc",
        "mixed 東京 latin heavy text here"))
      assert(retok(s) === s, s"no-op violated for '$s'")
    // detection is majority-rule per document
    def free(s: String): Boolean =
      Seq(s).toDF("t").select(TextAnalysis.isSpaceFreeScript(col("t"))).head().getBoolean(0)
    assert(free("東京都は大都市") && free("ภาษาไทย") && free("한국어문장"))
    assert(!free("one 東 two") && !free("plain english") && !free(""))
    // the adaptive tokens feed the SAME counters: a CJK doc stops
    // counting as one giant token
    val n = Seq("東京都は大都市です").toDF("t")
      .select(size(TextAnalysis.tokens(TextAnalysis.adaptiveRetokenize(col("t"))))).head().getInt(0)
    assert(n === 8, s"expected 8 bigrams, got $n")
    // the ideographic space U+3000 — the standard CJK separator —
    // strips like ASCII whitespace: no noise grams spanning it, and it
    // cannot vote against detection as if it were content
    assert(retok("東京　大阪") === "東京 京大 大阪")
    assert(free("東京　大阪　　　　"))
    // on the PASS-THROUGH branch U+3000 normalizes to ASCII space —
    // a Latin-majority doc quoting a CJK phrase must not keep it glued
    // as one token for the ASCII-whitespace tokenizers downstream
    assert(retok("quick brown fox jumps over 東京　大阪 streets")
      === "quick brown fox jumps over 東京 大阪 streets")
  }

  test("mojibake + control-char ppm: exact counts, clean text scores 0, tab/newline are structure not junk") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean text with tabs\tand\nnewlines\rok"), // structure, not junk
      (2L, "naÃ¯ve text"),          // one Ã + follower = 2 of 11 chars
      (3L, "â€œquotedâ€ here"),     // two â€. hits = 6 of 16 chars
      (4L, "bad\u0007bell\u001besc\u007f"), // BEL+ESC+DEL = 3 controls of 13 chars
      (5L, ""),                     // empty: both 0
      (6L, "ends with Ã")           // lead char with no follower: no hit
    ).toDF("doc_id", "text")
    val out = docs.select(
      col("doc_id"),
      TextAnalysis.mojibakeRatioPpm(col("text")).as("m"),
      TextAnalysis.controlCharRatioPpm(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((0L, 0L)))
    assert(out(2L)._1 === 2L * 1000000L / 11L, out(2L).toString)
    assert(out(3L)._1 === 6L * 1000000L / 16L, out(3L).toString)
    assert(out(4L) === ((0L, 3L * 1000000L / 13L)), out(4L).toString)
    assert(out(5L) === ((0L, 0L)))
    assert(out(6L)._1 === 0L, out(6L).toString)
  }

  test("lexicalCosinePairs: identical docs score 1, rare-term overlap beats stopword overlap, thresholds nest") {
    import spark.implicits._
    val docs = Seq(
      (1L, "quantum entanglement superconductor lattice"),
      (2L, "quantum entanglement superconductor lattice"), // exact dup of 1
      (3L, "quantum entanglement superconductor membrane"), // 3/4 rare overlap
      (4L, "the and of to in with from the and of"),        // stopword soup
      (5L, "the and of to in with from but or nor"),        // shares only soup
      (6L, "completely different vocabulary zone here"))
      .toDF("doc_id", "text")
    def pairs(p: Int, q: Int): Set[(Long, Long)] =
      TextAnalysis.lexicalCosinePairs(docs, "doc_id", "text", p, q)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val strict = pairs(99, 100)
    // the exact dup clears ANY threshold: num = ‖a‖² = ‖b‖²
    assert(strict.contains((1L, 2L)), strict.toString)
    // rows and orientation: unordered pairs once, id_a < id_b
    val all = TextAnalysis.lexicalCosinePairs(docs, "doc_id", "text", 1, 100)
      .collect()
    assert(all.forall(r => r.getLong(0) < r.getLong(1)))
    // thresholds nest: stricter ⊆ looser
    val mid = pairs(4, 5)
    val loose = pairs(2, 5)
    assert(strict.subsetOf(mid) && mid.subsetOf(loose))
    // the 3-shared-rare-term pair scores cos ≈ 0.46 (the unshared
    // terms carry the HIGHER idf, pulling it under 1/2): present at
    // 0.4, absent at 0.5 — the weighting is doing its job
    assert(loose.contains((1L, 3L)) && loose.contains((2L, 3L)))
    assert(!pairs(1, 2).contains((1L, 3L)))
    // num/norms are exact integers the caller can audit
    val r12 = TextAnalysis.lexicalCosinePairs(docs, "doc_id", "text", 99, 100)
      .filter(col("id_a") === 1L && col("id_b") === 2L).head
    assert(r12.getLong(2) === r12.getLong(3) && r12.getLong(3) === r12.getLong(4))
  }

  test("lexicalCosineAgainstIndex: exact copies recover their originals at cos 1; replayed ids never self-pair") {
    import spark.implicits._
    def phrase(tag: String) = (1 to 20).map(t => s"${tag}term$t").mkString(" ")
    val hist = ((0 until 12).map(i => (i.toLong, phrase(s"h$i"))) :+
      (12L, phrase("shared"))).toDF("doc_id", "text")
    TextAnalysis.writeBm25Index(hist, "doc_id", "text", "cos_inc_idx", buckets = 4)
    // the incremental path serves idf + history norms from stored
    // state: scoring without the sidecar refuses loudly
    val noSidecar = intercept[IllegalArgumentException] {
      TextAnalysis.lexicalCosineAgainstIndex(
        spark, "cos_inc_idx", Seq((100L, "x")).toDF("doc_id", "text"),
        "doc_id", "text", 99, 100).collect()
    }
    assert(noSidecar.getMessage.contains("refreshCosineNorms"), noSidecar.getMessage)
    TextAnalysis.refreshCosineNorms(spark, "cos_inc_idx")
    // batch: an exact copy of doc 12 under a new id, plus a doc of
    // terms history has never seen
    val batch = Seq((100L, phrase("shared")), (101L, phrase("unseen")))
      .toDF("doc_id", "text")
    val strict = TextAnalysis.lexicalCosineAgainstIndex(
      spark, "cos_inc_idx", batch, "doc_id", "text", 99, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict === Set((100L, 12L)), strict.toString)
    // the all-unseen doc pairs with nothing at any threshold — but its
    // norm still exists (unseen terms weight ln((N+1)/1) into it)
    val loose = TextAnalysis.lexicalCosineAgainstIndex(
      spark, "cos_inc_idx", batch, "doc_id", "text", 1, 100)
      .collect().map(_.getLong(0)).toSet
    assert(!loose.contains(101L))
    // replay: re-scoring a batch whose ids ALREADY sit in the index
    // must not self-collide at cos = 1 (the incremental-MinHash rule)
    val replay = Seq((12L, phrase("shared"))).toDF("doc_id", "text")
    val rp = TextAnalysis.lexicalCosineAgainstIndex(
      spark, "cos_inc_idx", replay, "doc_id", "text", 99, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rp.isEmpty, rp.toString)
  }

  test("incremental cosine lifecycle: scores frozen between refreshes; append maintains the sidecar; restamp moves scores exactly once") {
    import spark.implicits._
    def phrase(tag: String) = (1 to 12).map(t => s"${tag}t$t").mkString(" ")
    val hist = (0 until 8).map(i => (i.toLong, phrase(s"h$i"))).toDF("doc_id", "text")
    TextAnalysis.writeBm25Index(hist, "doc_id", "text", "cos_lc_idx", buckets = 2)
    TextAnalysis.refreshCosineNorms(spark, "cos_lc_idx")
    val batch = Seq((200L, phrase("h3"))).toDF("doc_id", "text") // copy of doc 3
    def score(): Set[(Long, Long, Long, Long, Long)] =
      TextAnalysis.lexicalCosineAgainstIndex(
        spark, "cos_lc_idx", batch, "doc_id", "text", 1, 100)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    val s1 = score()
    assert(s1.exists(t => t._2 == 3L && t._3 == t._4 && t._4 == t._5), s1.toString)
    // append a vocabulary-disjoint slab big enough to flip staleness:
    // live df and N move, the STORED snapshot does not
    val slab = (100 until 112).map(i => (i.toLong, phrase(s"z$i"))).toDF("doc_id", "text")
    TextAnalysis.appendToBm25Index(spark, "cos_lc_idx", slab, "doc_id", "text")
    assert(score() === s1) // frozen: bit-identical across the append
    assert(TextAnalysis.isStaleBm25Index(spark, "cos_lc_idx")) // 12/20 appended
    // an appended doc is scorable HISTORY immediately, no refresh —
    // under the frozen snapshot its unseen terms weight ln((N+1)/1)
    val probe = Seq((300L, phrase("z100"))).toDF("doc_id", "text")
    val hit = TextAnalysis.lexicalCosineAgainstIndex(
      spark, "cos_lc_idx", probe, "doc_id", "text", 99, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hit === Set((300L, 100L)), hit.toString)
    // ONE restamp moves the snapshot (N 8 → 20, z-terms enter df);
    // the same pairs survive but every fixed-point value moves NOW —
    // exactly at the refresh, never silently mid-epoch
    TextAnalysis.restampBm25Index(spark, "cos_lc_idx")
    val s3 = score()
    assert(s3.map(t => (t._1, t._2)) === s1.map(t => (t._1, t._2)))
    assert(s3 !== s1, "restamp must move the fixed-point scores")
  }

  test("cosine sidecar crash triage: missing norms caught and repaired; a moved snapshot refuses cosine AND append until refreshed") {
    import spark.implicits._
    def phrase(tag: String) = (1 to 10).map(t => s"${tag}w$t").mkString(" ")
    val hist = (0 until 6).map(i => (i.toLong, phrase(s"d$i"))).toDF("doc_id", "text")
    TextAnalysis.writeBm25Index(hist, "doc_id", "text", "cos_rep_idx", buckets = 2)
    TextAnalysis.refreshCosineNorms(spark, "cos_rep_idx")
    TextAnalysis.appendToBm25Index(spark, "cos_rep_idx",
      Seq((50L, phrase("d2"))).toDF("doc_id", "text"), "doc_id", "text")
    val batch = Seq((400L, phrase("d2"))).toDF("doc_id", "text")
    def score(): Set[(Long, Long)] =
      TextAnalysis.lexicalCosineAgainstIndex(
        spark, "cos_rep_idx", batch, "doc_id", "text", 99, 100)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseline = score()
    assert(baseline === Set((400L, 2L), (400L, 50L)), baseline.toString)
    // simulate the append dying BEFORE its norms write: doc 50's norm
    // row vanishes — the count compare refuses, repair backfills
    val kept = spark.table("cos_rep_idx_norms")
      .filter(col("doc_id") =!= 50L).localCheckpoint(true)
    kept.write.mode("overwrite").format("parquet").saveAsTable("cos_rep_idx_norms")
    spark.catalog.refreshTable("cos_rep_idx_norms")
    val e1 = intercept[IllegalArgumentException] { score() }
    assert(e1.getMessage.contains("repairCosineNorms"), e1.getMessage)
    val (_, backfilled) = TextAnalysis.repairCosineNorms(spark, "cos_rep_idx")
    assert(backfilled === 1L)
    assert(score() === baseline) // repaired norm is byte-exact
    assert(TextAnalysis.repairCosineNorms(spark, "cos_rep_idx")._2 === 0L) // idempotent
    // a moved df snapshot (restamp/rebuild that died before refreshing
    // the norms): fingerprint mismatch refuses the cosine AND the
    // append — an append under a mixed vector space must land nothing
    val tampered = spark.table("cos_rep_idx_terms")
      .withColumn("df", col("df") + 1L).localCheckpoint(true)
    tampered.write.mode("overwrite").format("parquet").saveAsTable("cos_rep_idx_terms")
    spark.catalog.refreshTable("cos_rep_idx_terms")
    val e2 = intercept[IllegalArgumentException] { score() }
    assert(e2.getMessage.contains("refreshCosineNorms"), e2.getMessage)
    val postingsBefore = spark.table("cos_rep_idx").count()
    val e3 = intercept[IllegalArgumentException] {
      TextAnalysis.appendToBm25Index(spark, "cos_rep_idx",
        Seq((60L, phrase("d3"))).toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(e3.getMessage.contains("refreshCosineNorms"), e3.getMessage)
    assert(spark.table("cos_rep_idx").count() === postingsBefore,
      "a refused append must land nothing")
    // one refresh re-derives norms under the current snapshot and heals
    TextAnalysis.refreshCosineNorms(spark, "cos_rep_idx")
    assert(score() === baseline) // same pairs (values valid under the tampered snapshot)
  }

  test("cosine sidecar rides delete and purge: tombstoned docs leave scores instantly; purge sweeps their norm rows physically") {
    import spark.implicits._
    def phrase(tag: String) = (1 to 10).map(t => s"${tag}v$t").mkString(" ")
    val hist = (0 until 5).map(i => (i.toLong, phrase(s"p$i"))).toDF("doc_id", "text")
    TextAnalysis.writeBm25Index(hist, "doc_id", "text", "cos_del_idx", buckets = 2)
    TextAnalysis.refreshCosineNorms(spark, "cos_del_idx")
    val batch = Seq((500L, phrase("p1"))).toDF("doc_id", "text")
    def score(): Set[(Long, Long)] =
      TextAnalysis.lexicalCosineAgainstIndex(
        spark, "cos_del_idx", batch, "doc_id", "text", 99, 100)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(score() === Set((500L, 1L)))
    TextAnalysis.deleteFromBm25Index(spark, "cos_del_idx", Seq(1L).toDF("doc_id"))
    assert(score() === Set.empty[(Long, Long)]) // tombstone filters the norms read too
    TextAnalysis.purgeBm25Index(spark, "cos_del_idx")
    assert(spark.table("cos_del_idx_norms").filter(col("doc_id") === 1L).count() === 0L,
      "purge must sweep the tombstoned doc's norm row physically")
    assert(score() === Set.empty[(Long, Long)])
  }

  test("reciprocalRankFusion: k0 = 0 rejected — rank 0 would div-by-zero to NULL silently") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1L)).toDF("query_id", "doc_id", "rank")
    intercept[IllegalArgumentException] {
      TextAnalysis.reciprocalRankFusion(Seq(a), k = 1, k0 = 0)
    }
  }

  test("bm25 append: carried-column presence check uses the session resolver (case-insensitive)") {
    import spark.implicits._
    val docs = table("documents")
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") < 50), "doc_id", "text",
      "bm25_case", buckets = 2, carryCols = Seq("lang"))
    // a batch supplying 'Lang' for stored 'lang' must be ACCEPTED —
    // col() resolves it case-insensitively, so the guard must too
    val batch = docs.filter(col("doc_id").between(50, 59))
      .select(col("doc_id"), col("text"), col("lang").as("Lang"))
    TextAnalysis.appendToBm25Index(spark, "bm25_case", batch, "doc_id", "text")
    val st = TextAnalysis.bm25IndexStats(spark, "bm25_case")
    assert(st.totalDocs === docs.filter(col("doc_id") < 60).count())
  }

  test("bm25 delete == rebuild: scores bit-identical to an index built without the docs") {
    import spark.implicits._
    val docs = table("documents")
    val queries = Seq((1L, "spark"), (1L, "hash"), (2L, "merge"), (2L, "vector"))
      .toDF("query_id", "term")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", "bm25_del", buckets = 4)
    val gone = docs.filter(col("doc_id") % 3 === 0).select("doc_id")
    val receipt = TextAnalysis.deleteFromBm25Index(spark, "bm25_del", gone)
    assert(receipt === gone.count(), "receipt counts removed documents")
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", "bm25_del_ref", buckets = 4)
    assert(
      bm25Rows(TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_del", queries, k = 5))
        == bm25Rows(TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_del_ref", queries, k = 5)),
      "deleted index must score exactly like a rebuild without the docs")
    // the second consumer (TF-IDF off the same postings) forgets them too
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "rank").collect().map(_.toString).toSeq
    assert(rows(TextAnalysis.tfidfTopTermsFromIndex(spark, "bm25_del", k = 3))
      == rows(TextAnalysis.tfidfTopTermsFromIndex(spark, "bm25_del_ref", k = 3)))
    // idempotent: re-deleting the same ids removes nothing further;
    // unknown ids tombstone harmlessly
    assert(TextAnalysis.deleteFromBm25Index(spark, "bm25_del", gone) === 0L)
    assert(TextAnalysis.deleteFromBm25Index(spark, "bm25_del",
      Seq(987654321L).toDF("doc_id")) === 0L)
  }

  test("bm25 delete: zero-token documents leave N exactly (roster, not postings, is truth)") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta"), (2L, ""), (3L, "alpha"), (4L, "   "))
      .toDF("doc_id", "text")
    TextAnalysis.writeBm25Index(corpus, "doc_id", "text", "bm25_zt", buckets = 2)
    assert(TextAnalysis.bm25IndexStats(spark, "bm25_zt").totalDocs === 4,
      "zero-token docs belong in N")
    // deleting a zero-token doc has no posting rows to anti-join, yet
    // must still decrement N — only the roster knows it existed
    assert(TextAnalysis.deleteFromBm25Index(spark, "bm25_zt",
      Seq(2L, 4L).toDF("doc_id")) === 2L)
    val st = TextAnalysis.bm25IndexStats(spark, "bm25_zt")
    assert(st.totalDocs === 2)
    assert(st.tombstoneFraction === 0.5)
  }

  test("bm25 purge: every intermediate crash state reads like the final one; disk shrinks") {
    import spark.implicits._
    val docs = table("documents")
    val queries = Seq((1L, "spark"), (2L, "hash")).toDF("query_id", "term")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", "bm25_pg", buckets = 4)
    val gone = docs.filter(col("doc_id") % 2 === 0).select("doc_id")
    TextAnalysis.deleteFromBm25Index(spark, "bm25_pg", gone)
    val logical = bm25Rows(
      TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_pg", queries, k = 5))
    // simulate a purge that died after step 1 (postings rewritten,
    // tombstones still present): reads must be unchanged — the
    // anti-join over already-purged postings is a no-op
    val ts = spark.table("bm25_pg_tombstones").select("doc_id").localCheckpoint(true)
    graft.plans.Compaction.rewriteBucketedTable(spark, "bm25_pg", tag = "purge")(
      _.join(broadcast(ts), Seq("doc_id"), "left_anti"))
    assert(bm25Rows(TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_pg", queries, k = 5))
      == logical, "crash between purge steps must not change answers")
    // re-running the purge completes it
    val (before, after) = TextAnalysis.purgeBm25Index(spark, "bm25_pg")
    assert(before === after, "step-1 rows were already purged")
    assert(!spark.catalog.tableExists("bm25_pg_tombstones"))
    assert(bm25Rows(TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_pg", queries, k = 5))
      == logical, "purge must not change answers")
    // physically gone: no posting row and no roster row carries a dead id
    val deadIds = gone.collect().map(_.getLong(0)).toSet
    assert(spark.table("bm25_pg").filter(col("doc_id").isin(deadIds.toSeq: _*)).count() === 0)
    assert(spark.table("bm25_pg_docs").filter(col("doc_id").isin(deadIds.toSeq: _*)).count() === 0)
    assert(TextAnalysis.bm25IndexStats(spark, "bm25_pg").tombstoneFraction === 0.0)
    // idempotent: purging an unpurged... already-clean index is a no-op
    val (b2, a2) = TextAnalysis.purgeBm25Index(spark, "bm25_pg")
    assert(b2 === a2)
  }

  test("bm25 repair: crashed append (postings landed, roster rows lost) backfills exactly") {
    import spark.implicits._
    val docs = table("documents")
    val base = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val queries = Seq((1L, "spark"), (2L, "merge")).toDF("query_id", "term")
    TextAnalysis.writeBm25Index(base, "doc_id", "text", "bm25_crash", buckets = 4)
    TextAnalysis.appendToBm25Index(spark, "bm25_crash", batch, "doc_id", "text")
    // simulate the death BETWEEN the two appends: roll the roster back
    // to base only (the postings keep the batch)
    graft.plans.Compaction.rewriteTable(spark, "bm25_crash_docs", tag = "purge")(
      _.join(base.select("doc_id"), Seq("doc_id"), "left_semi"))
    // a clean index repairs to zero; this one must backfill the batch
    val (_, backfilled) = TextAnalysis.repairBm25Index(spark, "bm25_crash")
    assert(backfilled === batch.count(), "every tokenful crashed doc recovered")
    assert(TextAnalysis.repairBm25Index(spark, "bm25_crash")._2 === 0L, "idempotent")
    // after repair the index answers like a clean build over the union
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", "bm25_crash_ref", buckets = 4)
    assert(
      bm25Rows(TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_crash", queries, k = 5))
        == bm25Rows(TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_crash_ref", queries, k = 5)))
  }

  test("restampBm25Index: clears append-driven staleness without a corpus re-tokenize; answers untouched") {
    import spark.implicits._
    val docs = table("documents")
    val tenth = docs.filter(col("doc_id") % 10 === 0)
    val rest = docs.filter(col("doc_id") % 10 =!= 0)
    val queries = Seq((1L, "spark"), (2L, "hash")).toDF("query_id", "term")
    TextAnalysis.writeBm25Index(tenth, "doc_id", "text", "bm25_restamp", buckets = 4)
    TextAnalysis.appendToBm25Index(spark, "bm25_restamp", rest, "doc_id", "text")
    assert(TextAnalysis.isStaleBm25Index(spark, "bm25_restamp"),
      "append-dominated index must flag")
    val before = bm25Rows(
      TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_restamp", queries, k = 5))
    TextAnalysis.restampBm25Index(spark, "bm25_restamp")
    assert(!TextAnalysis.isStaleBm25Index(spark, "bm25_restamp"),
      "restamp must clear the append/drift flags")
    val st = TextAnalysis.bm25IndexStats(spark, "bm25_restamp")
    assert(st.appendedFraction === 0.0 && st.builtDocs === docs.count(), st.toString)
    assert(st.maxDfDriftPpm === 0L && st.newTermPpm === 0L, st.toString)
    assert(bm25Rows(
      TextAnalysis.bm25TopKBatchFromIndex(spark, "bm25_restamp", queries, k = 5))
      == before, "restamp must not change answers")
    // a tombstone-driven flag is NOT clearable by restamping — bytes
    // need the purge
    TextAnalysis.deleteFromBm25Index(spark, "bm25_restamp",
      docs.filter(col("doc_id") % 2 === 0).select("doc_id"))
    TextAnalysis.restampBm25Index(spark, "bm25_restamp")
    assert(TextAnalysis.bm25IndexStats(spark, "bm25_restamp").tombstoneFraction > 0.2)
  }

  test("bm25 staleness: tombstone mass flags the purge the same way append mass flags rebuild") {
    import spark.implicits._
    val docs = table("documents").filter(col("doc_id") < 200)
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", "bm25_tsf", buckets = 2)
    assert(!TextAnalysis.isStaleBm25Index(spark, "bm25_tsf"))
    TextAnalysis.deleteFromBm25Index(spark, "bm25_tsf",
      docs.filter(col("doc_id") % 2 === 0).select("doc_id"))
    val st = TextAnalysis.bm25IndexStats(spark, "bm25_tsf")
    assert(st.tombstoneFraction > 0.2, st.toString)
    assert(TextAnalysis.isStaleBm25Index(spark, "bm25_tsf"),
      "tombstone-dominated index must flag")
    TextAnalysis.purgeBm25Index(spark, "bm25_tsf")
    assert(!TextAnalysis.isStaleBm25Index(spark, "bm25_tsf"),
      "purge must clear the flag")
  }

  test("bpeFertilityStats: hand-checked fertility per slice; the unserved slice reads inflated") {
    import spark.implicits._
    // merges: (a,b) then (ab,c) — "abc" → 1 token, "ab" → 1, "cd" → 2
    val merges = Seq(("a", "b"), ("ab", "c"))
    val docs = Seq(
      ("x", "abc ab abc"), // 3 words → 1+1+1 = 3 tokens
      ("x", "cd"),         // 1 word → 2 tokens
      ("y", "zzzz")        // 1 word, no merges apply → 4 tokens
    ).toDF("lang", "text")
    val out = TextAnalysis.bpeFertilityStats(docs, "lang", "text", merges)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("x") === ((4L, 5L, 1250000L)))
    assert(out("y") === ((1L, 4L, 4000000L)),
      "the unserved slice reads the inflated fertility")
  }
}
