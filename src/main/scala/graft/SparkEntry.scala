package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType}

import graft.functions.GroupConcat
import graft.objects.ObjectMigrator
import graft.operators.{Corpus, Dedup, Multimodal, Pca, Similarity, Sketches, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator family from SURVEY.md §2
  * (the id prefix maps to the §2 row) through the graft engine's public
  * surface; `oracleSql` holds the DuckDB-equivalent SQL the driver
  * hash-compares against. Every query ends in a deterministic ORDER BY so
  * the comparison is order-stable, and aggregates that touch doubles are
  * computed in DECIMAL then cast to DOUBLE so both engines produce
  * bit-identical values.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Fixtures.normalizeTs(s.read.parquet(s"$dir/$name.parquet"))

  /** Planted 9×8 gray P6 for the image-dedup gates: ids 2k/2k+1 share a
    * base ramp, the odd id perturbs ONE corner pixel (+40 mod 256) —
    * the construction every dHash twin replays bit for bit.
    */
  private def dedupPpm98(d: Int): Array[Byte] = {
    val base = d / 2
    val px = new Array[Byte](9 * 8 * 3)
    var o = 0
    for (y <- 0 until 8; x <- 0 until 9) {
      val bump = if (x == 0 && y == 0 && d % 2 == 1) 40 else 0
      val v = ((x * 31 + y * 17 + base * 7 + bump) % 256).toByte
      px(o) = v; px(o + 1) = v; px(o + 2) = v; o += 3
    }
    "P6\n9 8\n255\n".getBytes("US-ASCII") ++ px
  }

  /** Planted 16-bit mono WAVs for the audio-dedup gates: ids 2k/2k+1
    * share a waveform — the even id at 4 kHz; the odd id the SAME
    * waveform at 8 kHz via zero-order-hold frame doubling AND at half
    * volume (samples are even, so the halving is exact) — the two
    * invariances the fingerprint holds exactly, so every pair lands at
    * Hamming 0 after canonicalization. Every 10th id (d % 10 == 9)
    * carries text bytes instead: non-audio payloads must pass through
    * fingerprint-less, never hashed.
    */
  private def dedupWav(d: Int): Array[Byte] = {
    if (d % 10 == 9) return s"not audio $d".getBytes("US-ASCII")
    val base = d / 2
    val n = 96 + base % 32 // canonical frames (>= the 72-frame floor)
    val rep = 1 + d % 2    // odd ids: ZOH frame doubling + half volume
    val frames = n * rep
    val rate = 4000 * rep
    val out = new Array[Byte](44 + frames * 2)
    def ascii(o: Int, s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      System.arraycopy(b, 0, out, o, 4)
    }
    def le32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      out(o + 2) = ((v >> 16) & 0xff).toByte; out(o + 3) = ((v >> 24) & 0xff).toByte
    }
    def le16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    ascii(0, "RIFF"); le32(4, 36 + frames * 2); ascii(8, "WAVE")
    ascii(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, 1)
    le32(24, rate); le32(28, rate * 2); le16(32, 2); le16(34, 16)
    ascii(36, "data"); le32(40, frames * 2)
    var i = 0
    while (i < frames) {
      val j = i / rep
      // even in [-12000, 11998] so the odd id's halving is exact
      val v = 2 * ((j * j * 7 + j * 31 + base * 131) % 12000 - 6000) / rep
      le16(44 + 2 * i, v & 0xffff)
      i += 1
    }
    out
  }

  /** Planted AVIs for the video-dedup gates: ids 2k/2k+1 share F =
    * 3 + 2·(k % 2) gray 9×8 P6 frames in a real RIFF/AVI `LIST movi`
    * (pixel v(x,y,t) = (x·31 + y·17 + base·7 + [y>0]·t·11) % 256 —
    * row 0 is frame-invariant so bit 0's operands never drift with t);
    * the odd id bumps the (0,0) corner (+40 mod 256) in the MINORITY
    * ⌊F/2⌋ leading frames — each bumped frame's dHash can flip bit 0,
    * and the per-bit majority must absorb the flips, so every pair
    * lands at Hamming 0 (the per-frame-noise robustness the video
    * fingerprint exists for). F is odd (3 or 5), so no majority ties.
    * Every 10th id (d % 10 == 9) carries text bytes instead:
    * non-video payloads must pass through fingerprint-less.
    */
  private def dedupAvi(d: Int): Array[Byte] = {
    if (d % 10 == 9) return s"not video $d".getBytes("US-ASCII")
    val base = d / 2
    val f = 3 + 2 * (base % 2)
    val frames = (0 until f).map { t =>
      val px = new Array[Byte](9 * 8 * 3)
      var o = 0
      for (y <- 0 until 8; x <- 0 until 9) {
        val bump = if (x == 0 && y == 0 && d % 2 == 1 && t < f / 2) 40 else 0
        val tt = if (y == 0) 0 else t * 11
        val v = ((x * 31 + y * 17 + base * 7 + tt + bump) % 256).toByte
        px(o) = v; px(o + 1) = v; px(o + 2) = v; o += 3
      }
      "P6\n9 8\n255\n".getBytes("US-ASCII") ++ px
    }
    val bos = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def le32(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
    }
    val frameSz = frames.head.length // 231, odd → RIFF pad byte
    val moviSz = 4 + f * (8 + frameSz + (frameSz & 1))
    ascii("RIFF"); le32(4 + (8 + 68) + (8 + moviSz)); ascii("AVI ")
    ascii("LIST"); le32(68); ascii("hdrl")
    ascii("avih"); le32(56)
    le32(40000); le32(0); le32(0); le32(0) // 25 fps, maxbps/pad/flags
    le32(f); le32(0); le32(1); le32(0) // totalFrames, initial, streams, bufsize
    le32(9); le32(8); le32(0); le32(0); le32(0); le32(0) // dims + reserved
    ascii("LIST"); le32(moviSz); ascii("movi")
    frames.foreach { fr =>
      ascii("00db"); le32(fr.length); bos.write(fr)
      if ((fr.length & 1) == 1) bos.write(0)
    }
    bos.toByteArray
  }

  /** Planted 16-bit mono 8 kHz WAVs for the audio-segmentation gate:
    * 50 windows of 160 frames with three voiced runs separated by two
    * planted silent gaps ([a, a+g1) and [b, b+g2), a = 8+d%5,
    * g1 = 2+d%3, b = 25+d%4, g2 = 3+d%2 — always ordered, always
    * three segments). Voiced samples come from the avalanche-ish
    * quadratic `2·(((i²·13 + i·31 + d·131) % 6000) − 3000)` (window
    * energy ≈ 1.9e9 vs the relative threshold ≈ 1.7e8 — an 11×
    * margin, verified over all plants); silent windows are exact
    * zeros. Every 10th id (d % 10 == 9) carries text bytes (non-audio
    * emits nothing); every 7th-mod-3 id is ALL-silent (mean 0, no
    * window passes a strict-inequality threshold — zero rows).
    */
  private def segWav(d: Int): Array[Byte] = {
    if (d % 10 == 9) return s"not audio $d".getBytes("US-ASCII")
    val frames = 8000
    val out = new Array[Byte](44 + frames * 2)
    def ascii(o: Int, s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      System.arraycopy(b, 0, out, o, 4)
    }
    def le32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      out(o + 2) = ((v >> 16) & 0xff).toByte; out(o + 3) = ((v >> 24) & 0xff).toByte
    }
    def le16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    ascii(0, "RIFF"); le32(4, 36 + frames * 2); ascii(8, "WAVE")
    ascii(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, 1)
    le32(24, 8000); le32(28, 8000 * 2); le16(32, 2); le16(34, 16)
    ascii(36, "data"); le32(40, frames * 2)
    val a = 8 + d % 5; val g1 = 2 + d % 3
    val b = 25 + d % 4; val g2 = 3 + d % 2
    var i = 0
    while (i < frames) {
      val w = i / 160
      val silent = d % 7 == 3 ||
        (w >= a && w < a + g1) || (w >= b && w < b + g2)
      val v = if (silent) 0
        else 2 * ((((i.toLong * i * 13 + i * 31 + d * 131) % 6000) - 3000).toInt)
      le16(44 + 2 * i, v & 0xffff)
      i += 1
    }
    out
  }

  /** Planted WAVs for the audio SEGMENT-dedup gate: the [[segWav]]
    * layout with base-keyed boundaries (g1 = 2+base%3, b = 25+base%4,
    * g2 = 3+base%2, base = d/2 — twin clips 2k/2k+1 share them) and
    * three planted identities: segment 0 is a GLOBAL 8-window jingle
    * (every clip shares its samples — the syndicated-ad plant),
    * segments 1–2 key on base (twins share their bodies), and odd ids
    * play the whole clip at EXACT half volume (samples even) — the
    * segmentation's relative threshold and the fingerprint's
    * volume invariance must both hold for the pairs to land. Measured:
    * all 1431 jingle + 48 twin-body pairs at Hamming ≤ 3, worst
    * non-planted pair 6 apart. Every 10th id carries text bytes.
    */
  private def segDedupWav(d: Int): Array[Byte] = {
    if (d % 10 == 9) return s"not audio $d".getBytes("US-ASCII")
    val base = d / 2
    val dv = 1 + d % 2
    val g1 = 2 + base % 3; val b = 25 + base % 4; val g2 = 3 + base % 2
    val frames = 8000
    val out = new Array[Byte](44 + frames * 2)
    def ascii(o: Int, s: String): Unit = {
      val bb = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      System.arraycopy(bb, 0, out, o, 4)
    }
    def le32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      out(o + 2) = ((v >> 16) & 0xff).toByte; out(o + 3) = ((v >> 24) & 0xff).toByte
    }
    def le16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    ascii(0, "RIFF"); le32(4, 36 + frames * 2); ascii(8, "WAVE")
    ascii(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, 1)
    le32(24, 8000); le32(28, 8000 * 2); le16(32, 2); le16(34, 16)
    ascii(36, "data"); le32(40, frames * 2)
    var i = 0
    while (i < frames) {
      val w = i / 160
      // samples are even, so the odd id's halving is exact — floor
      // and truncating division agree, keeping the twin replayable
      val v =
        if (w < 8)
          2 * ((((i.toLong * i * 11 + i * 29 + 7) % 6000) - 3000).toInt) / dv
        else if ((w >= 8 && w < 8 + g1) || (w >= b && w < b + g2)) 0
        else
          2 * ((((i.toLong * i * 13 + i * 31 + base * 131) % 6000) - 3000).toInt) / dv
      le16(44 + 2 * i, v & 0xffff)
      i += 1
    }
    out
  }

  /** Planted AVIs for the shot-segmentation gate: 9 gray 9×8 P6
    * frames in a real RIFF/AVI `LIST movi`, cut into three shots at
    * frame boundaries b1 = 2 + d%3 and b2 = 6 + d%2. Shot s picks
    * the gradient pattern — pixel v(x,y,t) = (x·(29+97·s) + y·17 +
    * d·7) % 128 + [y>0]·t·11 + bump — the spatial term wraps INSIDE
    * 128 so the additive t·11 row drift (≤ 88) never re-wraps a
    * pixel: consecutive frames WITHIN a shot share every gradient
    * sign (measured within-shot Hamming ≤ 1, boundary Hamming ≥ 15
    * against the threshold 8) while a shot change rewrites the
    * pattern. The bump (+40 at pixel
    * (0,0) on odd frames) jitters ≤ 1 bit per consecutive pair — a
    * false-cut trap the threshold must absorb. Docs with d % 4 == 2
    * plant a non-raster garbage chunk at frame 4: the walk must drop
    * it without splitting the shot. Every 10th id (d % 10 == 9)
    * carries text bytes — non-video payloads emit zero shots.
    */
  private def sceneAvi(d: Int): Array[Byte] = {
    if (d % 10 == 9) return s"not video $d".getBytes("US-ASCII")
    val f = 9
    val b1 = 2 + d % 3
    val b2 = 6 + d % 2
    val frames: Seq[Array[Byte]] = (0 until f).map { t =>
      if (d % 4 == 2 && t == 4) s"garbage frame $d".getBytes("US-ASCII")
      else {
        val s = if (t < b1) 0 else if (t < b2) 1 else 2
        val px = new Array[Byte](9 * 8 * 3)
        var o = 0
        for (y <- 0 until 8; x <- 0 until 9) {
          val bump = if (x == 0 && y == 0 && t % 2 == 1) 40 else 0
          val tt = if (y == 0) 0 else t * 11
          val v = ((x * (29 + 97 * s) + y * 17 + d * 7) % 128 + tt + bump).toByte
          px(o) = v; px(o + 1) = v; px(o + 2) = v; o += 3
        }
        "P6\n9 8\n255\n".getBytes("US-ASCII") ++ px
      }
    }
    aviContainer(frames)
  }

  /** Minimal real RIFF/AVI container around 9×8 frame payloads —
    * shared by the scene/shot fixtures.
    */
  private def aviContainer(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def le32(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
    }
    val moviSz = 4 + frames.map(fr => 8 + fr.length + (fr.length & 1)).sum
    ascii("RIFF"); le32(4 + (8 + 68) + (8 + moviSz)); ascii("AVI ")
    ascii("LIST"); le32(68); ascii("hdrl")
    ascii("avih"); le32(56)
    le32(40000); le32(0); le32(0); le32(0) // 25 fps, maxbps/pad/flags
    le32(frames.length); le32(0); le32(1); le32(0) // totalFrames, initial, streams, bufsize
    le32(9); le32(8); le32(0); le32(0); le32(0); le32(0) // dims + reserved
    ascii("LIST"); le32(moviSz); ascii("movi")
    frames.foreach { fr =>
      ascii("00db"); le32(fr.length); bos.write(fr)
      if ((fr.length & 1) == 1) bos.write(0)
    }
    bos.toByteArray
  }

  /** Planted AVIs for the SHOT-dedup gate: 9 frames, three shots cut
    * at frames 3 and 6. Shot pixels come from a FULL-AVALANCHE hash of
    * (pattern key, x, y) — `m = key·4096 + x·64 + y`, one Knuth
    * multiply, a 16-bit xor-shift fold, a second multiply, high bits
    * mod 128 — so distinct keys give independent gradient fields
    * (measured: boundary Hamming ≥ 22, non-planted shot pairs ≥ 19
    * apart) while equal keys give identical frames up to the additive
    * per-row drift. Keys: shot 0 is the GLOBAL intro (key 9999 —
    * every video shares it, the boilerplate-segment plant); shots 1–2
    * key on (base = d/2, s), so twin videos 2k/2k+1 share their
    * non-intro shots too. Odd ids bump pixel (0,0) on odd frames
    * (≤ 1 fingerprint bit — the majority absorbs or carries it, either
    * way within Hamming 1). Every 10th id (d % 10 == 9) carries text
    * bytes: non-video payloads emit nothing.
    */
  private def shotDedupAvi(d: Int): Array[Byte] = {
    if (d % 10 == 9) return s"not video $d".getBytes("US-ASCII")
    val base = d / 2
    def pix(key: Int, x: Int, y: Int): Int = {
      val m = key.toLong * 4096L + x * 64L + y
      val h1 = Math.floorMod(m * 2654435761L, 4294967296L)
      val h2 = h1 ^ (h1 / 65536L)
      val h3 = Math.floorMod(h2 * 40503L, 4294967296L)
      ((h3 / 32768L) % 128L).toInt
    }
    val frames = (0 until 9).map { t =>
      val s = if (t < 3) 0 else if (t < 6) 1 else 2
      val key = if (s == 0) 9999 else 1 + base * 2 + (s - 1)
      val px = new Array[Byte](9 * 8 * 3)
      var o = 0
      for (y <- 0 until 8; x <- 0 until 9) {
        val bump = if (x == 0 && y == 0 && d % 2 == 1 && t % 2 == 1) 40 else 0
        val tt = if (y == 0) 0 else t * 11
        val v = (pix(key, x, y) + tt + bump).toByte
        px(o) = v; px(o + 1) = v; px(o + 2) = v; o += 3
      }
      "P6\n9 8\n255\n".getBytes("US-ASCII") ++ px
    }
    aviContainer(frames)
  }

  /** Stable table-name key for a fixture-backed cached index: a digest
    * of the data directory PLUS the frame's current file listing.
    * `dir.hashCode` alone risked two failure modes — a 32-bit collision
    * between fixture paths silently serving one fixture's index to
    * another's queries, and a fixture REGENERATED in place (same path,
    * new part files) reusing an index built from the old data. Part
    * files carry fresh UUIDs on every write, so the listing digest
    * changes whenever the data does.
    */
  private def fixtureKey(dir: String, df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(dir.getBytes("UTF-8"))
    df.inputFiles.sorted.foreach(f => md.update(f.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** events.ts after [[Fixtures.normalizeTs]]: always a proper
    * microsecond timestamp, whichever vintage the fixture is.
    */
  private def eventTs = col("ts")

  /** events.ts as epoch microseconds (exact: int64 all the way). */
  private def eventUs = unix_micros(col("ts"))

  /** sum over a double column, exact: decimal-accumulate then one cast. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Hazard suffix for the text-format round-trip gates: LF, quotes,
    * backslash, comma, tab, BMP (☃ é) + astral (🦄) unicode, CRLF. The
    * fixture text is hazard-free word salad, so the gates append this
    * (and null out / empty out columns on id-keyed slices) identically
    * in Spark and the DuckDB oracle — the hash only matches if the
    * JSONL/CSV codec round-trips every class losslessly.
    */
  private val HazardSuffix =
    "\n\"q\" \\ ,\t☃ 🦄 é\r\nend"

  /** One deterministic scratch dir per (format, fixture) for the
    * round-trip gates, instead of a fresh createTempDirectory per
    * invocation: every write goes through SaveMode.Overwrite, so reps
    * reuse the same path and a bench run leaves O(formats) dirs behind,
    * not O(reps × runs) — the temp-dir-per-rep leak class the stream
    * twin once had.
    */
  private def roundTripDir(fmt: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_rt_${fmt}_" +
      java.lang.Integer.toHexString(dir.hashCode)

  /** Drop a round-trip dataset's versioning siblings from a previous
    * driver run — `__versions` AND any `__<tag>_old`/`__<tag>_tmp`
    * crash residue — so a versioned gate's numbering starts at v1
    * every run. Without the residue sweep, a crashed previous run's
    * `__delete_old` would be ADOPTED as v1 by the versioned triage
    * (correct production behavior, wrong gate fixture): the gate must
    * start from a provably clean slate.
    */
  private def freshVersionsRoot(s: SparkSession, out: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(p)
    val prefix = q.getName + "__"
    if (fs.exists(q.getParent))
      fs.listStatus(q.getParent)
        .filter(_.getPath.getName.startsWith(prefix))
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** documents decorated with the round-trip hazards: suffix on text,
    * `lang` nulled on doc_id%7=0, `source` emptied on doc_id%11=0 (null
    * vs empty string must stay distinct through the codec).
    */
  private def hazardDocs(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      concat(col("text"), lit(HazardSuffix)).as("text"),
      when(col("doc_id") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("lang")).as("lang"),
      when(col("doc_id") % 11 === 0, lit(""))
        .otherwise(col("source")).as("source"),
      col("n_chars"))

  /** DuckDB twin of [[hazardDocs]]: same decoration computed directly
    * from parquet (standard SQL literals treat backslash literally, so
    * only the control characters need `chr()`).
    */
  private val HazardOracleSql: String =
    "SELECT doc_id, " +
      "text || chr(10) || '\"q\" \\ ,' || chr(9) || '☃ 🦄 é' || " +
      "chr(13) || chr(10) || 'end' AS text, " +
      "CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang, " +
      "CASE WHEN doc_id % 11 = 0 THEN '' ELSE source END AS source, " +
      "n_chars FROM documents ORDER BY doc_id"

  /** DuckDB twin of the TF-IDF top-terms scorer — shared by the
    * tokenize-per-call gate (`q_text_tfidf`) and the postings-index
    * gate (`q_text_tfidf_indexed`), which must answer identically.
    * idf is quantized FIRST (integer micro-units); score and ranking
    * are then exact integer arithmetic — see tfidfTopTerms scaladoc.
    */
  private def tfidfOracleOver(src: String): String =
    s"toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM $src), " +
      "t2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0), " +
      "tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY doc_id, term), " +
      "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
      s"n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM $src), " +
      "scored AS (SELECT f.doc_id, f.term, f.tf, d.df, " +
      "f.tf * CAST(floor(ln(CAST(n.n_docs + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS score_fx " +
      "FROM tf f JOIN dfreq d USING (term) CROSS JOIN n), " +
      "r AS (SELECT doc_id, term, tf, df, score_fx, " +
      """row_number() OVER (PARTITION BY doc_id ORDER BY score_fx DESC, term) AS "rank" FROM scored) """ +
      """SELECT doc_id, CAST("rank" AS BIGINT) AS "rank", term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, """ +
      "CAST(score_fx AS BIGINT) AS score_fx " +
      """FROM r WHERE "rank" <= 5 ORDER BY doc_id, "rank""""

  private val TfidfOracleSql: String = "WITH " + tfidfOracleOver("documents")

  /** DuckDB twin of the batched-BM25 scorer — shared by the
    * in-memory gate (`q_text_bm25_batch`) and the materialized-index
    * gate (`q_text_bm25_indexed`): the indexed path must equal the
    * in-memory path bit-for-bit, so they are held to ONE oracle.
    */
  /** The batched-BM25 CTE chain up to the per-query rank `r` —
    * shared by [[Bm25BatchOracleSql]] and the rank-fusion twin, which
    * consumes the SAME ranked run as its relevance channel.
    */
  private def bm25BatchCtesOver(docsWhere: String): String =
    ("WITH docs AS (SELECT doc_id, text, " +
        "CAST(len(list_filter(str_split(text, ' '), t -> len(t) > 0)) AS BIGINT) AS dl " +
        s"FROM documents$docsWhere), " +
        "toks AS (SELECT doc_id, dl, unnest(str_split(text, ' ')) AS term FROM docs), " +
        "t2 AS (SELECT doc_id, dl, term FROM toks WHERE length(term) > 0 " +
        "AND term IN ('spark', 'hash', 'vector', 'window', 'merge', 'batch')), " +
        "tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM t2 GROUP BY doc_id, dl, term), " +
        "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
        "stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM docs), " +
        "scored AS (SELECT f.doc_id, f.term, " +
        "CAST(floor(ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) / " +
        "(CAST(d.df AS DOUBLE) + 0.5)) * 1000000.0 + 0.5) AS BIGINT) AS idf_fx, " +
        "(CAST(f.tf AS DOUBLE) * (1.2 + 1.0)) / (CAST(f.tf AS DOUBLE) + " +
        "1.2 * ((1.0 - 0.75) + (0.75 * CAST(f.dl AS DOUBLE)) / " +
        "(CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) AS ratio " +
        "FROM tf f JOIN dfreq d USING (term) CROSS JOIN stats s), " +
        "sc2 AS (SELECT doc_id, term, CAST(floor(CAST(idf_fx AS DOUBLE) * ratio + 0.5) AS BIGINT) AS score_fx " +
        "FROM scored), " +
        "q(query_id, term) AS (VALUES (1, 'spark'), (1, 'hash'), (2, 'vector'), " +
        "(2, 'window'), (3, 'merge'), (3, 'batch')), " +
        "agg AS (SELECT q.query_id, s.doc_id, sum(s.score_fx) AS score_fx " +
        "FROM sc2 s JOIN q USING (term)__CAND__ GROUP BY q.query_id, s.doc_id), " +
        "r AS (SELECT query_id, doc_id, score_fx, " +
        """row_number() OVER (PARTITION BY query_id ORDER BY score_fx DESC, doc_id) AS "rank" FROM agg)""")

  private val Bm25BatchCtes: String = bm25BatchCtesOver("")

  private def bm25BatchOracle(
      candidateJoin: String, docsWhere: String = ""): String =
    bm25BatchCtesOver(docsWhere).replace("__CAND__", candidateJoin) +
      """ SELECT CAST(query_id AS BIGINT) AS query_id, CAST("rank" AS BIGINT) AS "rank", doc_id, """ +
      "CAST(score_fx AS BIGINT) AS score_fx " +
      """FROM r WHERE "rank" <= 5 ORDER BY query_id, "rank""""

  private val Bm25BatchOracleSql: String = bm25BatchOracle("")

  /** Deletion twin: the whole chain — dl, tf, df, N, avgdl, candidates
    * — recomputed over the corpus WITHOUT the tombstoned docs; the
    * tombstoned index must answer bit-identically (the delete ==
    * rebuild contract).
    */
  private val Bm25DeletedOracleSql: String =
    bm25BatchOracle("", " WHERE doc_id % 3 <> 0")

  /** Filtered-retrieval twin: the SAME corpus-wide statistics and
    * per-(doc, term) scores, with only the CANDIDATE set restricted —
    * an inner join to the doc's metadata in the per-query aggregation.
    */
  private val Bm25FilteredOracleSql: String =
    bm25BatchOracle(" JOIN documents dd ON dd.doc_id = s.doc_id AND dd.lang = 'en'")

  // ---- shared SQL lambdas for the greedy-family twins ----
  private def oracleDot(a: String, b: String): String =
    s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]), (acc, v) -> acc + v)"
  private def oracleCosN2(a: String, n2a: String, b: String, n2b: String): String =
    s"(CASE WHEN $n2a * $n2b = 0.0 THEN 0.0 ELSE ${oracleDot(a, b)} / (sqrt($n2a) * sqrt($n2b)) END)"
  private val OracleMicroQuant =
    "list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000000 + 0.5) AS DOUBLE))"

  /** ONE parameterized greedy twin serves the MMR arms, the k-center
    * coreset, and the per-group diverse sampler — the engine arithmetic
    * (pinned-order folds, λppm·rel − μppm·maxSim scores, the
    * (score DESC, cid) argmax, NOT-EXISTS exclusion) is written once,
    * so a tie-rule or fold change can never leave a sibling oracle
    * gating stale arithmetic. The caller supplies the CTE prefix
    * (must end in `rel AS (SELECT qid, cid, cv, cn2, rel …), `), λ,
    * the round count, and the final projection over
    * `fin(qid, rank, cid, score)`.
    */
  private def greedyOracleSql(
      prefix: String, lam: Long, k: Int, finalSelect: String): String = {
    val mu = 1000000L - lam
    val sb = new StringBuilder
    sb ++= prefix
    sb ++= s"s1 AS (SELECT qid, cid, cv, cn2, rel, $lam * rel - $mu * 0.0 AS score, " +
      s"row_number() OVER (PARTITION BY qid ORDER BY $lam * rel - $mu * 0.0 DESC, cid) AS rn FROM rel), "
    sb ++= "sel1 AS (SELECT qid, cid, cv, cn2, score, 1 AS rank FROM s1 WHERE rn = 1), "
    for (r <- 2 to k) {
      val prev = s"sel${r - 1}"
      // IS NOT DISTINCT FROM mirrors the engine's null-safe <=> joins,
      // so a NULL group key (diverseSamplePerGroup) keeps selecting in
      // the twin exactly as it does in the engine.
      sb ++= s"pen$r AS (SELECT r.qid, r.cid, r.cv, r.cn2, r.rel, " +
        s"MAX(${oracleCosN2("r.cv", "r.cn2", "s.cv", "s.cn2")}) AS ms " +
        s"FROM rel r JOIN $prev s ON r.qid IS NOT DISTINCT FROM s.qid " +
        s"WHERE NOT EXISTS (SELECT 1 FROM $prev t WHERE t.qid IS NOT DISTINCT FROM r.qid AND t.cid = r.cid) " +
        "GROUP BY r.qid, r.cid, r.cv, r.cn2, r.rel), "
      sb ++= s"s$r AS (SELECT qid, cid, cv, cn2, $lam * rel - $mu * ms AS score, " +
        s"row_number() OVER (PARTITION BY qid ORDER BY $lam * rel - $mu * ms DESC, cid) AS rn FROM pen$r), "
      sb ++= s"sel$r AS (SELECT * FROM $prev UNION ALL " +
        s"SELECT qid, cid, cv, cn2, score, $r AS rank FROM s$r WHERE rn = 1), "
    }
    sb ++= s"fin AS (SELECT qid, rank, cid, score FROM sel$k) "
    sb ++= finalSelect
    sb.toString
  }

  /** MMR greedy twin, shared by the in-memory and full-recall indexed
    * arms: four unrolled rounds reproduce the picks AND the emitted
    * score_ppm bit-for-bit.
    */
  private val MmrOracleSql: String = greedyOracleSql(
    prefix = s"WITH q0 AS (SELECT vec_id + 1000000 AS qid, $OracleMicroQuant AS qv FROM embeddings WHERE vec_id < 3), " +
      s"c0 AS (SELECT vec_id AS cid, $OracleMicroQuant AS cv FROM embeddings WHERE vec_id < 150), " +
      s"qn AS (SELECT qid, qv, ${oracleDot("qv", "qv")} AS qn2 FROM q0), " +
      s"cn AS (SELECT cid, cv, ${oracleDot("cv", "cv")} AS cn2 FROM c0), " +
      s"rel AS (SELECT qid, cid, cv, cn2, ${oracleCosN2("qv", "qn2", "cv", "cn2")} AS rel FROM qn, cn WHERE cid <> qid), ",
    lam = 700000L, k = 4,
    finalSelect = "SELECT CAST(qid AS BIGINT) AS query_id, rank, CAST(cid AS BIGINT) AS neighbor_id, " +
      "CAST(floor(score + 0.5) AS BIGINT) AS score_ppm FROM fin ORDER BY query_id, rank")

  /** k-center twin: the greedy twin's λ=0 specialization — one
    * constant greedy key, rel ≡ 0.0 (the engine multiplies relevance
    * away), seed = lowest id from the all-tied first round.
    */
  private val KCenterOracleSql: String = greedyOracleSql(
    prefix = s"WITH c0 AS (SELECT 0 AS qid, vec_id AS cid, $OracleMicroQuant AS cv, 0.0 AS rel FROM embeddings WHERE vec_id < 120), " +
      s"rel AS (SELECT qid, cid, cv, ${oracleDot("cv", "cv")} AS cn2, rel FROM c0), ",
    lam = 0L, k = 5,
    finalSelect = "SELECT rank, CAST(cid AS BIGINT) AS vec_id, " +
      "CAST(-floor(score + 0.5) AS BIGINT) AS max_cos_ppm FROM fin ORDER BY rank")

  /** Per-group diverse-sample twin: the greedy twin with the LABEL as
    * the key and the exact-ratio quality column as the relevance.
    */
  private val DiverseSampleOracleSql: String = greedyOracleSql(
    prefix = s"WITH c0 AS (SELECT label AS qid, vec_id AS cid, $OracleMicroQuant AS cv, " +
      "CAST(vec_id % 97 AS DOUBLE) / 97.0 AS rel FROM embeddings WHERE vec_id < 200), " +
      s"rel AS (SELECT qid, cid, cv, ${oracleDot("cv", "cv")} AS cn2, rel FROM c0), ",
    lam = 600000L, k = 3,
    finalSelect = "SELECT qid AS label, rank, CAST(cid AS BIGINT) AS vec_id, " +
      "CAST(floor(score + 0.5) AS BIGINT) AS score_ppm FROM fin ORDER BY label, rank")

  /** Semantic-decontamination twin, shared by the brute and banded
    * arms: benchmark = exact copies of vec_id < 50, so the count of
    * cosine-≥0.8 benchmark hits per corpus vector is decided with a
    * ≥ 0.199 margin on every fixture — `list_cosine_similarity`'s
    * ulp-order differences cannot flip it.
    */
  private val EmbeddingDecontamOracle: String =
    "WITH b AS (SELECT CAST(embedding AS DOUBLE[]) AS bv FROM embeddings WHERE vec_id < 50), " +
      "h AS (SELECT e.vec_id, count(*) AS n_hits FROM embeddings e JOIN b " +
      "ON list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), b.bv) >= 0.8 GROUP BY e.vec_id) " +
      "SELECT e.vec_id, COALESCE(h.n_hits, 0) AS n_hits, COALESCE(h.n_hits, 0) > 0 AS contaminated " +
      "FROM embeddings e LEFT JOIN h USING (vec_id) ORDER BY e.vec_id"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_a5_group_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (plus the
    * adapted TPC-H remainder from [[graft.analytics.Tpch]]).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.analytics.Tpch.queries ++ Map[String, (SparkSession, String) => DataFrame](
    // K1-K3 — the migration data path itself: partitioned read →
    // shuffle-free batched write → read-back (the reference's TableData
    // phase; BASELINE.md throughput comparison anchor)
    "q_k1_copy_lineitem" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_copy").toString
      graft.sinks.BatchWriter.writeParquet(t(s, dir, "lineitem"), tmp, "lineitem")
      s.read.parquet(s"$tmp/lineitem.parquet")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    }),
    // Z-order clustered copy queried under a two-dimensional range
    // predicate: the layout (ZOrder.zorderWrite) must be a pure
    // permutation, so the filtered read-back matches the same predicate
    // on the source exactly; the skipping effectiveness of the layout
    // itself is gated in ZOrderSpec (both dims' per-file coverage ≪
    // the single-column-sort baseline)
    "q_zorder_scan" -> ((s, dir) => {
      val out = roundTripDir("zorder", dir)
      graft.plans.ZOrder.zorderWrite(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey"), out, numFiles = 8)
      s.read.parquet(out)
        .filter(col("l_partkey") <= 200 && col("l_orderkey") <= 30000)
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    }),
    // Same contract along the Hilbert curve: the clustered write is a
    // pure permutation (the native Skilling kernel only PLACES rows),
    // so the pruned scan answers exactly what the raw table answers
    "q_hilbert_scan" -> ((s, dir) => {
      val out = roundTripDir("hilbert", dir)
      graft.plans.ZOrder.hilbertWrite(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey"), out, numFiles = 8)
      s.read.parquet(out)
        .filter(col("l_partkey") <= 200 && col("l_orderkey") <= 30000)
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    }),
    // K2/K3 — text-format corpus ingestion round-trips (JSONL / CSV).
    // Raw training corpora land as JSONL.gz or CSV shards, and a lossy
    // codec corrupts silently — so the gate decorates documents with
    // every hazard class (embedded LF + CRLF, quotes, backslash, comma,
    // tab, BMP + astral unicode, null vs empty string), pushes the rows
    // through write→read, and hash-compares against the oracle computing
    // the same decoration straight from parquet: any conflation or
    // mangling in the codec path breaks the hash.
    "q_k2_jsonl_roundtrip" -> ((s, dir) => {
      val dec = hazardDocs(t(s, dir, "documents"))
      val path = graft.sources.TextFormats.writeJsonl(dec,
        roundTripDir("jsonl", dir), "documents")
      graft.sources.TextFormats.readJsonl(s, path, dec.schema).orderBy("doc_id")
    }),
    "q_k3_csv_roundtrip" -> ((s, dir) => {
      val dec = hazardDocs(t(s, dir, "documents"))
      val path = graft.sources.TextFormats.writeCsv(dec,
        roundTripDir("csv", dir), "documents")
      graft.sources.TextFormats.readCsv(s, path, dec.schema).orderBy("doc_id")
    }),
    // K5 — XML round-trip through Spark 4's native XML source: CRLF
    // survives via the writer's &#xd; character reference (a raw CR
    // would be parser-normalized to LF), null vs empty string via the
    // out-of-band XmlNullToken
    "q_k5_xml_roundtrip" -> ((s, dir) => {
      val dec = hazardDocs(t(s, dir, "documents"))
      val path = graft.sources.TextFormats.writeXml(dec,
        roundTripDir("xml", dir), "documents")
      graft.sources.TextFormats.readXml(s, path, dec.schema).orderBy("doc_id")
    }),
    // K4 — ORC round-trip of the embeddings table: complex-type
    // (array<float>) fidelity through the second columnar format. The
    // comparison never ships raw float arrays — both sides reduce each
    // vector to an exact integer KR fold over floor(x·10⁶+0.5) (pure
    // IEEE double ops, bit-identical across engines), so any element
    // lost, reordered, or perturbed by the ORC codec breaks the hash.
    "q_k4_orc_roundtrip" -> ((s, dir) => {
      val tmp = roundTripDir("orc", dir)
      graft.sinks.BatchWriter.writeOrc(t(s, dir, "embeddings"), tmp, "embeddings")
      val back = s.read.orc(s"$tmp/embeddings.orc")
      val M = 1000000007L
      back.select(
        col("vec_id"), col("label"),
        size(col("embedding")).cast(LongType).as("dim"),
        aggregate(
          transform(col("embedding"),
            x => floor(x.cast("double") * 1e6 + 0.5).cast(LongType)),
          lit(0L),
          (acc, v) => ((acc * 31 + v) % M + M) % M).as("emb_fold"))
        .orderBy("vec_id")
    }),
    // S5/P1 — full scan with explicit column projection (pushed to parquet)
    "q_s5_scan_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // S6/O3 — WHERE 1=0 schema probe ≡ limit(0)
    "q_s6_probe" -> ((s, dir) => {
      t(s, dir, "lineitem").select("l_orderkey", "l_quantity").limit(0)
    }),
    // S15/A1 — per-table row counts (the compareDb verification scan).
    // One unioned job, not N sequential count() actions: each leg is a
    // count-star aggregate over a column-less scan, so Spark runs all
    // ten scans inside a single job.
    "q_s15_table_counts" -> ((s, dir) => {
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      tables
        .map(n => t(s, dir, n).agg(count(lit(1)).as("n_rows"))
          .select(lit(n).as("table_name"), col("n_rows")))
        .reduce(_.unionByName(_))
        .orderBy("table_name")
    }),
    // S4/A2/F10 — page-count scan: ceil(count(*)/pageSize)
    "q_s4_page_count" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .agg(ceil(count(lit(1)) / lit(1000.0)).cast(LongType).as("pages"))
    }),
    // A3/A4/W2 — ordered listagg (Oracle `listagg ... within group`)
    "q_a3_listagg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_orderkey"))
        .agg(GroupConcat
          .orderedConcat(col("l_linenumber"), col("l_linenumber").cast("string"), ",")
          .as("line_numbers"))
        .orderBy("l_orderkey")
    }),
    // A5 — hash aggregate with multiple measures (flagship agg shape)
    "q_a5_group_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price")
        )
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // A5+ — rollup aggregate (grouping-sets family; subtotals + grand
    // total in one pass — the richer verification aggregate SURVEY §2.5
    // notes Catalyst gives for free)
    "q_a_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")
    }),
    // J1 — left-outer catalog join (columns ⟕ comments analog); small dim
    // side broadcast — no shuffle at scale
    "q_j1_left_outer" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left_outer")
        .select(n("n_nationkey"), n("n_name"), r("r_name"))
        .orderBy("n_nationkey")
    }),
    // J3/P2/O4 — anti-join (NOT IN exclude-list semantics)
    "q_j3_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),
    // J4/S15 — src↔dest count comparison as a full-outer join
    "q_j4_full_outer_compare" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(
          coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
          when(c("c_custkey").isNull, lit("NO")).otherwise(lit("YES")).as("cust_exists"),
          coalesce(o("n_orders"), lit(0L)).as("n_orders")
        )
        .orderBy("custkey")
    }),
    // P2-P8 — compound predicates: <>, IN-list
    "q_p_filters" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "F" &&
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .orderBy("o_orderkey")
    }),
    // F1 — scalar string/conditional function surface
    "q_f1_string_funcs" -> ((s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_type"), 1, 5).as("type5"),
          regexp_replace(col("p_name"), " ", "_").as("name_u"),
          least(col("p_size"), lit(25)).as("size_c"),
          when(col("p_size") > 25, lit("L")).otherwise(lit("S")).as("bucket"),
          instr(col("p_type"), "a").cast(IntegerType).as("pos_a"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type")
        )
        .orderBy("p_partkey")
    }),
    // F4/F5 — date/time formatting and extraction (UTC end-to-end)
    "q_f4_date_format" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("dt_str"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo")
        )
        .orderBy("o_orderkey")
    }),
    // F7/P8 — regex capture-group extraction + rlike filter
    "q_f7_regex_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("props").rlike("\"k\""))
        .select(
          col("event_id"),
          regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast(IntegerType).as("k")
        )
        .orderBy("event_id")
    }),
    // F6+ — JSON scalar extraction (props payload → typed column) and
    // struct-to-JSON round trip
    "q_f6_json" -> ((s, dir) => {
      t(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k"),
          to_json(struct(col("event_id"), col("event_type"))).as("as_json")
        )
        .orderBy("event_id")
    }),
    // F8 — chained dialect-rewrite (the view-text transpiler shape)
    "q_f8_view_rewrite" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          regexp_replace(regexp_replace(upper(col("text")), "SPARK", "FLINK"),
            "JOIN", "MERGE").as("rewritten")
        )
        .orderBy("doc_id")
    }),
    // W1 — row_number windows (the ROWNUM analog, partitioned — never a
    // single global window). Window order must be a total order within
    // the partition — (l_linenumber, l_quantity, l_extendedprice) is
    // unique per l_orderkey in the fixtures — or ties make rn
    // nondeterministic.
    "q_w1_row_number" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          row_number().over(w).as("rn")
        )
        .orderBy("l_orderkey", "l_linenumber", "rn")
    }),
    // W2 — running aggregate with an explicit frame
    "q_w2_running_sum" -> ((s, dir) => {
      val w = Window
        .partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          sum(col("l_quantity").cast(DecimalType(18, 4))).over(w)
            .cast("double").as("running_qty")
        )
        .orderBy("l_orderkey", "l_linenumber", "running_qty")
    }),
    // O-family top-N: ORDER BY + LIMIT plans as TakeOrderedAndProject —
    // a per-partition partial top-N then one driver merge, never a
    // global sort (the scale-safe shape)
    "q_o_topn" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10)
    }),
    // O4 — set difference
    "q_o4_except" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.except(sup).orderBy("nationkey")
    }),
    // O4+ — set intersection (nations having both customers and suppliers)
    "q_o_intersect" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.intersect(sup).orderBy("nationkey")
    }),
    // Dedup (exact): content-hash grouping over documents
    "q_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("keeper"))
        .orderBy("text_hash")
    }),
    // Text analysis: HTML → visible-text extraction (web-crawl WET
    // step). The fixture text is plain, so the query wraps each doc in
    // a deterministic page — head/title/style, a script whose BODY
    // contains a decoy </p> tag, a comment, block tags, entity-laden
    // boilerplate — identically in Spark and the oracle; the twin then
    // runs the IDENTICAL RE2-safe regexp chain, pinning Spark-vs-
    // portable parity of the extraction kernel.
    "q_text_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>t</title><style>p{color:red}</style></head>" +
          "<body><script type=\"text/javascript\">var x = \"<p>not content</p>\";" +
          "</script><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><!-- nav boilerplate --><p>"),
        col("text"),
        lit("</p><p>Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;s&nbsp;end</p>" +
          "<div>footer</div></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.htmlToText(html).as("plain_text"))
        .orderBy("doc_id")
    }),
    // Text analysis: token/char counting
    "q_text_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          length(col("text")).cast(LongType).as("n_chars2"),
          size(split(col("text"), " ", -1)).cast(LongType).as("n_tokens")
        )
        .orderBy("doc_id")
    }),
    // Text analysis: stopword frequency via replace-diff
    "q_text_stopword" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          ((length(col("text")) - length(regexp_replace(col("text"), "the", ""))) / 3)
            .cast(LongType).as("n_the")
        )
        .orderBy("doc_id")
    }),
    // Text analysis: BPE-ish subword count + composite quality score
    "q_text_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.bpeishTokenCount(col("text")).cast(LongType).as("n_bpeish"),
          TextAnalysis.qualityScore(col("text")).as("quality")
        )
        .orderBy("doc_id")
    }),
    // Quality-weighted sampling: keep-probability = the document's own
    // micro-quantized quality score — smooth importance thinning via
    // the portable hash lottery, exact integer comparison
    // hash·1e6 < ppm·2^32 (no rounding anywhere past the score quantize)
    "q_corpus_quality_sample" -> ((s, dir) => {
      Corpus.qualityWeightedSample(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),
    // Streaming-analog: event-time windowed aggregation (batch form of the
    // Structured Streaming hourly rollup)
    "q_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"), date_trunc("hour", eventTs).as("hr"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .orderBy("user_id", "hr")
    }),
    // Streaming-analog: gap-based sessionization (batch form of the
    // flatMapGroupsWithState operator; 30-minute gap)
    "q_events_sessionize" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("user_id"), eventUs.as("us"), col("event_id"), col("value"))
      graft.streaming.Sessionize
        .batch(ev, "user_id", "us", "value", "event_id", 30L * 60 * 1000000)
        .orderBy("user_id", "session_seq")
    }),
    // Multimodal plumbing: opaque binary column + byte-length metadata
    "q_mm_binary_meta" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          length(col("text").cast("binary")).cast(LongType).as("n_bytes")
        )
        .orderBy("doc_id")
    }),
    // Dedup (exact, via the operator library): keep lowest id per
    // normalized-content fingerprint
    "q_dedup_exact_keep" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id")
        .orderBy("doc_id")
    }),
    // Exact dedup with the QUALITY keep policy: within a duplicate
    // set keep the best-scored copy (ties to the smaller id), not
    // whichever id sorts first — the C4/RefinedWeb curation rule
    "q_dedup_exact_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // plant duplicate SETS: ids 3k/3k+1/3k+2 all carry doc 3k's text,
      // so every set must elect its best-quality member
      val fixture = docs.select(col("doc_id"))
        .withColumn("__src", col("doc_id") - pmod(col("doc_id"), lit(3L)))
        .join(docs.select(col("doc_id").as("__src"), col("text")), Seq("__src"))
        .withColumn("quality", pmod(col("doc_id") * lit(2654435761L), lit(97L)))
        .select("doc_id", "text", "quality")
      Dedup.exactKeepBest(fixture, "doc_id", "text", col("quality"))
        .select("doc_id", "quality")
        .orderBy("doc_id")
    }),
    // Text analysis battery: whitespace tokens, punct/stopword ratios,
    // mean token length (all codegen'd expression compositions)
    "q_text_analysis" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.tokenCount(txt).cast(LongType).as("n_tokens_ws"),
          TextAnalysis.punctRatio(txt).as("punct_ratio"),
          TextAnalysis.stopwordRatio(txt).as("stopword_ratio"),
          TextAnalysis.meanTokenLength(txt).as("mean_token_len")
        )
        .orderBy("doc_id")
    }),
    // Language ID: marker-token argmax heuristic
    "q_text_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),
    // ANN: exact brute-force cosine top-1 (the baseline path)
    "q_sim_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      Similarity.bruteForceTopK(queries, emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 1)
        .select(col("query_id"), col("neighbor_id").as("nn_id"))
        .orderBy("query_id")
    }),
    // PCA squeeze + exact search in the reduced space: one distributed
    // moments pass fits the top-16 principal directions, both sides
    // project through the same literal weights, brute-force cosine runs
    // 4× narrower. Planted exact copies project IDENTICALLY to their
    // originals (same input, same literals, same arithmetic) so the
    // rank-1 neighbor is the original by a measured ≥ 0.10 projected-
    // cosine margin (max non-copy 16-dim cosine: 0.86 sf0.001 / 0.82
    // sf0.01 / 0.90 sf0.1) — engine-independent even though the
    // covariance itself is floating-point.
    "q_sim_pca_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Pca.pcaTopK(queries, emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", "vec_id", "embedding",
        dim = 64, nComponents = 16, k = 1)
        .select(col("query_id").cast(LongType).as("query_id"),
          col("neighbor_id").cast(LongType).as("neighbor_id"))
        .orderBy("query_id")
    }),
    // PCA lifecycle arm: the projector fitted from PERSISTED per-batch
    // moments rows — two disjoint halves appended as epochs 0/1, epoch
    // 1 re-appended as a crash-replay twin (fitFromMoments keeps one
    // row per batch_id, so the double-count never reaches the
    // covariance), then the same planted-copy search as q_sim_pca_topk.
    "q_sim_pca_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      s.sql("DROP TABLE IF EXISTS pca_moments_gate")
      Pca.appendMoments(emb.filter(col("vec_id") % 2 === 0), "embedding",
        dim = 64, batchId = 0L, tableName = "pca_moments_gate")
      Pca.appendMoments(emb.filter(col("vec_id") % 2 === 1), "embedding",
        dim = 64, batchId = 1L, tableName = "pca_moments_gate")
      Pca.appendMoments(emb.filter(col("vec_id") % 2 === 1), "embedding",
        dim = 64, batchId = 1L, tableName = "pca_moments_gate")
      val model = Pca.fitFromMoments(s, "pca_moments_gate", 16)
      val queries = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Pca.pcaTopKWithModel(queries, emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", "vec_id", "embedding", model, k = 1)
        .select(col("query_id").cast(LongType).as("query_id"),
          col("neighbor_id").cast(LongType).as("neighbor_id"))
        .orderBy("query_id")
    }),
    // MMR diversified retrieval: 4 greedy rounds, λ = 0.7, micro-unit
    // vectors and pinned-order folds throughout — the oracle unrolls
    // the SAME four rounds and reproduces every pick AND the emitted
    // score_ppm bit-for-bit (no planted-margin crutch: the greedy
    // argmax itself is engine-exact).
    "q_sim_mmr_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3).select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.mmrTopK(queries, emb.filter(col("vec_id") < 150),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 4, lambdaPpm = 700000L)
        .select(col("query_id").cast(LongType).as("query_id"), col("rank"),
          col("neighbor_id").cast(LongType).as("neighbor_id"), col("score_ppm"))
        .orderBy("query_id", "rank")
    }),
    // Cross-dataset semantic join: planted copies of vec_id 40..79 on
    // the right side pair with their originals at cosine ≈ 1.0 (≥ 0.199
    // margin over any non-copy pair); the banded arm's exact verify
    // makes the output equal brute-force threshold pairs
    "q_sim_cosine_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val right = emb.filter(col("vec_id") >= 40 && col("vec_id") < 80)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.cosineJoin(
        emb.filter(col("vec_id") < 300).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", right, "vec_id", "embedding",
        threshold = 0.8, nBits = 6, nBands = 6)
        .select(col("left_id").cast(LongType).as("left_id"),
          col("right_id").cast(LongType).as("right_id"))
        .orderBy("left_id", "right_id")
    }),
    // Neighborhood density: cosine to the 5th nearest neighbor per
    // vector, exact micro-units — the full frame (neighbor identity
    // and score) replays in the twin; the all-pairs pass is the
    // documented O(n²) oracle-baseline tier
    "q_sim_knn_density" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.kthNeighborScore(
        emb.filter(col("vec_id") < 120).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 5)
        .select(col("vec_id").cast(LongType).as("vec_id"),
          col("kth_neighbor").cast(LongType).as("kth_neighbor"),
          col("kth_cos_ppm"))
        .orderBy("vec_id")
    }),
    // Per-group diversified exemplar selection: quality as relevance,
    // the group as the greedy key — 3 lockstep rounds pick the best
    // non-redundant exemplars per label; quality is an exact integer
    // ratio ((vec_id % 97)/97) so the twin replays picks AND score_ppm
    "q_sim_diverse_sample" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.diverseSamplePerGroup(
        emb.filter(col("vec_id") < 200).withColumn("q",
          (col("vec_id") % 97).cast("double") / 97.0),
        "label", "vec_id", "embedding", "q", k = 3, lambdaPpm = 600000L)
        .select(col("label"), col("rank"),
          col("vec_id").cast(LongType).as("vec_id"), col("score_ppm"))
        .orderBy("label", "rank")
    }),
    // k-center coreset: farthest-point traversal (the MMR engine's λ=0
    // arm) — seed at the lowest id (all round-1 scores tie), then k−1
    // rounds of argmin max-cosine-to-selected; the twin unrolls the
    // same rounds with the same micro-unit arithmetic, so picks AND
    // the per-pick coverage telemetry replay bit-for-bit
    "q_sim_kcenter" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.kCenterSample(emb.filter(col("vec_id") < 120),
        "vec_id", "embedding", k = 5)
        .select(col("rank"), col("vec_id").cast(LongType).as("vec_id"),
          col("max_cos_ppm"))
        .orderBy("rank")
    }),
    // MMR through the materialized IVF-SQ index at full-recall knobs
    // (every list probed, shortlist = corpus): candidate set and
    // arithmetic equal the in-memory arm's, so the SAME greedy twin
    // gates both — production knobs then trade recall for the
    // bucket-pruned shortlist like every other FromIndex searcher.
    "q_sim_mmr_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // build-once/query-many like every other *_indexed gate (the
      // fixture-keyed tableExists guard): this gate rebuilt its index
      // on EVERY bench rep, billing a full bucketed-table write to a
      // query whose subject is the indexed MMR probe
      val idxTable = s"mmr_ivf_gate_${fixtureKey(dir, emb)}"
      if (!s.catalog.tableExists(idxTable))
        Similarity.writeIvfSqIndex(emb.filter(col("vec_id") < 150),
          "vec_id", "embedding", idxTable, nCentroids = 8, buckets = 4)
      val queries = emb.filter(col("vec_id") < 3).select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.mmrTopKFromIndex(s, idxTable, queries,
        "vec_id", "embedding", k = 4, shortlist = 150, nProbe = 8,
        lambdaPpm = 700000L)
        .select(col("query_id").cast(LongType).as("query_id"), col("rank"),
          col("neighbor_id").cast(LongType).as("neighbor_id"), col("score_ppm"))
        .orderBy("query_id", "rank")
    }),
    // ANN scale path: LSH-bucketed top-k, 6 OR-combined 6-bit bands.
    // Queries are planted exact copies (vec_id+1000000) of the first 20
    // corpus vectors: a copy shares EVERY band with its original, so
    // the original is always a candidate, and its cosine ≈ 1.0 beats
    // every other vector by a ≥ 0.48 margin (max non-dup cosine 0.513)
    // — the rank-1 row is engine-independent even though ranks 2..k are
    // hash-family-specific, so the gate projects rank 1 only. Full
    // top-k recall stays gated in SimilaritySpec.
    "q_sim_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.lshTopK(queries, emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 5, nBits = 6, nBands = 6)
        .filter(col("rank") === 1)
        .select(col("query_id").cast(LongType).as("query_id"),
          col("neighbor_id").cast(LongType).as("neighbor_id"))
        .orderBy("query_id")
    }),
    // ANN inverted-file path: stride-sampled coarse quantizer, narrow-map
    // list assignment, nProbe-list probe. Same planted-copy scheme: the
    // query ranks centroids with the same arithmetic that assigned its
    // original, so the original's list is always probed (top-1 of
    // nProbe=4) and the exact copy wins rank 1 by the 0.48 cosine margin.
    "q_sim_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.ivfTopK(queries, emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4)
        .filter(col("rank") === 1)
        .select(col("query_id").cast(LongType).as("query_id"),
          col("neighbor_id").cast(LongType).as("neighbor_id"))
        .orderBy("query_id")
    }),
    // ANN inverted-file, portable twin: same IVF pipeline with the
    // Knuth-hash centroid pick, so centroid choice → list assignment →
    // probe → top-k is reproduced end-to-end by the DuckDB oracle
    "q_sim_ivf_portable" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      Similarity.ivfTopK(queries, emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, portableCentroids = true)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),
    // k-means-refined IVF: two deterministic Lloyd passes sharpen the
    // coarse quantizer, then the same planted-copy scheme — the copy
    // ranks the refined centroids with the same arithmetic that
    // assigned its original, so the original's list is its top probe
    // and the exact copy wins rank 1 by the fixture's cosine margin
    "q_sim_ivf_refined_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.ivfRefinedTopK(queries, emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, iters = 2)
        .filter(col("rank") === 1)
        .select(col("query_id").cast(LongType).as("query_id"),
          col("neighbor_id").cast(LongType).as("neighbor_id"))
        .orderBy("query_id")
    }),
    // The Lloyd refinement itself, oracled end to end: seed pick,
    // argmax-cosine assignment, exact BIGINT component sums, and the
    // truncating integer mean of BOTH passes replay in DuckDB — an
    // RNG-free k-means whose every centroid component is bit-checked
    "q_sim_kmeans_refine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.kmeansRefine(emb, "vec_id", "embedding", nCentroids = 8, iters = 2)
        .orderBy("list_id", "pos")
    }),
    // Scalar-quantized two-phase ANN: int8 codes rank ALL candidates by
    // exact integer dot (no float in candidate selection), the
    // shortlist re-ranks at full precision — the quantized-retrieval
    // shape a 100 TB embedding scan uses; fully reproduced by the oracle
    "q_sim_sq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      Similarity.quantizedTopK(queries, emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 5, shortlist = 32)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),
    // Product-quantized ADC ANN: m=4 subspace codes from a Knuth-
    // sampled codebook (64× smaller than float32 vs SQ's 4×), phase-1
    // ADC over the code table with fixed-point per-subspace
    // contributions (quantize-then-sum, order-free), full-precision
    // re-rank of the shortlist — seed pick, encode argmin, ADC, and
    // re-rank all replayed exactly by the DuckDB oracle
    // Centroid drift between two epoch halves (vec_id parity): per
    // label, cosine of the halves' centroid vectors — near 1e6 ppm for
    // a stationary distribution; the embedding-space staleness signal
    "q_sim_centroid_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.centroidDrift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1),
        "label", "embedding")
        .orderBy("label")
    }),
    // Per-label norm band: drop each label's degenerate norm tails by
    // exact-integer rank — the vector twin of q_corpus_length_band
    "q_sim_norm_band" -> ((s, dir) => {
      Similarity.normBandFilter(t(s, dir, "embeddings"),
        "label", "vec_id", "embedding", lo = 0.05, hi = 0.95)
        .select(col("vec_id"), col("label"), col("norm2_fx"), col("pr_fx"))
        .orderBy("vec_id")
    }),
    // Per-label embedding centroids in exact fixed point: posexplode →
    // bounded hash aggregate (shuffle ≤ groups × dim rows), micro-unit
    // sums in BIGINT, mean by integer division
    "q_sim_group_centroids" -> ((s, dir) => {
      Similarity.groupCentroids(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label", "pos")
    }),
    // Sign-random projection (Achlioptas ±1 JL): dim-64 embeddings to
    // 16 exact integer components, the matrix regenerated from Knuth-
    // mixed parities — a pure per-row map through the native dot
    // kernel, every value an exact integer both engines replay
    "q_sim_sign_project" -> ((s, dir) => {
      Similarity.signProject(t(s, dir, "embeddings"),
        "vec_id", "embedding", outDim = 16)
        .select(col("vec_id"), posexplode(col("proj_fx")).as(Seq("j", "proj_fx")))
        .select(col("vec_id"), col("j").cast(LongType).as("j"), col("proj_fx"))
        .orderBy("vec_id", "j")
    }),
    "q_sim_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      Similarity.pqTopK(queries, emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 5,
        m = 4, nCodes = 16, shortlist = 32, portable = true)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),
    // IVF × PQ, the full production composition: coarse lists prune
    // WHICH rows phase 1 touches, PQ codes shrink WHAT it reads per
    // row, shortlist re-ranks exact. Codebook = the Knuth ranks AFTER
    // the quantizer picks, so codes don't just echo the list id. The
    // oracle replays every stage bit-for-bit
    "q_sim_ivf_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      Similarity.ivfPqTopK(queries, emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, m = 4, nCodes = 16,
        shortlist = 32, portable = true)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),
    // Two-level ANN (IVF-SQ): probe nProbe inverted lists, int8
    // integer-dot shortlist WITHIN probed lists only, full-precision
    // re-rank — no phase scans the whole corpus per query batch. The
    // Knuth-hash centroid pick makes the whole pipeline (centroid →
    // assignment → probe → int-dot → re-rank) oracle-reproducible
    "q_sim_ivf_sq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      Similarity.ivfQuantizedTopK(queries, emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, shortlist = 32, portableCentroids = true)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),
    // Hashed-feature ANN, end to end: signed-hash feature vectors from
    // raw TEXT (no encoder anywhere) → dense d=16 vectors → the SAME
    // materialized IVF-SQ index machinery the embedding gates use →
    // probed-bucket-pruned retrieval. Proves the model-free geometry
    // actually feeds the ANN family, not just that both exist; every
    // stage (token hash, densify, centroid pick, assignment, int8
    // codes, probes, re-rank) replays in the DuckDB twin
    "q_sim_hashed_ann" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vecs = TextAnalysis.hashFeatureVectors(docs, "doc_id", "text", d = 16)
      val idxTable = s"hashed_ivfsq_gate_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(idxTable))
        Similarity.writeIvfSqIndex(vecs, "doc_id", "vec", idxTable,
          nCentroids = 16, buckets = 8, portableCentroids = true)
      Similarity.ivfQuantizedTopKFromIndex(s, idxTable,
        vecs.filter(col("doc_id") < 20), "doc_id", "vec",
        k = 5, nProbe = 4, shortlist = 32)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),
    // FILTERED vector search: the IVF-SQ index built WITH a carried
    // metadata column (label), queried under a predicate — phase-1
    // candidates prune to qualifying rows BEFORE ranking, so top-k is
    // over the qualifying sub-corpus with the full corpus's quantizer.
    // The oracle adds the same candidate predicate to the shared
    // replay chain
    "q_sim_ann_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxTable = s"filtered_ivfsq_gate_${fixtureKey(dir, emb)}"
      if (!s.catalog.tableExists(idxTable))
        Similarity.writeIvfSqIndex(emb, "vec_id", "embedding", idxTable,
          nCentroids = 16, buckets = 8, portableCentroids = true,
          carryCols = Seq("label"))
      Similarity.ivfQuantizedTopKFromIndexWhere(s, idxTable,
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        predicate = col("label") === 2, k = 5, nProbe = 4, shortlist = 32)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),
    // DELETED vector search: the IVF-SQ index with every vec_id % 3 == 0
    // tombstoned — deleted vectors can never reach a shortlist, the
    // quantizer stays the full corpus's (deletion must not move it),
    // and the oracle excludes the same ids from phase-1 candidates in
    // the shared replay chain (the delete == rebuild contract)
    "q_sim_ann_deleted" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxTable = s"deleted_ivfsq_gate_${fixtureKey(dir, emb)}"
      if (!s.catalog.tableExists(idxTable)) {
        Similarity.writeIvfSqIndex(emb, "vec_id", "embedding", idxTable,
          nCentroids = 16, buckets = 8, portableCentroids = true)
        Similarity.deleteFromIvfSqIndex(s, idxTable,
          emb.filter(col("vec_id") % 3 === 0).select("vec_id"))
      }
      Similarity.ivfQuantizedTopKFromIndex(s, idxTable,
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        k = 5, nProbe = 4, shortlist = 32)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),
    // kNN label propagation: majority vote over the 7 exact nearest
    // labeled neighbors — pseudo-labeling with a deterministic
    // tie-break, the whole pipeline (cosine fold order, rank ties,
    // vote ties) reproduced by the SQL oracle
    "q_sim_knn_label" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnClassify(emb.filter(col("vec_id") < 20), emb,
        "vec_id", "embedding", "vec_id", "embedding", "label", k = 7)
        .select(col("query_id"), col("label").cast(LongType).as("label"),
          col("votes"))
        .orderBy("query_id")
    }),
    // ANN-backed kNN label propagation: the same majority vote over
    // neighbors retrieved from the MATERIALIZED IVF-SQ index — build
    // the bucketed index once, then the query batch reads only its
    // probed buckets (literal list-id pruning); Knuth-hash centroids
    // make index build → probe → int-dot → re-rank → vote
    // oracle-reproducible end-to-end
    "q_sim_knn_label_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // build-once-query-many is the production contract: within a
      // session the deterministic index is reused, not rebuilt per
      // invocation — the same policy persistOnce gives the in-memory
      // index caches (bench reps then time the query path, which is
      // the recurring cost). The table name is keyed by the DATA
      // DIRECTORY: a bare existence check would silently serve one
      // fixture's index to another fixture's queries
      val idxTable = s"knn_ivfsq_gate_${fixtureKey(dir, emb)}"
      if (!s.catalog.tableExists(idxTable))
        Similarity.writeIvfSqIndex(emb, "vec_id", "embedding",
          idxTable, nCentroids = 16, buckets = 8,
          portableCentroids = true)
      Similarity.knnClassifyFromIndex(s, idxTable,
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        emb, "vec_id", "label", k = 7, nProbe = 4, shortlist = 32)
        .select(col("query_id"), col("label").cast(LongType).as("label"),
          col("votes"))
        .orderBy("query_id")
    }),
    // Frame/sample extraction plumbing: n evenly spaced byte windows
    // per payload — deterministic window math, so the explode shape
    // gets a full oracle instead of a count-only spec. Frames are
    // binary; the gate compares their hex expansion (DuckDB has no
    // BLOB substring, and hex is engine-portable ASCII)
    "q_mm_frames" -> ((s, dir) => {
      val media = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.sampleFrames(media, "doc_id", "payload", n = 4)
        .select(col("doc_id"), col("frame_idx"),
          hex(col("frame_sample")).as("frame_hex"))
        .orderBy("doc_id", "frame_idx")
    }),
    // Real pixel resample: 30 deterministic 6×6 P6 payloads plus one
    // real 3×2 bottom-up padded BMP are nearest-neighbor-resampled to
    // 3×3 and re-encoded P6 — the oracle reconstructs the EXPECTED
    // OUTPUT BYTES (header + resampled plane) from the same integer
    // math, so the decode→resample→encode path is value-gated, not
    // just shape-gated. A truncated P6 and a text payload prove the
    // corrupt-input contract: byte-identical pass-through, NULL dims
    "q_mm_resample" -> ((s, _) => {
      import s.implicits._
      def ppm6(d: Int): Array[Byte] = {
        val px = new Array[Byte](6 * 6 * 3)
        var o = 0
        for (y <- 0 until 6; x <- 0 until 6) {
          px(o) = ((d * 7 + y * 6 + x) % 256).toByte
          px(o + 1) = ((d * 11 + y * 13 + x * 5) % 256).toByte
          px(o + 2) = ((d * 3 + y * 2 + x * 9) % 256).toByte
          o += 3
        }
        "P6\n6 6\n255\n".getBytes("US-ASCII") ++ px
      }
      // 3×2 bottom-up 24-bit BMP, rows padded to 12 bytes, BGR order;
      // image rows top→bottom: (10,20,30|40,50,60|70,80,90) then
      // (110,120,130|140,150,160|170,180,190)
      val bmp: Array[Byte] = {
        val rows = Seq( // file order = bottom-up: image row 1 first
          Seq((110, 120, 130), (140, 150, 160), (170, 180, 190)),
          Seq((10, 20, 30), (40, 50, 60), (70, 80, 90)))
        val head = Array[Int](
          'B', 'M', 0, 0, 0, 0, 0, 0, 0, 0, 54, 0, 0, 0, // file header
          40, 0, 0, 0, 3, 0, 0, 0, 2, 0, 0, 0,           // dib, w=3, h=2
          1, 0, 24, 0, 0, 0, 0, 0, 0, 0, 0, 0,           // planes/bpp/comp/size
          0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0).map(_.toByte)
        head ++ rows.flatMap(r =>
          r.flatMap { case (rr, gg, bb) => Seq(bb.toByte, gg.toByte, rr.toByte) } ++
            Seq(0.toByte, 0.toByte, 0.toByte))
      }
      val media: Seq[(Long, Array[Byte])] =
        (0 until 30).map(d => (d.toLong, ppm6(d))) ++ Seq(
          (100L, "P6\n6 6\n255\n".getBytes("US-ASCII") ++
            Array.tabulate(10)(_.toByte)),
          (101L, "not an image".getBytes("US-ASCII")),
          (102L, bmp))
      Multimodal.resize(media.toDF("media_id", "payload"),
        "media_id", "payload", 3, 3)
        .select(col("media_id"), hex(col("payload")).as("payload_hex"),
          col("format"), col("width"), col("height"))
        .orderBy("media_id")
    }),
    // Perceptual image fingerprints: 100 planted gray P6 payloads at
    // varying dims (9·fx × 8·fy, fx = 1+d%3, fy = 1+d%2 — the 9×8
    // dHash grid reads pixel (x·fx, y·fy), exact integer multiples, so
    // the REAL parser, the REAL nearest-neighbor grid sample and the
    // integer luma all replay in the oracle bit for bit); the other
    // 400 ids carry unparseable text bytes and honestly emit NULL
    // format/dims/hash — dispatch is content-driven, id-replayable
    "q_mm_dhash" -> ((s, _) => {
      import s.implicits._
      def ppm(d: Int): Array[Byte] = {
        val fx = 1 + d % 3; val fy = 1 + d % 2
        val w = 9 * fx; val h = 8 * fy
        val px = new Array[Byte](w * h * 3)
        var o = 0
        for (y <- 0 until h; x <- 0 until w) {
          val v = ((x * 13 + y * 11 + d * 3) % 256).toByte
          px(o) = v; px(o + 1) = v; px(o + 2) = v; o += 3
        }
        s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ px
      }
      val media = (0 until 500).map { d =>
        (d.toLong, if (d % 5 == 0) ppm(d) else s"T$d".getBytes("US-ASCII"))
      }.toDF("doc_id", "payload")
      Multimodal.imageDHash(media, "doc_id", "payload").orderBy("doc_id")
    }),
    // Image near-dup: 500 planted 9×8 grays in 250 pairs — even/odd
    // share a base image, odd perturbs ONE corner pixel (+40 mod 256),
    // flipping at most bit 0 of the dHash, so every pair survives the
    // 4×16-bit banding by pigeonhole. The oracle replays the ENTIRE
    // pipeline — per-doc bit vector, band values, banded self-join,
    // Hamming verify — so cross-base band collisions (gray ramps wrap
    // mod 256; nearby bases CAN land within Hamming 3) are matched
    // exactly, not assumed away
    "q_mm_image_dedup" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 500).map(d => (d.toLong, dedupPpm98(d)))
        .toDF("doc_id", "payload")
      Multimodal.imageNearDupPairs(media, "doc_id", "payload", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
    // Image near-dup AGAINST THE MATERIALIZED dHash index: the same
    // planted pairs, but the even-id history is a persisted bucketed
    // band table (the fifth index family) and only the odd-id batch is
    // hashed — the crawl-epoch production shape. Same verify contract,
    // asymmetric output
    "q_mm_dhash_indexed" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 500).map(d => (d.toLong, dedupPpm98(d)))
        .toDF("doc_id", "payload")
      val idxTable = "dhash_idx_gate"
      if (!s.catalog.tableExists(idxTable))
        Multimodal.writeDHashIndex(media.filter(col("doc_id") % 2 === 0),
          "doc_id", "payload", idxTable, buckets = 8)
      Multimodal.imagePairsAgainstIndex(s, idxTable,
        media.filter(col("doc_id") % 2 === 1), "doc_id", "payload",
        maxHamming = 3)
        .orderBy("batch_id", "index_id")
    }),
    // DELETION over the dHash index: every index image with
    // doc_id % 4 == 0 tombstoned — a taken-down image must stop
    // colliding with arriving batches instantly (delete == rebuild);
    // the twin drops the same ids from the index side of the replay
    "q_mm_dhash_index_deleted" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 500).map(d => (d.toLong, dedupPpm98(d)))
        .toDF("doc_id", "payload")
      val idxTable = "dhash_del_gate"
      if (!s.catalog.tableExists(idxTable)) {
        Multimodal.writeDHashIndex(media.filter(col("doc_id") % 2 === 0),
          "doc_id", "payload", idxTable, buckets = 8)
        Multimodal.deleteFromDHashIndex(s, idxTable,
          media.filter(col("doc_id") % 4 === 0).select("doc_id"))
      }
      Multimodal.imagePairsAgainstIndex(s, idxTable,
        media.filter(col("doc_id") % 2 === 1), "doc_id", "payload",
        maxHamming = 3)
        .orderBy("batch_id", "index_id")
    }),
    // Perceptual AUDIO dedup: planted 16-bit WAV pairs — the odd id
    // ships the even id's waveform at double rate (ZOH) and half
    // volume, and the energy-sign fingerprint must recover every pair
    // at Hamming 0 through the shared 4×16-bit banding kernel. The
    // oracle replays the ENTIRE pipeline from the generating formula:
    // canonical sample sequence, 8×9 lag-band energies, adjacent-band
    // sign bits, band values, banded self-join, Hamming verify. Text
    // payloads (d%10==9) pass through fingerprint-less
    "q_mm_audio_dedup" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 200).map(d => (d.toLong, dedupWav(d)))
        .toDF("doc_id", "payload")
      Multimodal.audioNearDupPairs(media, "doc_id", "payload",
        maxHamming = 3, canonicalRate = 4000)
        .orderBy("id_a", "id_b")
    }),
    // Audio near-dup AGAINST THE MATERIALIZED fingerprint index (the
    // sixth signature surface, riding the dHash family's layout and
    // shared delete/purge/stats verbs): even-id history persisted,
    // odd-id batch hashed — same asymmetric contract as the image and
    // minhash index gates
    "q_mm_audio_dedup_indexed" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 200).map(d => (d.toLong, dedupWav(d)))
        .toDF("doc_id", "payload")
      val idxTable = "afp_idx_gate"
      if (!s.catalog.tableExists(idxTable))
        Multimodal.writeAudioFingerprintIndex(
          media.filter(col("doc_id") % 2 === 0),
          "doc_id", "payload", idxTable, buckets = 8, canonicalRate = 4000)
      Multimodal.audioPairsAgainstIndex(s, idxTable,
        media.filter(col("doc_id") % 2 === 1), "doc_id", "payload",
        maxHamming = 3, canonicalRate = 4000)
        .orderBy("batch_id", "index_id")
    }),
    // FILTERED image near-dup over the dHash index: carried metadata
    // (cam) restricts candidates during the banded probe — filtered
    // probe parity for the image family; twin = the shared replay with
    // the index side restricted to the predicate's sub-corpus
    "q_mm_dhash_filtered" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 500).map(d => (d.toLong, dedupPpm98(d),
        if (d % 3 == 0) "a" else "b")).toDF("doc_id", "payload", "cam")
      val idxTable = "dhash_flt_gate"
      if (!s.catalog.tableExists(idxTable))
        Multimodal.writeDHashIndex(media.filter(col("doc_id") % 2 === 0),
          "doc_id", "payload", idxTable, buckets = 8, carryCols = Seq("cam"))
      Multimodal.imagePairsAgainstIndexWhere(s, idxTable,
        media.filter(col("doc_id") % 2 === 1), "doc_id", "payload",
        predicate = col("cam") === "a", maxHamming = 3)
        .orderBy("batch_id", "index_id")
    }),
    // FILTERED audio near-dup over the fingerprint index — the same
    // carried-metadata restriction for the audio family
    "q_mm_audio_dedup_filtered" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 200).map(d => (d.toLong, dedupWav(d),
        if (d % 3 == 0) "a" else "b")).toDF("doc_id", "payload", "cam")
      val idxTable = "afp_flt_gate"
      if (!s.catalog.tableExists(idxTable))
        Multimodal.writeAudioFingerprintIndex(
          media.filter(col("doc_id") % 2 === 0),
          "doc_id", "payload", idxTable, buckets = 8, canonicalRate = 4000,
          carryCols = Seq("cam"))
      Multimodal.audioPairsAgainstIndexWhere(s, idxTable,
        media.filter(col("doc_id") % 2 === 1), "doc_id", "payload",
        predicate = col("cam") === "a", maxHamming = 3, canonicalRate = 4000)
        .orderBy("batch_id", "index_id")
    }),
    // Perceptual VIDEO dedup (the seventh signature surface): planted
    // AVI pairs — the odd id re-delivers the even id's clip with a
    // corner bump in a MINORITY of frames, and the per-bit majority
    // fingerprint must absorb the per-frame noise so every pair lands
    // at Hamming 0. The oracle replays the ENTIRE pipeline from the
    // generating formula: per-frame 64-bit dHash vectors, per-bit
    // strict majority, band values, banded self-join, Hamming verify.
    // Text payloads (d%10==9) pass through fingerprint-less
    "q_mm_video_dedup" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 240).map(d => (d.toLong, dedupAvi(d)))
        .toDF("doc_id", "payload")
      Multimodal.videoNearDupPairs(media, "doc_id", "payload", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
    // Video near-dup AGAINST THE MATERIALIZED fingerprint index,
    // riding the dHash family's layout and shared delete/purge/stats
    // verbs: even-id history persisted, odd-id batch hashed — same
    // asymmetric contract as the image and audio index gates
    "q_mm_video_dedup_indexed" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 240).map(d => (d.toLong, dedupAvi(d)))
        .toDF("doc_id", "payload")
      val idxTable = "vfp_idx_gate"
      if (!s.catalog.tableExists(idxTable))
        Multimodal.writeVideoFingerprintIndex(
          media.filter(col("doc_id") % 2 === 0),
          "doc_id", "payload", idxTable, buckets = 8)
      Multimodal.videoPairsAgainstIndex(s, idxTable,
        media.filter(col("doc_id") % 2 === 1), "doc_id", "payload",
        maxHamming = 3)
        .orderBy("batch_id", "index_id")
    }),
    // FILTERED video near-dup over the fingerprint index — the same
    // carried-metadata restriction as the image and audio families:
    // probe parity is complete across all seven index families
    "q_mm_video_dedup_filtered" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 240).map(d => (d.toLong, dedupAvi(d),
        if (d % 3 == 0) "a" else "b")).toDF("doc_id", "payload", "cam")
      val idxTable = "vfp_flt_gate"
      if (!s.catalog.tableExists(idxTable))
        Multimodal.writeVideoFingerprintIndex(
          media.filter(col("doc_id") % 2 === 0),
          "doc_id", "payload", idxTable, buckets = 8, carryCols = Seq("cam"))
      Multimodal.videoPairsAgainstIndexWhere(s, idxTable,
        media.filter(col("doc_id") % 2 === 1), "doc_id", "payload",
        predicate = col("cam") === "a", maxHamming = 3)
        .orderBy("batch_id", "index_id")
    }),
    // Shot segmentation over REAL AVI payloads: consecutive-frame
    // dHash Hamming > threshold starts a new shot; garbage frames
    // drop without splitting, non-video payloads emit zero rows
    "q_mm_video_scenes" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 240).map(d => (d.toLong, sceneAvi(d)))
        .toDF("doc_id", "payload")
      Multimodal.videoShots(media, "doc_id", "payload",
        cutThreshold = 8, maxFrames = 16)
        .orderBy("doc_id", "shot")
    }),
    // Audio silence-split segmentation: volume-invariant relative
    // energy threshold over canonical windows; all-silent and
    // non-audio payloads emit zero rows
    "q_mm_audio_segments" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 240).map(d => (d.toLong, segWav(d)))
        .toDF("doc_id", "payload")
      Multimodal.audioSegments(media, "doc_id", "payload")
        .orderBy("doc_id", "segment")
    }),
    // One keyframe per detected shot (the middle decoded frame):
    // integer surface gated; the payload bytes ride the same rows
    "q_mm_video_keyframes" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 240).map(d => (d.toLong, sceneAvi(d)))
        .toDF("doc_id", "payload")
      Multimodal.videoKeyframes(media, "doc_id", "payload",
        cutThreshold = 8, maxFrames = 16)
        .select("doc_id", "shot", "frame_no", "n_frames")
        .orderBy("doc_id", "shot")
    }),
    // SEGMENT-level audio dedup: the shared jingle + twin bodies at
    // exact half volume — segmentation and fingerprint invariances
    // must compose for the pairs to land
    "q_mm_audio_segment_dedup" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 60).map(d => (d.toLong, segDedupWav(d)))
        .toDF("doc_id", "payload")
      Multimodal.audioSegmentNearDupPairs(media, "doc_id", "payload",
        maxHamming = 3)
        .orderBy("id_a", "seg_a", "id_b", "seg_b")
    }),
    // SHOT-level dedup: duplicated segments across clips — the global
    // intro every video shares plus the twins' re-used body shots —
    // (video, shot) entities through the shared banding kernel
    "q_mm_video_shot_dedup" -> ((s, _) => {
      import s.implicits._
      val media = (0 until 40).map(d => (d.toLong, shotDedupAvi(d)))
        .toDF("doc_id", "payload")
      Multimodal.videoShotNearDupPairs(media, "doc_id", "payload",
        cutThreshold = 8, maxFrames = 16, maxHamming = 3)
        .orderBy("id_a", "shot_a", "id_b", "shot_b")
    }),
    // JSON sidecar flatten: schema inferred once driver-side from a
    // bounded sample, then one codegen'd from_json pass corpus-wide —
    // crawl-metadata extraction as typed columns
    "q_events_props_flatten" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_id"), col("event_type"), col("props"))
      graft.operators.SemiStructured.flattenJson(ev, "props")
        .select(col("event_id"), col("event_type"),
          col("k").cast(LongType).as("k"))
        .orderBy("event_id")
    }),
    // Recursive flatten: nested objects become parent_child columns —
    // the JSON is synthesized from fixture fields so BOTH engines
    // parse the same strings through their own JSON machinery and the
    // nested path extraction (a.b, a.c) is value-gated end-to-end
    "q_events_props_flatten_nested" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        concat(lit("{\"a\": {\"b\": "), col("event_id") % 97,
          lit(", \"c\": \""), col("event_type"),
          lit("\"}, \"d\": "), col("event_id") % 13, lit("}")).as("props2"))
      graft.operators.SemiStructured.flattenJson(ev, "props2")
        .select(col("event_id"), col("a_b").cast(LongType).as("a_b"),
          col("a_c"), col("d").cast(LongType).as("d"))
        .orderBy("event_id")
    }),
    // Per-source quota cap: at most 15 docs per source survive a
    // reproducible Knuth-hash lottery — the domain-cap curation rule
    "q_corpus_domain_cap" -> ((s, dir) => {
      Corpus.capPerGroup(t(s, dir, "documents"), "doc_id", "source", cap = 15)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),
    // Temperature-smoothed mixture (α = 1/2): per-language keep rate
    // √(c_min/c_g) — sqrt/divide/scale are correctly-rounded IEEE ops,
    // so the micro-unit rates and the exact-integer lottery replay
    // bit-for-bit in the twin
    "q_corpus_temperature" -> ((s, dir) => {
      Corpus.sqrtTemperatureSample(t(s, dir, "documents"), "doc_id", "lang")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),
    // BPE merge training: the first 64 learned merges of the corpus —
    // corpus touched once (word counts), then the merge loop runs
    // driver-side over the collected vocabulary (zero Spark jobs per
    // round); deterministic UTF-8-byte tie-breaks make the merge
    // sequence oracle-exact. minCount = 1: the SQL twin unrolls
    // exactly 64 rounds, so the gate must not early-stop below the
    // default threshold (both fixtures support >= 64 merges; the pin
    // is for contract safety on any future corpus regeneration)
    "q_text_bpe_merges" -> ((s, dir) => {
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", nMerges = 64,
        minCount = 1)
        .orderBy("rank")
    }),
    // Token-cost accounting under the learned tokenizer: train 5
    // merges, then count per-doc BPE tokens — merge folds run once per
    // DISTINCT word, joined back to occurrences
    "q_text_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeMerges(docs, "text", nMerges = 5,
        minCount = 1)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeTokenCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),
    // Dictionary-kernel encode at 64 merges: the native
    // BpeEncodeExpression applies the whole trained table as one
    // reference-object rank map (flat in merge count — the production
    // tokenizer path), and the 64-round unrolled SQL twin proves the
    // lowest-rank-first loop equals sequential fold application
    "q_text_bpe_encode_dict" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeMerges(docs, "text", nMerges = 64,
        minCount = 1)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeTokenCountsDict(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),
    // Tokenizer fertility per language slice: BPE tokens per word
    // under the 64-merge trained table — which slices the vocabulary
    // serves badly (fragmenting words, inflating sequence lengths)
    "q_text_bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeMerges(docs, "text", nMerges = 64,
        minCount = 1)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeFertilityStats(docs, "lang", "text", merges)
        .orderBy("lang")
    }),
    // TF-IDF top-terms: keyword extraction over the whole corpus —
    // (doc,term) tf shuffle, term-keyed df join, doc-keyed top-k window
    "q_text_tfidf" -> ((s, dir) => {
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rank")
    }),
    // Script-adaptive tokenization feeding the SAME vocab machinery: a
    // planted mixed corpus (CJK, kana with incidental spaces, Latin,
    // majority-Latin with a CJK quote) is re-tokenized per document —
    // space-free-script docs become character bigrams, everything else
    // passes through byte-identically (the documented no-op) — then
    // the ordinary TF-IDF chain scores it. The twin replays detect →
    // strip → bigram → re-space → score in ANSI SQL
    "q_text_cjk_tfidf" -> ((s, _) => {
      import s.implicits._
      val docs = Seq(
        (1L, "東京都は大都市です"),
        (2L, "東京の人口は多い"),
        (3L, "the quick brown fox jumps"),
        (4L, "quick fox and lazy dog"),
        (5L, "ひらがな と カタカナ"),
        (6L, "mixed 東京 latin heavy text here"),
        (7L, "東京　大阪の通勤")) // U+3000-separated: the CJK space strips
        .toDF("doc_id", "text")
      TextAnalysis.tfidfTopTerms(
        docs.withColumn("text", TextAnalysis.adaptiveRetokenize(col("text"))),
        "doc_id", "text", k = 5)
        .orderBy("doc_id", "rank")
    }),
    // Weighted lexical cosine similarity join: exact rational
    // threshold (num²·q² ≥ p²·‖a‖²·‖b‖², decimal compare, no sqrt) —
    // the third similarity measure beside MinHash Jaccard and dense
    // embedding cosine
    "q_text_cosine_pairs" -> ((s, dir) => {
      TextAnalysis.lexicalCosinePairs(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", minCosNum = 4, minCosDen = 5)
        .orderBy("id_a", "id_b")
    }),
    // Incremental lexical cosine, O(batch) per epoch: a shifted-id
    // copy batch scored against ALL history (the build corpus PLUS an
    // appended slab) through the stored df snapshot + persisted norms
    // sidecar — idf and history norms are SERVED, never re-aggregated
    // from the postings. The appended slab proves the frozen-snapshot
    // contract: live df moved, the stored vector space did not, and
    // appended docs are scorable history immediately. Own index table
    // (not the shared bm25_gate): the append would move the live df
    // the tfidf gate's twin replays
    "q_text_cosine_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxTable = s"bm25cos_gate_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(idxTable)) {
        TextAnalysis.writeBm25Index(docs, "doc_id", "text", idxTable,
          buckets = 8)
        TextAnalysis.refreshCosineNorms(s, idxTable)
        TextAnalysis.appendToBm25Index(s, idxTable,
          docs.filter(col("doc_id") % 45 === 0)
            .select((col("doc_id") + 500000L).as("doc_id"), col("text")),
          "doc_id", "text")
      }
      // %45: the synthetic corpus has a 31-term vocabulary, so every
      // term is near-ubiquitous and the term join approaches a dense
      // cross product — the batch size alone governs the gate's cost
      val batch = docs.filter(col("doc_id") % 45 === 0)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
      TextAnalysis.lexicalCosineAgainstIndex(s, idxTable, batch,
        "doc_id", "text", minCosNum = 4, minCosDen = 5)
        .orderBy("batch_id", "doc_id")
    }),
    // Incremental cosine in its SPARSE regime: the same O(batch) path
    // with a BOUNDED batch (ids < 4500 — fixed as the fixture scales,
    // copy-0 only under ScaleUp's disjoint token spaces), so the
    // scale soak measures what the design promises: history and its
    // vocabulary grow 10x, the batch's term set does not, and the
    // IN()-pruned term-bucketed postings scan keeps the epoch
    // O(batch). Shares the incremental gate's index build
    "q_text_cosine_sparse" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxTable = s"bm25cos_gate_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(idxTable)) {
        TextAnalysis.writeBm25Index(docs, "doc_id", "text", idxTable,
          buckets = 8)
        TextAnalysis.refreshCosineNorms(s, idxTable)
        TextAnalysis.appendToBm25Index(s, idxTable,
          docs.filter(col("doc_id") % 45 === 0)
            .select((col("doc_id") + 500000L).as("doc_id"), col("text")),
          "doc_id", "text")
      }
      val batch = docs
        .filter(col("doc_id") % 45 === 0 && col("doc_id") < 4500)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
      TextAnalysis.lexicalCosineAgainstIndex(s, idxTable, batch,
        "doc_id", "text", minCosNum = 4, minCosDen = 5)
        .orderBy("batch_id", "doc_id")
    }),
    // TF-IDF off the materialized postings index: the persisted
    // tokenize's second consumer (same index table the BM25 gate
    // builds — one build serves both), same oracle as q_text_tfidf
    "q_text_tfidf_indexed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxTable = s"bm25_gate_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(idxTable))
        TextAnalysis.writeBm25Index(docs, "doc_id", "text", idxTable,
          buckets = 8)
      TextAnalysis.tfidfTopTermsFromIndex(s, idxTable, k = 5)
        .orderBy("doc_id", "rank")
    }),
    // Span-level dedup: C4-style cross-document paragraph dedup with
    // reassembly (fixture has planted shared paragraphs — the corpus
    // documents are single-line token soup)
    "q_dedup_paragraph" -> ((s, _) => {
      import s.implicits._
      val docs = Seq(
        (1L, "alpha beta\ncommon boilerplate\ngamma"),
        (2L, "common boilerplate\ndelta"),
        (3L, "epsilon\nalpha beta"),
        (4L, "common boilerplate"),
        (5L, "zeta\nzeta")
      ).toDF("doc_id", "text")
      Dedup.paragraphDedup(docs, "doc_id", "text").orderBy("doc_id")
    }),
    // Per-stratum quantile band: drop each language's degenerate length
    // tails — percent_rank is an integer ratio, exact on any engine
    "q_corpus_length_band" -> ((s, dir) => {
      Corpus.lengthBandFilter(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "lang", "n_chars", lo = 0.05, hi = 0.95)
        .orderBy("doc_id")
    }),
    // Feature-hashed doc vectors (signed hashing trick, d = 32):
    // model-free geometry from portable token hashes, sparse exact
    // integer output
    "q_text_hash_features" -> ((s, dir) => {
      TextAnalysis.hashFeatures(t(s, dir, "documents"), "doc_id", "text", d = 32)
        .orderBy("doc_id", "dim_idx")
    }),
    // Gopher-style repetition: top word-2-gram occupancy per document
    "q_text_topgram" -> ((s, dir) => {
      TextAnalysis.topNgramStats(t(s, dir, "documents"), "doc_id", "text", n = 2)
        .orderBy("doc_id")
    }),
    // Sketch family: KMV distinct-shingle estimation — bounded O(k)
    // aggregate state per group (custom TypedImperativeAggregate with
    // map-side partials, plan-gated to one Exchange); the portable
    // Knuth-mixed KR shingle hash makes the whole pipeline replayable
    // in ANSI SQL, so the gate is a full oracle, not rows-only
    "q_sketch_kmv_shingles" -> ((s, dir) => {
      Sketches.kmvDistinctShingles(t(s, dir, "documents"),
        "lang", "text", n = 3, k = 64)
        .orderBy("lang")
    }),
    // Same sketch on the count(DISTINCT fk) shape: per-returnflag
    // distinct part keys on the fact table, Knuth-mixed key hash
    "q_sketch_kmv_ids" -> ((s, dir) => {
      Sketches.kmvDistinctKeys(t(s, dir, "lineitem"),
        "l_returnflag", "l_partkey", k = 64)
        .orderBy("l_returnflag")
    }),
    // Sketch mergeability, pinned cross-engine: Spark sketches two
    // disjoint doc_id-parity halves and merges the sketch ARRAYS;
    // DuckDB sketches the whole table in one pass. Exact equality —
    // the identity that lets per-shard sketches reduce tree-wise at
    // 100 TB instead of re-scanning the corpus
    "q_sketch_kmv_merge" -> ((s, dir) => {
      Sketches.kmvMergedShingleEstimate(t(s, dir, "documents"),
        "lang", "doc_id", "text", n = 3, k = 64)
        .orderBy("lang")
    }),
    // Pairwise cross-language shingle resemblance from the per-group
    // KMV sketches (Broder k-min estimator, exact integer ppm): the
    // pairing runs over |groups|² sketch rows, never over the corpus
    "q_sketch_kmv_jaccard" -> ((s, dir) => {
      Sketches.kmvPairwiseJaccard(t(s, dir, "documents"),
        "lang", "text", n = 3, k = 64)
        .orderBy("group_a", "group_b")
    }),
    // Deterministic-sample quantiles: portable Knuth lottery keeps 1/4
    // of docs, then exact integral rank selection per language — no
    // interpolation semantics for engines to disagree over
    "q_sketch_quantile_sample" -> ((s, dir) => {
      Sketches.sampledTokenQuantiles(t(s, dir, "documents"),
        "lang", "doc_id", "text", rate = 4, tenths = Seq(5, 9))
        .orderBy("lang")
    }),
    // Mergeable quantile sketch in its exact regime: c = 4096 exceeds
    // every per-lang group (2,059 docs max at sf0.1), so no compaction
    // fires, err = 0, the (value, weight) items ARE the exact
    // multiset, and the rank selection is the house integral index —
    // oracle-comparable. The compaction regime is spec-gated on the
    // carried certificate (QuantileSketchSpec), which holds under any
    // partitioning even though the surviving items do not.
    "q_sketch_quantiles" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("lang"),
        size(split(col("text"), " ", -1)).cast(LongType).as("toks"))
      Sketches.sketchQuantiles(toks, "lang", "toks", c = 4096, tenths = Seq(1, 5, 9))
        .orderBy("lang")
    }),
    // KMV join-key overlap: the pre-join selectivity screen — each
    // side's distinct keys sketched in one bounded pass, overlap via
    // Broder's k-min over the merged sketch, exact integer division;
    // the DuckDB twin rebuilds both sketches and replays the estimate
    "q_sketch_join_overlap" -> ((s, dir) => {
      Sketches.kmvKeyOverlap(
        t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0), "o_orderkey",
        k = 64)
    }),
    // Quantile-sketch merge identity: two disjoint half-corpus sketches
    // pool into the whole table's exact quantiles — the per-shard
    // rollup contract, pinned cross-engine against the one-pass twin
    "q_sketch_quantile_merge" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("lang"), col("doc_id"),
        size(split(col("text"), " ", -1)).cast(LongType).as("toks"))
      Sketches.mergedQuantiles(toks, "lang", "doc_id", "toks",
        c = 4096, tenths = Seq(1, 5, 9))
        .orderBy("lang")
    }),
    // Misra–Gries heavy-hitters sketch, pinned cross-engine in its
    // exact regime: m = 256 counters comfortably exceeds the fixture
    // vocabulary (31 tokens/lang at every SF), so no decrement fires,
    // err = 0, and the sketch output IS the exact per-(lang, token)
    // count — oracle-comparable. The approximation regime (m < vocab),
    // whose estimates are legitimately partition-order-dependent, is
    // spec-gated on the deterministic certificate est <= true <= est+err
    // (MgSketchSpec).
    "q_sketch_mg_exact" -> ((s, dir) => {
      Sketches.heavyHitterTokens(t(s, dir, "documents"), "lang", "text", m = 256)
        .orderBy(col("lang"), col("est").desc, col("term"))
    }),
    // Count–min point queries with the APPROXIMATION oracled: w = 16
    // columns against a 31-token/lang vocabulary guarantees collisions,
    // and the DuckDB twin rebuilds the full d×w counter matrix with the
    // same affine row functions — over-counts and all — so the gate
    // pins the sketch's actual estimates, not an exact-regime special
    // case. The absent probe term shows the one-sided floor (its est
    // is whatever mass collided into its cells, never negative)
    "q_sketch_cm_counts" -> ((s, dir) => {
      Sketches.cmTokenCounts(t(s, dir, "documents"), "lang", "text",
        queryTokens = Seq("spark", "hash", "vector", "merge", "zzqx"),
        w = 16, d = 4)
        .orderBy("lang", "term")
    }),
    // Weighted Misra–Gries in the exact regime: top sources per
    // language by BYTE mass (n_chars), not document count — the
    // volume-dominance read a mixing pipeline acts on. m = 64 far
    // exceeds the fixture's source cardinality, so no decrement fires,
    // err = 0 and est is the exact weighted sum the oracle recomputes
    "q_sketch_mg_weighted" -> ((s, dir) => {
      Sketches.heavyHittersWeighted(t(s, dir, "documents"),
        "lang", "source", "n_chars", m = 64)
        .orderBy(col("lang"), col("est").desc, col("term"))
    }),
    // Exact grouped heavy hitters: top-8 tokens per language, counts
    // aggregated BEFORE the rank window so the window sorts vocabulary
    // rows, not the token stream
    "q_text_heavy_hitters" -> ((s, dir) => {
      TextAnalysis.topTermsPerGroup(t(s, dir, "documents"), "lang", "text", k = 8)
        .orderBy(col("lang"), col("rank"))
    }),
    // BM25 top-k retrieval: three aggregates + a broadcast join of the
    // tiny per-term stats; final top-k is orderBy.limit = TakeOrdered
    // (per-partition heaps, no global sort). idf quantized once to
    // integer micro-units, per-term score is a fixed IEEE double op
    // sequence both engines replay bit-identically, doc score summed
    // in exact BIGINT
    "q_text_bm25" -> ((s, dir) => {
      TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        query = Seq("spark", "hash", "vector"), k = 20)
        .orderBy(col("score_fx").desc, col("doc_id"))
    }),
    // Batched BM25 (the decontamination-screen shape): three queries
    // share one tokenize pass and one tf/df computation; per-query
    // top-k rides the k-bounded CollectTopK queue, not a rank window
    "q_text_bm25_batch" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "spark"), (1L, "hash"),
        (2L, "vector"), (2L, "window"),
        (3L, "merge"), (3L, "batch"))
        .toDF("query_id", "term")
      TextAnalysis.bm25TopKBatch(t(s, dir, "documents"), "doc_id", "text",
        queries, k = 5)
        .orderBy("query_id", "rank")
    }),
    // Batched BM25 over the MATERIALIZED postings index: build the
    // term-bucketed (term, doc_id, tf, dl) table once per fixture
    // (the build-once/query-many policy the ANN index gates use),
    // then the same query bag reads only its terms' buckets — zero
    // corpus scans, zero re-tokenization. Same oracle as the
    // in-memory batch: the round-trip-equality contract
    "q_text_bm25_indexed" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val idxTable = s"bm25_gate_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(idxTable))
        TextAnalysis.writeBm25Index(docs, "doc_id", "text", idxTable,
          buckets = 8)
      val queries = Seq(
        (1L, "spark"), (1L, "hash"),
        (2L, "vector"), (2L, "window"),
        (3L, "merge"), (3L, "batch"))
        .toDF("query_id", "term")
      TextAnalysis.bm25TopKBatchFromIndex(s, idxTable, queries, k = 5)
        .orderBy("query_id", "rank")
    }),
    // Filtered retrieval over the postings index: lang rides each
    // posting row as carried metadata, the predicate restricts
    // CANDIDATES during the term-pruned scan, and corpus statistics
    // stay global — surviving docs score bit-identically to the
    // unfiltered run (the twin joins the doc metadata into the same
    // per-query aggregation)
    "q_text_bm25_filtered" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val idxTable = s"bm25f_gate_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(idxTable))
        TextAnalysis.writeBm25Index(docs, "doc_id", "text", idxTable,
          buckets = 8, carryCols = Seq("lang"))
      val queries = Seq(
        (1L, "spark"), (1L, "hash"),
        (2L, "vector"), (2L, "window"),
        (3L, "merge"), (3L, "batch"))
        .toDF("query_id", "term")
      TextAnalysis.bm25TopKBatchFromIndexWhere(s, idxTable, queries, k = 5,
        predicate = col("lang") === "en")
        .orderBy("query_id", "rank")
    }),
    // DELETION over the postings index: build over the full corpus,
    // tombstone every doc_id % 3 == 0, then query — candidates, df, N
    // and avgdl must all forget the deleted docs in the same instant,
    // so the answer equals the twin's full recompute over the corpus
    // WITHOUT them (the delete == rebuild contract, cross-engine)
    "q_text_bm25_deleted" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val idxTable = s"bm25del_gate_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(idxTable)) {
        TextAnalysis.writeBm25Index(docs, "doc_id", "text", idxTable,
          buckets = 8)
        TextAnalysis.deleteFromBm25Index(s, idxTable,
          docs.filter(col("doc_id") % 3 === 0).select("doc_id"))
      }
      val queries = Seq(
        (1L, "spark"), (1L, "hash"),
        (2L, "vector"), (2L, "window"),
        (3L, "merge"), (3L, "batch"))
        .toDF("query_id", "term")
      TextAnalysis.bm25TopKBatchFromIndex(s, idxTable, queries, k = 5)
        .orderBy("query_id", "rank")
    }),
    // The NEGATIVE-SPACE deletion audit a compliance review ends with:
    // a second index is deleted AND PURGED, then every storage surface
    // (postings, roster, tombstones) is probed per id — deleted ids
    // must count 0 rows everywhere while surviving ids show their
    // expected presence (a tokenful doc has postings, a zero-token doc
    // only a roster row). The twin recomputes the expected counts from
    // the raw corpus and the delete predicate alone
    "q_verify_deletion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxTable = s"bm25purge_gate_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(idxTable)) {
        TextAnalysis.writeBm25Index(docs, "doc_id", "text", idxTable,
          buckets = 8)
        // the cosine norms sidecar is an index surface too: enable it
        // BEFORE the takedown so the audit proves the purge sweeps it
        TextAnalysis.refreshCosineNorms(s, idxTable)
        TextAnalysis.deleteFromBm25Index(s, idxTable,
          docs.filter(col("doc_id") % 3 === 0).select("doc_id"))
        TextAnalysis.purgeBm25Index(s, idxTable)
      }
      val probes = docs.filter(col("doc_id") < 60).select("doc_id")
      val tombstones = graft.plans.Tombstones.set(s, idxTable, "doc_id")
        .getOrElse(probes.filter(lit(false))) // post-purge: dropped == empty
      graft.verify.Comparator.absenceAudit(probes, "doc_id", Seq(
        ("corpus", docs, "doc_id"),
        ("posting", s.table(idxTable)
          .groupBy("doc_id").agg(count(lit(1)).as("__n"))
          .select("doc_id"), "doc_id"), // distinct-doc presence
        ("roster", s.table(idxTable + "_docs"), "doc_id"),
        ("norm", s.table(idxTable + "_norms"), "doc_id"),
        ("tombstone", tombstones, "doc_id")))
        .orderBy("id")
    }),
    // Reciprocal-rank fusion: blend the BM25 relevance channel with a
    // query-independent freshness channel (20 newest doc_ids) — the
    // classic relevance+recency blend, rank-domain only, exact
    // fixed-point contributions 1e6 div (60 + rank) so the fused
    // ordering replays in DuckDB bit-for-bit
    "q_retrieval_fusion" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val queries = Seq(
        (1L, "spark"), (1L, "hash"),
        (2L, "vector"), (2L, "window"),
        (3L, "merge"), (3L, "batch"))
        .toDF("query_id", "term")
      val relevance = TextAnalysis.bm25TopKBatch(docs, "doc_id", "text",
        queries, k = 10).select("query_id", "doc_id", "rank")
      // window-free rank over the constant 20-row frame: rank(d) =
      // #kept ids ≥ d (doc_id is unique). A 20×20 self-join replaces the
      // single-partition WindowExec whose warning competed with the
      // bench JSON line for the driver's stdout tail budget.
      val top20 = docs.select("doc_id").orderBy(col("doc_id").desc).limit(20)
      val newest = top20.alias("a")
        .join(top20.alias("b"), col("b.doc_id") >= col("a.doc_id"))
        .groupBy(col("a.doc_id").as("doc_id"))
        .agg(count(lit(1)).cast(LongType).as("rank"))
      val freshness = queries.select("query_id").distinct()
        .crossJoin(newest).select("query_id", "doc_id", "rank")
      TextAnalysis.reciprocalRankFusion(Seq(relevance, freshness), k = 5)
        .orderBy("query_id", "rank")
    }),
    // Dedup (n-gram Jaccard): exact word-3-gram Jaccard over min-shingle
    // blocked pairs — the one near-dup path with an exact SQL oracle
    "q_dedup_ngram" -> ((s, dir) => {
      Dedup.ngramJaccardNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),
    // Text fingerprinting: Karp–Rabin rolling hash (full doc) + min-gram
    // winnowing fingerprint — exact modular arithmetic, oracle-verified
    "q_text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.rollingHash(col("text")).as("fp"),
          TextAnalysis.minGramFingerprint(col("text"), k = 8).as("min_gram_fp")
        )
        .orderBy("doc_id")
    }),
    // Dedup clustering: connected-component closure over a near-dup edge
    // list (min-label propagation; oracle = recursive-CTE closure)
    "q_dedup_clusters" -> ((s, _) => {
      import s.implicits._
      val pairs = Seq(
        (1L, 2L), (2L, 3L), (5L, 3L),   // chain + bridge -> one cluster
        (10L, 11L),                     // isolated pair
        (20L, 21L), (20L, 22L), (20L, 23L) // star
      ).toDF("id_a", "id_b")
      Dedup.duplicateClusters(pairs).orderBy("id")
    }),
    // Fixed-point PageRank over the same pair graph: two power-
    // iteration rounds of exact ppb integer arithmetic — the DuckDB
    // twin unrolls both rounds and reproduces every rank bit-for-bit
    "q_graph_pagerank" -> ((s, _) => {
      import s.implicits._
      val pairs = Seq(
        (1L, 2L), (2L, 3L), (5L, 3L),
        (10L, 11L),
        (20L, 21L), (20L, 22L), (20L, 23L)
      ).toDF("id_a", "id_b")
      graft.operators.Graph.pageRankFixedPoint(pairs, iters = 2, dampPpm = 850000L)
        .orderBy("id")
    }),
    // Weight-proportional PageRank: rank flows along edges in
    // proportion to their similarity mass — the star's heavy spoke
    // out-ranks its light siblings where the uniform walk ties them;
    // same exact integer arithmetic, both rounds unrolled in the twin
    "q_graph_pagerank_weighted" -> ((s, _) => {
      import s.implicits._
      val pairs = Seq(
        (1L, 2L, 500000L), (2L, 3L, 900000L), (5L, 3L, 100000L),
        (10L, 11L, 700000L),
        (20L, 21L, 300000L), (20L, 22L, 300000L), (20L, 23L, 900000L)
      ).toDF("id_a", "id_b", "w")
      graft.operators.Graph.pageRankWeighted(pairs, "w", iters = 2)
        .orderBy("id")
    }),
    // The weighted walk over a REAL near-dup pair graph: edges are the
    // portable-MinHash collision pairs of the documents fixture, each
    // weighted by its match count (minhash_est · 8 — the exact integer
    // the estimate was computed from), so heavily-duplicated documents
    // accumulate rank through their similarity mass. The twin replays
    // signature → pairs → weight → two unrolled weighted rounds
    "q_graph_rank_real" -> ((s, dir) => {
      val pairs = Dedup.portableMinhashPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 3, k = 8, threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          (col("minhash_est") * 8).cast(LongType).as("w"))
      graft.operators.Graph.pageRankWeighted(pairs, "w", iters = 2)
        .orderBy("id")
    }),
    // The combined walk: seed-anchored teleport AND similarity-
    // proportional flow — seed quality spreads along duplicate edges
    // counting a 0.9-similarity hop as three 0.3 ones; unreachable
    // components still read zero. Both rounds unrolled in the twin
    "q_graph_ppr_weighted" -> ((s, _) => {
      import s.implicits._
      val pairs = Seq(
        (1L, 2L, 500000L), (2L, 3L, 900000L), (5L, 3L, 100000L),
        (10L, 11L, 700000L),
        (20L, 21L, 300000L), (20L, 22L, 300000L), (20L, 23L, 900000L)
      ).toDF("id_a", "id_b", "w")
      val seeds = Seq(1L, 20L).toDF("id")
      graft.operators.Graph.personalizedPageRankWeighted(
          pairs, "w", seeds, iters = 2)
        .select(col("id"), col("rank_ppb"), col("degree"), col("strength"),
          col("is_seed").cast(LongType).as("is_seed"))
        .orderBy("id")
    }),
    // Personalized PageRank from a seed set: teleport mass lands only
    // on the seeds, so rank decays with graph distance and unreachable
    // components converge to zero — both rounds unrolled in the twin
    "q_graph_ppr" -> ((s, _) => {
      import s.implicits._
      val pairs = Seq(
        (1L, 2L), (2L, 3L), (5L, 3L),
        (10L, 11L),
        (20L, 21L), (20L, 22L), (20L, 23L)
      ).toDF("id_a", "id_b")
      val seeds = Seq(1L, 20L).toDF("id")
      graft.operators.Graph.personalizedPageRank(pairs, seeds, iters = 2)
        .select(col("id"), col("rank_ppb"), col("degree"),
          col("is_seed").cast(LongType).as("is_seed"))
        .orderBy("id")
    }),
    // Centrality keeper election: each duplicate cluster keeps its
    // most-connected member (ties to the lowest id) — the star keeps
    // its hub, not its lowest spoke
    "q_dedup_keep_central" -> ((s, _) => {
      import s.implicits._
      val docs = (1L to 25L).toDF("doc_id")
      val pairs = Seq(
        (1L, 2L), (2L, 3L), (5L, 3L),
        (10L, 11L),
        (20L, 21L), (20L, 22L), (20L, 23L)
      ).toDF("id_a", "id_b")
      graft.operators.Graph.keepCentralPerCluster(docs, "doc_id", pairs)
        .orderBy("doc_id")
    }),
    // Frequency-capped dedup over the same cluster graph: k = 2 keeps
    // two members of every duplicate cluster, all edge-free docs
    // survive untouched
    "q_dedup_keep_k" -> ((s, _) => {
      import s.implicits._
      val docs = (1L to 25L).toDF("doc_id")
      val pairs = Seq(
        (1L, 2L), (2L, 3L), (5L, 3L),
        (10L, 11L),
        (20L, 21L), (20L, 22L), (20L, 23L)
      ).toDF("id_a", "id_b")
      Dedup.keepKPerCluster(docs, "doc_id", pairs, k = 2).orderBy("doc_id")
    }),
    // Near-dedup via MinHash LSH over a planted-duplicate corpus. The
    // hash family is engine-specific (xxhash64), but the OUTPUT is not:
    // at threshold 1.0 the exact-Jaccard verify keeps only pairs with
    // identical shingle sets, and identical sets ⇒ identical signatures
    // ⇒ same value in every band ⇒ guaranteed candidates — so recall
    // AND precision are exact, and the result is precisely the planted
    // (doc, doc+1000000) pairs any SQL engine derives from the data.
    "q_dedup_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = docs.union(docs.select(
        (col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.minhashNearDupPairs(planted, "doc_id", "text",
        shingleSize = 3, k = 64, bands = 16, threshold = 1.0, maxBucket = 1000)
        .select(col("id_a").cast(LongType).as("id_a"),
          col("id_b").cast(LongType).as("id_b"))
        .orderBy("id_a", "id_b")
    }),
    // SimHash banded near-dup candidates over the same planted corpus,
    // verified by exact text equality — the standard production dedup
    // shape (approximate candidate generation + exact verify). Identical
    // texts hash to identical signatures (Hamming 0 ⇒ candidate recall
    // 1.0 regardless of hash family), and the equality verify discards
    // any engine-specific near-collision, so the output is exactly the
    // identical-text pairs a SQL oracle computes from the data.
    "q_dedup_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = docs.union(docs.select(
        (col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.simhashNearDupPairs(planted, "doc_id", "text",
        maxHamming = 3, maxBucket = 1000)
        .join(planted.select(col("doc_id").as("id_a"), col("text").as("__ta")), Seq("id_a"))
        .join(planted.select(col("doc_id").as("id_b"), col("text").as("__tb")), Seq("id_b"))
        .filter(col("__ta") === col("__tb"))
        .select(col("id_a").cast(LongType).as("id_a"),
          col("id_b").cast(LongType).as("id_b"))
        .orderBy("id_a", "id_b")
    }),
    // Embedding-cosine near-dup, LSH-bucketed. The fixture embeddings
    // have no genuine near-dups (max pairwise cosine 0.513 at sf0.01),
    // so the gate plants exact duplicates (id-shifted copies) — at
    // threshold 0.8 the output is exactly the planted pairs (identical
    // vectors share every LSH band, recall 1.0; the 0.29-wide cosine
    // gap to the closest non-dup pair makes the set float-robust), so
    // the approximate path gets an exact oracle.
    "q_dedup_embedding" -> ((s, dir) => {
      // nBits = 0: band width auto-sized from the corpus (lshBitsFor)
      // — resolves to the historical 8 bits at sf≤0.1 and 12 at the
      // sf1 soak scale, where fixed 8-bit bands went quadratic
      // (n²/256 candidate pairs; measured 27.9× time for 10× data).
      // Output is width-independent here: planted exact dups collide
      // in every band at any width, and threshold 0.8 > the 0.513
      // fixture max cosine excludes everything else.
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = emb.union(emb.select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      Dedup.embeddingNearDupPairs(planted, "vec_id", "embedding",
        threshold = 0.8, nBits = 0, nBands = 2, maxBucket = 10000)
        .select(col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b"))
        .orderBy("id_a", "id_b")
    }),
    // Incremental embedding near-dup: planted copies of the even
    // vectors (the "new batch") collide against the full corpus (the
    // "index") — asymmetric banded join, cost |batch| x collisions. A
    // copy shares EVERY band with its original (cosine ~1.0 >> the
    // 0.513 fixture max), so the output is exactly the planted pairs
    "q_dedup_embedding_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val batch = emb.filter(col("vec_id") % 2 === 0).select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDupPairsAgainst(batch, emb, "vec_id", "embedding",
        threshold = 0.95, nBits = 0, nBands = 2, maxBucket = 10000)
        .select(col("batch_id").cast(LongType).as("batch_id"),
          col("index_id").cast(LongType).as("index_id"))
        .orderBy("batch_id", "index_id")
    }),
    // Exact embedding-cosine near-dup pairs — the O(n²) audit baseline
    // for the LSH path, on a bounded id slice (threshold sits in a
    // 1.5e-3-wide cosine gap, so double rounding can't flip the set)
    "q_dedup_embedding_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
      Dedup.embeddingNearDupExact(emb, "vec_id", "embedding", threshold = 0.45)
        .select(col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b"))
        .orderBy("id_a", "id_b")
    }),
    // Portable-arithmetic SimHash near-dup pairs — the exact-oracle twin
    // of q_dedup_simhash (KR token hashes de-biased by the Knuth mix,
    // 28-bit signature, 4×7-bit pigeonhole bands). maxBucket is the
    // explicit hot-bucket backstop: it never triggers at test SFs (the
    // de-biased bands are ~uniform, so the oracle is unaffected) but
    // bounds any one band collision at scale to 1000² pairs.
    "q_dedup_simhash_portable" -> ((s, dir) => {
      Dedup.portableSimhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, maxBucket = 1000)
        .orderBy("id_a", "id_b")
    }),
    // Character-entropy quality signal (decimal-term accumulation makes
    // the sum order-independent, so the oracle is exact)
    "q_text_entropy" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.charEntropy(col("text")).as("entropy"))
        .orderBy("doc_id")
    }),
    // Winnowed duplicate-span detection (ExactSubstr analog): merged
    // per-document regions whose 12-token window text recurs across
    // documents. Content-defined (winnowing) selection keeps recall
    // offset-robust; the hash candidates are verified on the actual
    // normalized span text, so the output is exact and the whole
    // pipeline is portable integer arithmetic — a full SQL oracle.
    "q_dedup_spans" -> ((s, dir) => {
      Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text",
        window = 12, sel = 4, minDocs = 2)
        .orderBy("doc_id", "span_start")
    }),
    // The strip/rebuild action over the same winnowed detection: every
    // duplicated window text keeps its global first occurrence, all
    // later occurrences delete their 12 tokens, documents rebuild from
    // surviving original-case tokens — per-document token arithmetic
    // fully reproduced by the SQL twin (incl. pass-through rows)
    "q_dedup_spans_strip" -> ((s, dir) => {
      Dedup.stripDuplicateSpans(t(s, dir, "documents"), "doc_id", "text",
        window = 12, sel = 4, minDocs = 2)
        .orderBy("doc_id")
    }),
    // SemDeDup-style semantic dedup over a planted-duplicate corpus:
    // IVF-cluster the embeddings (portable Knuth-hash centroid sample),
    // drop every vector with a lower-id cluster-mate at cosine >= 0.8.
    // Identical planted vectors always share a cluster (same argmax,
    // same tie-break) and score cosine ~1.0; the closest genuine pair
    // sits at 0.513 (q_dedup_embedding's measured margin), so the
    // survivor set is float-robust and the SQL oracle reproduces the
    // pipeline end-to-end: centroid pick, assignment, pairing, drop.
    "q_sem_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = emb.union(emb.select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      Dedup.semanticDedup(planted, "vec_id", "embedding",
        nClusters = 16, threshold = 0.8, portableCentroids = true)
        .orderBy("vec_id")
    }),
    // PMI collocations: top adjacent word pairs by pointwise mutual
    // information (phrase-induction / tokenizer-merge signal); the log
    // quantizes once to micro-units, everything else is exact integers
    "q_text_pmi" -> ((s, dir) => {
      TextAnalysis.pmiCollocations(t(s, dir, "documents"), "doc_id", "text",
        minCount = 5, k = 20)
        .orderBy(col("pmi_fx").desc, col("w1"), col("w2"))
    }),
    // Vocabulary coverage: top tokens with cumulative corpus share in
    // exact integer ppm — the tokenizer-training vocabulary precursor
    "q_corpus_vocab" -> ((s, dir) => {
      Corpus.vocabCoverage(t(s, dir, "documents"), "text", k = 100)
        .orderBy("rank")
    }),
    // Portable per-column content checksum over orders — value-level
    // migration verification beyond the reference's row counts, with
    // every sum reproducible by the destination engine (exact integer
    // normalization + Knuth mix; see Comparator.portableChecksum).
    // o_uni plants multi-byte text (em-dash U+2014, é U+00E9, and the
    // supplementary-plane U+1D11E) plus an empty string so the
    // byte-level string fold is oracle-enforced beyond ASCII; o_dec
    // plants a signed DECIMAL(18,3) (NUMBER(p,s) is the reference's
    // flagship mapping) and o_bin a multi-byte BLOB — both with NULL
    // stripes so the null counters of the new types are gated too
    // Exact per-column distribution profile over orders: row count,
    // null count, exact distinct count per column in long format —
    // the cardinality leg of migration verification (a lossy transpile
    // can pass count- and checksum-compare while collapsing distincts).
    // The multi-distinct Expand plan is the deliberate exactness cost;
    // Comparator.columnProfile is the sketch-based 100 TB screen.
    "q_profile_columns" -> ((s, dir) => {
      graft.verify.Comparator.exactColumnProfile(t(s, dir, "orders"))
        .orderBy("column_name")
    }),
    // Src/dest profile comparison over a deliberately-damaged copy:
    // o_orderpriority's cardinality collapsed (the lossy-transpile
    // shape), o_orderstatus dropped — the missing column must surface
    // as a full-outer row with a NO verdict, not vanish
    "q_profile_diff" -> ((s, dir) => {
      val src = t(s, dir, "orders")
      val dest = src
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 2 === 0, lit(null).cast("string"))
            .otherwise(lit("X")))
        .drop("o_orderstatus")
      graft.verify.Comparator.profileDiff(src, dest)
    }),
    "q_verify_checksum" -> ((s, dir) => {
      val src = t(s, dir, "orders")
        .withColumn("o_uni",
          when(col("o_orderkey") % 7 === 0, lit(""))
            .otherwise(concat(col("o_orderpriority"), lit(" — café 𝄞"))))
        .withColumn("o_dec",
          when(col("o_orderkey") % 11 === 0, lit(null))
            .otherwise((col("o_orderkey") % 97) * lit(BigDecimal("1.001")) - lit(BigDecimal("50.5")))
            .cast("decimal(18,3)"))
        .withColumn("o_bin",
          when(col("o_orderkey") % 13 === 0, lit(null).cast("binary"))
            .otherwise(encode(col("o_uni"), "UTF-8")))
      val cs = graft.verify.Comparator.portableChecksum(src)
      val sums = src.columns.flatMap(c => Seq(
        col(s"${c}__sum").cast("long").as(s"${c}__sum"), col(s"${c}__nulls")))
      cs.select(col("rows") +: sums.toIndexedSeq: _*)
    }),
    // Incremental near-dup: odd-id docs (the "new batch") collide
    // against even-id docs (the "history index") — an asymmetric
    // banded join, cost |batch| x collisions, never |history|^2
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.portableMinhashPairsAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", n = 3, k = 8, threshold = 0.5)
        .orderBy("batch_id", "index_id")
    }),
    // §2.10 streaming, END-TO-END: the indexed-ingest foreachBatch
    // pipeline (quality gate → near-dup vs the persistent signature
    // index → intra-batch self-pass → idempotent batch= sink) actually
    // RUNS as a stream over a landing directory, and the survivor set
    // is gated against the deterministic batch twin DuckDB recomputes.
    // The landing batch is pre-deduplicated on the normalized text
    // (keep-min doc_id) so clean()'s arrival-ordered exact dedup has
    // no nondeterministic choice left to make; repeat invocations
    // reuse the index — appended survivor signatures are replay-safe
    // (same-id hits excluded) and self-pass losers never append, so
    // the survivor set is invocation-stable.
    "q_stream_ingest_twin" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxTable = s"stream_twin_idx_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(idxTable))
        Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", idxTable, n = 3, k = 8, buckets = 8)
      val normKey = array_join(TextAnalysis.tokens(lower(col("text"))), " ")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(normKey).orderBy(col("doc_id"))
      // the batch is a 1-in-10 slice of the odd ids: the production
      // asymmetry (small arriving epoch vs the full even-id history
      // index), and the stream's per-rep cost stays proportional to
      // the epoch, not the corpus
      val batch = docs.filter(col("doc_id") % 10 === 1)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("text"),
          timestamp_micros((lit(3600L) + pmod(col("doc_id"), lit(500L)) * 60L) * 1000000L)
            .as("ingest_time"))
      val land = java.nio.file.Files.createTempDirectory("graft_st_land").toString
      val out = java.nio.file.Files.createTempDirectory("graft_st_out").toString + "/corpus"
      val ckpt = java.nio.file.Files.createTempDirectory("graft_st_ckpt").toString
      batch.write.mode("overwrite").parquet(land)
      val cleaned = graft.streaming.CorpusIngest.clean(
        graft.streaming.CorpusIngest.documentsStream(s, land),
        minQuality = 0.3, watermark = "1 hour")
      val sq = graft.streaming.CorpusIngest.startWithIndex(cleaned, out, ckpt, idxTable,
        n = 3, k = 8, threshold = 0.5)
      if (!sq.awaitTermination(300000)) {
        // fail loudly rather than compare a partial survivor set while
        // the stream is still writing behind the read
        sq.stop()
        throw new IllegalStateException(
          "q_stream_ingest_twin: ingest stream did not finish within 300 s")
      }
      // materialize the survivor ids eagerly — bounded by the 1-in-10
      // epoch slice, not the corpus — so the three per-rep temp dirs
      // can be deleted NOW instead of leaking one triple per rep
      val survivors = s.read.parquet(out)
        .select("doc_id").distinct().orderBy("doc_id").collect().toIndexedSeq
      Seq(land, new java.io.File(out).getParent, ckpt).foreach { d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
      }
      import s.implicits._
      survivors.map(_.getLong(0)).toDF("doc_id").orderBy("doc_id")
    }),
    // Incremental near-dup against the MATERIALIZED signature index:
    // the same batch-vs-history asymmetry as q_dedup_incremental, but
    // the history side is a persisted bucketed signature table — the
    // crawl-epoch production shape (history never re-signatured, scan
    // bucket-pruned to the batch's blocking keys). Same oracle: the
    // result contract is identical to the in-memory path
    "q_dedup_incremental_indexed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxTable = s"minhash_idx_gate_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(idxTable))
        Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", idxTable, n = 3, k = 8, buckets = 8)
      Dedup.portableMinhashPairsAgainstIndex(s, idxTable,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        n = 3, k = 8, threshold = 0.5)
        .orderBy("batch_id", "index_id")
    }),
    // The r19 ENFORCED normalization contract, driven through the
    // stored index end-to-end: history (even ids) carries a COMPOSED
    // planted marker and builds an NFC-STAMPED index; the arriving
    // batch (odd ids) carries the DECOMPOSED spelling of the same
    // marker. Both sides normalize NFC at the funnel head (the
    // curated-ingest shape) and the probe declares its form to the
    // stamped index — skip either normalization and the marker's
    // shingles diverge, shifting exact signature components across
    // thousands of pairs; declare the wrong form and the probe
    // refuses outright. The twin nfc_normalize's both parities.
    "q_dedup_incremental_normalized" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxTable = s"minhash_nrm_gate_${fixtureKey(dir, docs)}"
      val comp = "caf" + new String(Character.toChars(0xE9)) + " nrm "
      val deco = "cafe" + new String(Character.toChars(0x301)) + " nrm "
      if (!s.catalog.tableExists(idxTable))
        Dedup.writeMinhashIndex(
          docs.filter(col("doc_id") % 2 === 0)
            .select(col("doc_id"), Corpus.normalizeText(
              concat(lit(comp), col("text")), "NFC").as("text")),
          "doc_id", "text", idxTable, n = 3, k = 8, buckets = 8,
          normForm = "NFC")
      Dedup.portableMinhashPairsAgainstIndex(s, idxTable,
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), Corpus.normalizeText(
            concat(lit(deco), col("text")), "NFC").as("text")),
        "doc_id", "text", n = 3, k = 8, threshold = 0.5, normForm = "NFC")
        .orderBy("batch_id", "index_id")
    }),
    // FILTERED near-dup over the signature index: carried metadata
    // (lang) restricts the candidates during the banded probe — the
    // per-language dedup slice. The twin is the restriction oracle:
    // the shared incremental replay with the index side filtered to
    // the predicate's sub-corpus, which is exactly what an index
    // REBUILT over that sub-corpus would emit
    "q_dedup_filtered" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxTable = s"minhash_flt_gate_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(idxTable))
        Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", idxTable, n = 3, k = 8, buckets = 8,
          carryCols = Seq("lang"))
      Dedup.portableMinhashPairsAgainstIndexWhere(s, idxTable,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        predicate = col("lang") === "en",
        n = 3, k = 8, threshold = 0.5)
        .orderBy("batch_id", "index_id")
    }),
    // DELETION over the signature index: the even-id history with every
    // doc_id % 4 == 0 tombstoned — a taken-down document must stop
    // colliding with arriving batches instantly; the twin drops the
    // same ids from the index side of the shared replay
    "q_dedup_deleted_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxTable = s"minhash_del_gate_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(idxTable)) {
        Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", idxTable, n = 3, k = 8, buckets = 8)
        Dedup.deleteFromMinhashIndex(s, idxTable,
          docs.filter(col("doc_id") % 4 === 0).select("doc_id"))
      }
      Dedup.portableMinhashPairsAgainstIndex(s, idxTable,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        n = 3, k = 8, threshold = 0.5)
        .orderBy("batch_id", "index_id")
    }),
    // Portable MinHash near-dup: Karp-Rabin + affine permutations —
    // the exact-oracle twin of the xxhash64 kernel path
    "q_dedup_minhash_portable" -> ((s, dir) => {
      Dedup.portableMinhashPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 8, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),
    // TPC-H Q1 (pricing summary, adapted to the fixture schema) — the
    // canonical scan+agg analytics shape at full lineitem width
    "q_tpch_q1" -> ((s, dir) => {
      def dsum6(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(18, 6))).cast("double")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-12-31").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum6(col("l_quantity")).as("sum_qty"),
          dsum6(col("l_extendedprice")).as("sum_base_price"),
          dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          dsum6(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .as("sum_charge"),
          (dsum6(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (dsum6(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          (dsum6(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // TPC-H Q3 (shipping priority, adapted) — selective dim filter
    // broadcast against the fact join, top-10 by revenue
    "q_tpch_q3" -> ((s, dir) => {
      val cut = lit("1998-01-01").cast("timestamp")
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < cut)
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > cut)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    }),
    // TPC-H Q5 (local-supplier revenue) — the multi-join star shape;
    // every dimension broadcasts, lineitem⋈orders is the one shuffle
    "q_tpch_q5" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val joined = t(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey") && col("r_name") === "ASIA")
      joined.groupBy("n_name")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    // TPC-H Q4 (order priority check, adapted) — the EXISTS semi-join
    // shape: orders qualified by any matching lineitem, never duplicated
    "q_tpch_q4" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
      o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),
    // CUBE aggregate — all grouping-set combinations in one pass
    "q_a_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")
    }),
    // TPC-H Q16 flavor — count(distinct) per group: partial aggregation
    // must expand, not collect sets
    "q_tpch_q16" -> ((s, dir) => {
      t(s, dir, "part")
        .groupBy("p_brand", "p_type")
        .agg(countDistinct(col("p_size")).as("size_cnt"),
          count(lit(1)).as("n_parts"))
        .orderBy("p_brand", "p_type")
    }),
    // TPC-H Q18 flavor — HAVING on an aggregate, joined back to detail
    "q_tpch_q18" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "total_qty")
        .orderBy("o_orderkey")
    }),
    // TPC-H Q6 (forecast revenue change) — tight range-filter scan
    // feeding one global aggregate; filters must reach the parquet scan
    "q_tpch_q6" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount"))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"))
    }),
    // TPC-H Q14 (promotion effect) — conditional aggregation over a
    // broadcast dimension join
    "q_tpch_q14" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 6))
      l.join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast(DecimalType(18, 6))))
            .cast("double") /
          sum(rev).cast("double")).as("promo_revenue"))
    }),
    // J6 (beyond reference) — row-level migration diff: keys missing on
    // either side or with value mismatches, planted tampering inline
    "q_j6_row_diff" -> ((s, dir) => {
      val src = t(s, dir, "orders")
      val base = src.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 101 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val extra = src.filter(col("o_orderkey") % 103 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      graft.verify.Comparator.rowDiff(src, base.union(extra), Seq("o_orderkey"))
        .orderBy("o_orderkey", "diff_status")
    }),
    // J7 (beyond reference) — backward as-of join: every purchase picks
    // up the user's latest preceding click; single-shuffle union+window
    // plan, oracle is DuckDB's native ASOF LEFT JOIN
    "q_j7_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // μs epoch longs on both sides: DuckDB's epoch_us(ts) is the
      // oracle's grain, and int64 μs sorts/compares exactly
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          eventUs.as("ts_us"), col("value").as("l_value"))
      val r = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), eventUs.as("r_ts"))
        .agg(max(col("value")).as("r_value"))
      graft.operators.Temporal.asofJoin(l, r, "user_id", "ts_us", "r_ts",
        Seq("r_value")).orderBy("event_id")
    }),
    // Forward as-of twin: the NEXT click at-or-after each purchase —
    // same single-shuffle union+window, scan direction flipped;
    // DuckDB's ASOF <= is the oracle
    "q_j7b_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          eventUs.as("ts_us"), col("value").as("l_value"))
      val r = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), eventUs.as("r_ts"))
        .agg(max(col("value")).as("r_value"))
      graft.operators.Temporal.asofJoinForward(l, r, "user_id", "ts_us",
        "r_ts", Seq("r_value")).orderBy("event_id")
    }),
    // J8 (beyond reference) — binned range join: purchases falling in a
    // 1-hour incident window after any error by the same user; the
    // (key, bin) equi-join replaces the nested-loop a plain inequality
    // join would plan
    "q_j8_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          eventUs.as("p_ts"))
      val win = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("user_id"),
          eventUs.as("s_ts"),
          (eventUs + lit(3600000000L)).as("e_ts"))
      graft.operators.Temporal.rangeJoin(p, win, "user_id", "p_ts",
          "s_ts", "e_ts", binWidth = 3600000000L)
        .select("p_id", "e_id", "user_id", "p_ts", "s_ts")
        .orderBy("p_id", "e_id")
    }),
    // J9 (beyond reference) — fixed-step gap fill: regularize each
    // user's purchase series onto an aligned hourly grid, forward-
    // filling the last observation (grid gen + ONE as-of shuffle; the
    // DuckDB twin rebuilds the grid with range() + ASOF LEFT JOIN)
    "q_j9_gapfill" -> ((s, dir) => {
      val obs = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), eventUs.as("us"))
        .agg(max(col("value")).as("value"))
      graft.operators.Temporal.gapFill(obs, "user_id", "us",
          Seq("value"), stepUs = 3600000000L)
        .orderBy("user_id", "bucket_us")
    }),
    // Sketch-driven adaptive skew salting: a Misra–Gries pass certifies
    // the hot join keys (no false negatives while err < threshold —
    // the operator enforces it, degrading to full salting otherwise),
    // only those spread over salt buckets, and the join result is
    // provably invariant to the hot set and to WHICH path ran — which
    // is exactly what the oracle (a plain join) pins. m = 256 exceeds
    // sf0.01's supplier count (exact regime, certified path); at
    // larger SFs the run-time guard picks the safe path by itself
    "q_join_skew_salted" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.plans.ScaleJoins.sketchSaltedJoin(li, sup, "suppkey",
          saltBuckets = 4, hotThreshold = 500, m = 256)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast("double").as("sum_qty"))
        .select(col("s_nationkey").cast(LongType).as("s_nationkey"),
          col("n_rows"), col("sum_qty"))
        .orderBy("s_nationkey")
    }),
    // KMV-driven join planning END TO END: adaptiveJoin measures both
    // sides' distinct keys and their overlap, picks the arm (supplier's
    // key count fits the broadcast ceiling here), and the result must
    // equal the plain join — the sketches tune distribution, never
    // semantics, which is exactly what the shared twin pins
    "q_join_adaptive" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.plans.ScaleJoins.adaptiveJoin(li, sup, "suppkey",
          broadcastMaxDistinct = 1000000, hotThreshold = 500).df
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast("double").as("sum_qty"))
        .select(col("s_nationkey").cast(LongType).as("s_nationkey"),
          col("n_rows"), col("sum_qty"))
        .orderBy("s_nationkey")
    }),
    // Bloom-reduced join: the small side's keys become a 2^17-bit
    // literal filter applied to the large side IN ITS SCAN STAGE,
    // before any exchange; false positives drop in the real join, so
    // the result IS the plain join (the shared twin)
    "q_join_bloom" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
      val sup = t(s, dir, "supplier")
        .filter(col("s_suppkey") % 3 === 0)
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.plans.ScaleJoins.bloomFilteredJoin(li, sup, "suppkey",
          mBits = 1 << 17, kHashes = 5)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast("double").as("sum_qty"))
        .select(col("s_nationkey").cast(LongType).as("s_nationkey"),
          col("n_rows"), col("sum_qty"))
        .orderBy("s_nationkey")
    }),
    // Record linkage: edit-distance similarity join. Blocking is
    // lossless by the q-gram count-filter theorem, so the twin is the
    // BRUTE cross join — proving the whole blocked pipeline exact
    "q_link_fuzzy_join" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      graft.operators.Linkage.editDistanceJoin(
        sup.filter(col("s_suppkey") % 2 === 0), "s_suppkey", "s_name",
        sup.filter(col("s_suppkey") % 2 === 1), "s_suppkey", "s_name",
        maxDist = 1)
        .orderBy("id_l", "id_r")
    }),
    // The self-join form: unordered near-dup key pairs within one table
    "q_link_fuzzy_pairs" -> ((s, dir) => {
      graft.operators.Linkage.editDistancePairs(
        t(s, dir, "supplier").filter(col("s_suppkey") % 2 === 0),
        "s_suppkey", "s_name", maxDist = 2)
        .orderBy("id_a", "id_b")
    }),
    // Base-corpus deletion: the takedown verb for the DATA itself (the
    // four index families tombstone; the parquet corpus rewrites
    // through the staged swap). Copy → delete doc_id % 3 == 0 → read
    // back; the twin is simply the corpus without those rows
    "q_corpus_delete" -> ((s, dir) => {
      val out = roundTripDir("del", dir)
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source")
      docs.write.mode("overwrite").parquet(out)
      graft.plans.Compaction.deleteWhere(s, out, col("doc_id") % 3 === 0)
      s.read.parquet(out).orderBy("doc_id")
    }),
    // Keyed upsert (MERGE): the update half of the CDC verb set.
    // Copy → one batch that REVISES doc_id%7 rows and INSERTS shifted
    // copies of doc_id%13 rows → read back; the twin replays the
    // anti-join + union in SQL
    "q_corpus_upsert" -> ((s, dir) => {
      val out = roundTripDir("ups", dir)
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source")
      docs.write.mode("overwrite").parquet(out)
      val updates = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          concat(lit("REVISED "), col("doc_id").cast("string")).as("text"),
          col("lang"), col("source"))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            lit("xx").as("lang"), col("source")))
      graft.plans.Compaction.upsertParquet(s, out, updates, Seq("doc_id"))
      s.read.parquet(out).orderBy("doc_id")
    }),
    // Time travel: version retention turns every staged rewrite into a
    // snapshot — v1 = pre-delete, v2 = pre-upsert, live = final. One
    // aggregate row per readable state; the twin replays each state's
    // transform chain
    "q_corpus_time_travel" -> ((s, dir) => {
      val out = roundTripDir("tt", dir)
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source")
      docs.write.mode("overwrite").parquet(out)
      freshVersionsRoot(s, out)
      graft.plans.Snapshots.enableVersioning(s, out)
      graft.plans.Compaction.deleteWhere(s, out, col("doc_id") % 3 === 0)
      val updates = s.read.parquet(out).filter(col("doc_id") % 5 === 0)
        .withColumn("text", concat(lit("REVISED "), col("doc_id").cast("string")))
      graft.plans.Compaction.upsertParquet(s, out, updates, Seq("doc_id"))
      val states = Seq(
        (1, graft.plans.Snapshots.readVersion(s, out, 1L)),
        (2, graft.plans.Snapshots.readVersion(s, out, 2L)),
        (3, s.read.parquet(out)))
      states.map { case (v, df) =>
        df.select(lit(v).as("version"), col("doc_id"), col("text"))
      }.reduce(_ unionByName _)
        .groupBy("version")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_id"),
          sum(length(col("text"))).as("sum_len"))
        .orderBy("version")
    }),
    // Version diff: what the rewrite span DID, keyed — deleted /
    // updated / inserted labels from the full-outer compare of v1
    // against live, each class replayed literally in the twin
    "q_corpus_version_diff" -> ((s, dir) => {
      val out = roundTripDir("vd", dir)
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source")
      docs.write.mode("overwrite").parquet(out)
      freshVersionsRoot(s, out)
      graft.plans.Snapshots.enableVersioning(s, out)
      graft.plans.Compaction.deleteWhere(s, out, col("doc_id") % 3 === 0)
      val live = s.read.parquet(out)
      val updates = live.filter(col("doc_id") % 5 === 0)
        .withColumn("text", concat(lit("REVISED "), col("doc_id").cast("string")))
        .unionByName(docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            lit("xx").as("lang"), col("source")))
      graft.plans.Compaction.upsertParquet(s, out, updates, Seq("doc_id"))
      graft.plans.Snapshots.diffVersions(s, out, 1L, None, Seq("doc_id"))
        .orderBy("doc_id")
    }),
    // Rollback: restore the pre-delete snapshot as live — the result
    // IS the original corpus, byte for byte
    "q_corpus_rollback" -> ((s, dir) => {
      val out = roundTripDir("rb", dir)
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source")
      docs.write.mode("overwrite").parquet(out)
      freshVersionsRoot(s, out)
      graft.plans.Snapshots.enableVersioning(s, out)
      graft.plans.Compaction.deleteWhere(s, out, col("doc_id") % 3 === 0)
      graft.plans.Snapshots.rollbackTo(s, out, 1L)
      s.read.parquet(out).orderBy("doc_id")
    }),
    // ONE-VERB takedown orchestration: a corpus registered with its
    // live dir (versioned), BM25 (+ cosine norms sidecar), MinHash,
    // IVF-SQ, dHash, audio and video fingerprint indexes — then a
    // single Takedown.sweep(%7 ids) runs every family's delete+purge,
    // the live delete, the version purge, and returns the composed
    // audit. The gate's RESULT is the absence audit over probes
    // (doomed + survivors) against every registered surface: doomed
    // ids count 0 on ALL of them, survivors show each surface's
    // expected membership (media/vectors only exist for id < 120) —
    // the registry guarantees no surface is forgotten, and the strict
    // sweep proves no unregistered index-layout table held swept ids.
    // Ids are offset to 9e6 so discovery never collides with the
    // other gates' raw-id index tables
    "q_verify_takedown_sweep" -> ((s, dir) => {
      import graft.verify.Takedown
      val off = 9000000L
      val docs0 = t(s, dir, "documents")
      val key = fixtureKey(dir, docs0)
      val corpus = s"tkswp_$key"
      val reg = s"tkreg_$key"
      val bmT = s"tkbm_$key"
      val liveDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_tk_$key/corpus"
      if (!s.catalog.tableExists(bmT)) {
        val docs = docs0.select((col("doc_id") + off).as("doc_id"),
          col("text"), col("lang"))
        docs.write.mode("overwrite").parquet(liveDir)
        freshVersionsRoot(s, liveDir)
        Takedown.enableVersioning(s, corpus, liveDir, "doc_id", reg)
        // v1 = the full pre-takedown corpus (history the sweep must reach)
        graft.plans.Compaction.compactParquet(s, liveDir)
        // register first, then the family write (Takedown's contract)
        Takedown.register(s, corpus, "bm25", bmT, registryTable = reg)
        TextAnalysis.writeBm25Index(docs, "doc_id", "text", bmT, buckets = 4)
        TextAnalysis.refreshCosineNorms(s, bmT)
        Takedown.register(s, corpus, "minhash", s"tkmh_$key", registryTable = reg)
        Dedup.writeMinhashIndex(docs, "doc_id", "text", s"tkmh_$key", buckets = 4)
        Takedown.register(s, corpus, "ivfsq", s"tksq_$key", registryTable = reg)
        Similarity.writeIvfSqIndex(
          t(s, dir, "embeddings").filter(col("vec_id") < 120)
            .select((col("vec_id") + off).as("doc_id"), col("embedding")),
          "doc_id", "embedding", s"tksq_$key", nCentroids = 8, buckets = 4)
        // media for the perceptual families: one distinct payload per
        // id (even fixture indices — never the text-payload class).
        // Bounded collect: ≤ 120 ids drive the driver-side synthesis
        val nDocs = math.min(120L, docs0.count()).toInt
        import s.implicits._
        val imgs = (0 until nDocs).map(d => (d + off, dedupPpm98(2 * d)))
          .toDF("doc_id", "payload")
        val wavs = (0 until nDocs).map(d => (d + off, dedupWav(2 * d)))
          .toDF("doc_id", "payload")
        val avis = (0 until nDocs).map(d => (d + off, dedupAvi(2 * d)))
          .toDF("doc_id", "payload")
        Takedown.register(s, corpus, "dhash", s"tkdh_$key", registryTable = reg)
        Multimodal.writeDHashIndex(imgs, "doc_id", "payload", s"tkdh_$key",
          buckets = 4)
        Takedown.register(s, corpus, "audio", s"tkaf_$key", registryTable = reg)
        Multimodal.writeAudioFingerprintIndex(wavs, "doc_id", "payload",
          s"tkaf_$key", buckets = 4)
        Takedown.register(s, corpus, "video", s"tkvf_$key", registryTable = reg)
        Multimodal.writeVideoFingerprintIndex(avis, "doc_id", "payload",
          s"tkvf_$key", buckets = 4)
        Takedown.sweep(s, corpus, (col("doc_id") - off) % 7 === 0,
          registryTable = reg)
      }
      val probes = docs0.filter(col("doc_id") < 140)
        .select((col("doc_id") + off).as("doc_id"))
      graft.verify.Comparator.absenceAudit(probes, "doc_id",
        Takedown.auditSurfaces(s, corpus, reg))
        .orderBy("id")
    }),
    // The r19 PROVENANCE split, oracle-gated on BOTH arms at once: the
    // corpus registers a ROSTER bloom (do-not-train, bits over the
    // whole live text) AND a BENCHMARK screen (bits from the %97
    // suite), then ONE sweep deletes %13 of the corpus. The roster
    // must equal a from-scratch filter over the SURVIVORS (the twin's
    // roster bits come from doc_id % 13 != 0 — under- AND over-removal
    // both hash-mismatch), while the benchmark screen must still be
    // EXACTLY the %97 suite's bits (the pre-r19 sweep rebuilt it from
    // the post-delete corpus, which flips both planted classes). Ids
    // offset to 9.6e6 so strict discovery never meets other gates'
    // index tables.
    "q_verify_takedown_bloom" -> ((s, dir) => {
      import graft.verify.Takedown
      val off = 9600000L
      val docs0 = t(s, dir, "documents")
      val key = fixtureKey(dir, docs0)
      val corpus = s"tkblm_$key"
      val reg = s"tkblmreg_$key"
      val rosterT = s"tkblm_roster_$key"
      val benchT = s"tkblm_bench_$key"
      val liveDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_tkblm_$key/corpus"
      if (!s.catalog.tableExists(rosterT)) {
        val docs = docs0.select((col("doc_id") + off).as("doc_id"), col("text"))
        docs.write.mode("overwrite").parquet(liveDir)
        Takedown.registerCorpus(s, corpus, liveDir, "doc_id", reg)
        Takedown.writeBloomIndex(s, corpus, docs, "text", rosterT,
          provenance = "roster", registryTable = reg)
        Takedown.writeBloomIndex(s, corpus,
          docs.filter((col("doc_id") - off) % 97 === 0), "text", benchT,
          provenance = "benchmark", registryTable = reg)
        Takedown.sweep(s, corpus, (col("doc_id") - off) % 13 === 0,
          registryTable = reg)
      }
      val probe = docs0.select((col("doc_id") + off).as("doc_id"), col("text"))
      val roster = Corpus.bloomDecontaminationFromIndex(
        probe, "doc_id", "text", rosterT)
        .select(col("doc_id"), col("n_flagged").as("roster_flagged_n"),
          col("flagged").as("roster_flagged"))
      val bench = Corpus.bloomDecontaminationFromIndex(
        probe, "doc_id", "text", benchT)
        .select(col("doc_id"), col("n_flagged").as("bench_flagged_n"),
          col("flagged").as("bench_flagged"))
      roster.join(bench, Seq("doc_id"))
        .select((col("doc_id") - off).as("doc_id"),
          col("roster_flagged_n"), col("roster_flagged"),
          col("bench_flagged_n"), col("bench_flagged"))
        .orderBy("doc_id")
    }),
    // Versioned takedown, closed end-to-end: routine maintenance
    // deletes (%3, %5) retain pre-rewrite snapshots; the takedown (%7)
    // deletes from LIVE (archiving the pre-takedown state — which
    // still carries the purged ids!) and then purgeVersions sweeps
    // every retained version. The audit reads live + ALL version
    // surfaces: takedown ids must count 0 everywhere, survivors show
    // each state's expected presence — proving the r14 loophole
    // (readVersion serving purged rows) is closed
    "q_verify_deletion_versioned" -> ((s, dir) => {
      val out = roundTripDir("vdel", dir)
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source")
      docs.write.mode("overwrite").parquet(out)
      freshVersionsRoot(s, out)
      graft.plans.Snapshots.enableVersioning(s, out)
      graft.plans.Compaction.deleteWhere(s, out, col("doc_id") % 3 === 0)
      graft.plans.Compaction.deleteWhere(s, out, col("doc_id") % 5 === 0)
      graft.plans.Compaction.deleteWhere(s, out, col("doc_id") % 7 === 0)
      graft.plans.Snapshots.purgeVersions(s, out, col("doc_id") % 7 === 0)
      val probes = docs.filter(col("doc_id") < 60).select("doc_id")
      graft.verify.Comparator.absenceAudit(probes, "doc_id",
        Seq(("live", s.read.parquet(out), "doc_id")) ++
          graft.plans.Snapshots.versionSurfaces(s, out, "doc_id"))
        .orderBy("id")
    }),
    // Gopher/C4-style repetition + heuristic quality filters (exact
    // arithmetic, engine-reproducible)
    "q_text_gopher" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.wordRepetitionRatio(col("text")).as("word_rep"),
        TextAnalysis.lineRepetitionRatio(col("text")).as("line_rep"),
        TextAnalysis.symbolWordRatio(col("text")).as("symbol_ratio"),
        TextAnalysis.digitRatio(col("text")).as("digit_ratio")
      ).orderBy("doc_id")
    }),
    // C4-style structural line filter: planted nav/menu/cookie lines
    // drop (too few words or no terminal punctuation), sentence lines
    // survive and reassemble in order — the identical line-shape rules
    // replay in the twin. Two planted lines are CRLF-terminated (a
    // trailing \r before the \n join) to pin the \r?\n split: one that
    // must be KEPT (the even-branch sentence) and one that must be
    // DROPPED either way (the cookie banner)
    "q_corpus_c4_filter" -> ((s, dir) => {
      val staged = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(col("text"), lit(".")),
          lit("Click here"),
          lit("Accept all cookies now\r"),
          when(col("doc_id") % 2 === 0, lit("A proper sentence stays here.\r"))
            .otherwise(lit("short.\r")),
          lit("Menu"),
          lit("Ends with a question mark?")).as("text"))
      staged.select(col("doc_id"),
        Corpus.c4LineFilter(col("text"), minWords = 3).as("kept"),
        Corpus.c4LineStats(col("text"), minWords = 3)
          .getField("lines_in").as("lines_in"),
        Corpus.c4LineStats(col("text"), minWords = 3)
          .getField("lines_kept").as("lines_kept"))
        .orderBy("doc_id")
    }),
    // Unicode NFC normalization: planted decomposed sequences
    // (e+U+0301, A+U+030A, o+U+0308) compose to single codepoints,
    // while the compatibility ligature ﬁ survives NFC untouched (it
    // folds only under NFKC — pinning the canonical-only contract).
    // Codepoint counts prove composition actually happened: nfc_len
    // drops by exactly the three combining marks vs raw_len.
    "q_corpus_nfc" -> ((s, dir) => {
      val staged = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("Café ﬁn A" + "̊" + "ngstro" + "̈" + "m: "),
          col("text")).as("text"))
      staged.select(col("doc_id"),
        Corpus.normalizeText(col("text"), "NFC").as("nfc_text"),
        length(Corpus.normalizeText(col("text"), "NFC")).cast(LongType).as("nfc_len"),
        length(col("text")).cast(LongType).as("raw_len"))
        .orderBy("doc_id")
    }),
    // Normalization composed BEFORE fingerprinting — the chain the
    // operator exists for. The planted decomposed prefix composes
    // under NFC (e + combining acute becomes é, which then leaves the
    // hash's [a-z0-9 ] alphabet entirely), so the rolling hash matches
    // the twin ONLY if normalization actually ran first: skipping it
    // keeps the bare 'e' in the fold and every fingerprint diverges.
    "q_corpus_nfc_fingerprint" -> ((s, dir) => {
      val staged = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("Café nfc pins this "), col("text")).as("text"))
      staged.select(col("doc_id"),
        TextAnalysis.rollingHash(
          Corpus.normalizeText(col("text"), "NFC")).as("fp"))
        .orderBy("doc_id")
    }),
    // Cross-script homoglyph folding: the planted prefix exercises the
    // WHOLE confusable table — all 19 Cyrillic + 14 Greek + 4 Armenian
    // + 19 Cherokee + 3 digit-lookalike post-fold mappings plus their
    // uppercase forms (which reach the table through the case fold;
    // uppercase Cherokee lands on the U+AB70 small block) — and the
    // twin replays the identical mapping as a translate over the
    // lowercased text. NFC/NFKC leave every one of these codepoints
    // untouched (spec-pinned), so only CONFUSABLE_FOLD can match.
    "q_corpus_confusable_fold" -> ((s, dir) => {
      val staged = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("аеорсухѕіјһԁԛԝ вкмнт ВКМНТ АЕОРСУХЅІЈ " +
          "αβεζηικμνορτυχ ΑΒΕΖΗΙΚΜΝΟΡΤΥΧ " +
          "հոսօ ՀՈՍՕ" +
          " ꭰꭱꭲꭺꭻꭼꮃꮇꮋꮍꮐꮓꮩꮪꮮꮯꮲꮶᏼ" +
          " ᎠᎡᎢᎪᎫᎬᎳᎷᎻᎽᏀᏃᏙᏚᏞᏟᏢᏦᏴ" +
          " зчб ЗЧБ Mixed CASE "),
          col("text")).as("text"))
      staged.select(col("doc_id"),
        Corpus.normalizeText(col("text"), "CONFUSABLE_FOLD").as("folded"),
        length(Corpus.normalizeText(col("text"), "CONFUSABLE_FOLD"))
          .cast(LongType).as("folded_len"),
        length(col("text")).cast(LongType).as("raw_len"))
        .orderBy("doc_id")
    }),
    // The evasion the fold exists to kill, driven through the REAL
    // chain: Cyrillic-а/е/о twins of every document collapse onto
    // their originals under Dedup.exact keyed on the CONFUSABLE_FOLD
    // text (keep-first: the original's smaller id wins), and the
    // survivors' rolling-hash fingerprints replay the same mapping —
    // skip the fold and every twin survives as a distinct document.
    "q_corpus_confusable_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val twins = docs.select((col("doc_id") + 1000000).as("doc_id"),
        translate(col("text"), "aeo", "аео").as("text"))
      val pre = docs.unionByName(twins).withColumn("__folded",
        Corpus.normalizeText(col("text"), "CONFUSABLE_FOLD"))
      Dedup.exact(pre, "doc_id", "__folded")
        .select(col("doc_id"),
          TextAnalysis.rollingHash(col("__folded")).as("fp"))
        .orderBy("doc_id")
    }),
    // Encoding-damage quality signals: mojibake (wrong-charset
    // double-decode artifacts) and control-char mass, exact integer
    // ppm — planted corruption suffixes, identical regexes in the twin
    "q_text_mojibake" -> ((s, dir) => {
      val corrupted = t(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            lit(" naÃ¯ve â€œquote Â· bad�")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            expr("concat(chr(7), 'x', chr(27), chr(127))")).otherwise(lit("")))
          .as("text"))
      corrupted.select(col("doc_id"),
        TextAnalysis.mojibakeRatioPpm(col("text")).as("moji_ppm"),
        TextAnalysis.controlCharRatioPpm(col("text")).as("ctl_ppm"))
        .orderBy("doc_id")
    }),
    // Corpus-pipeline: deterministic stratified sampling (portable
    // multiplicative hash — auditable outside Spark)
    "q_corpus_sample" -> ((s, dir) => {
      Corpus.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 1.0), defaultFraction = 0.25)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),
    // Corpus-pipeline: concat-and-split sequence packing per shard
    "q_corpus_pack" -> ((s, dir) => {
      Corpus.packSequences(t(s, dir, "documents"), "doc_id", "n_chars",
        budget = 2048L, shardCol = "lang")
        .select("doc_id", "lang", "n_chars", "cum_tokens", "pack_id")
        .orderBy("doc_id")
    }),
    // Corpus-pipeline: weighted source interleave (dataset mixing)
    "q_corpus_mix" -> ((s, dir) => {
      Corpus.weightedInterleave(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25))
        .select("doc_id", "source", "mix_pos")
        .orderBy("mix_pos", "source", "doc_id")
    }),
    // Corpus-pipeline: PII redaction (RE2-safe pattern subset)
    "q_corpus_redact" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Corpus.redactPii(col("text")).as("redacted"))
        .orderBy("doc_id")
    }),
    // End-to-end corpus preparation: quality filter → exact dedup →
    // deterministic sample → sequence packing, one declarative plan
    "q_corpus_prepare" -> ((s, dir) => {
      Corpus.prepareTrainingData(t(s, dir, "documents"), "doc_id", "text", "lang",
        Corpus.PrepareConfig(minQuality = 0.3, maxWordRep = 0.3,
          sampleFraction = 0.5, packBudget = 512L))
        .orderBy("doc_id")
    }),
    // Corpus-pipeline: bigram-LM quality scoring (corpus fit + doc score)
    // URL canonicalization for web corpora: fragment/tracking-param
    // strip, scheme+host lowercasing, default-port removal, byte-wise
    // query sort — synthesized hazard URLs from doc_id, every
    // normalization replayed by the identical regexes in the twin
    "q_corpus_url_canon" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select("doc_id").withColumn("url", expr(
        "concat('HTTP', CASE WHEN doc_id % 2 = 0 THEN '' ELSE 'S' END, " +
          "'://', CASE WHEN doc_id % 13 = 0 THEN 'UserInfo:Secret@' ELSE '' END, " +
          "'ExAmple', cast(doc_id % 7 as string), '.COM', " +
          "CASE WHEN doc_id % 2 = 0 THEN ':80' WHEN doc_id % 5 = 0 THEN ':443' ELSE ':8080' END, " +
          "CASE WHEN doc_id % 11 = 0 THEN '' ELSE concat('/Path/', cast(doc_id % 5 as string)) END, " +
          "CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&b=2&a=1' " +
          "WHEN doc_id % 3 = 1 THEN '?z=9&utm_campaign=c&a=1&fbclid=f' ELSE '' END, " +
          "CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)"))
      urls.select(col("doc_id"), col("url"),
        Corpus.canonicalizeUrl(col("url")).as("url_canon"),
        Corpus.urlHost(col("url")).as("host"))
        .orderBy("doc_id")
    }),
    // URL policy blocklist: domain + subdomain rule with a suffix
    // trap (notspam.example), pattern rule on the canonical URL
    "q_corpus_url_policy" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select("doc_id").withColumn("url", expr(
        "concat('https://', CASE cast(doc_id % 7 as int) " +
          "WHEN 0 THEN 'ok.example.com' WHEN 1 THEN 'spam.example' " +
          "WHEN 2 THEN 'sub.spam.example' WHEN 3 THEN 'ads.example' " +
          "WHEN 4 THEN 'notspam.example' WHEN 5 THEN 'ok2.example.com' " +
          "ELSE 'cdn.ads.example' END, '/p/', cast(doc_id as string), " +
          "CASE WHEN doc_id % 11 = 0 THEN '?download=setup.exe' ELSE '' END)"))
      Corpus.urlPolicyFlags(urls, "url",
        blockedDomains = Seq("spam.example", "ads.example"),
        blockedPatterns = Seq("\\?download="))
        .select("doc_id", "host", "blocked_domain", "blocked_pattern", "blocked")
        .orderBy("doc_id")
    }),
    // C4 policy-line dropper: phrase blocklist beside the structural
    // line filter — planted "enable javascript" / "lorem ipsum" lines
    "q_corpus_line_blocklist" -> ((s, dir) => {
      val phrases = Seq("enable javascript", "lorem ipsum")
      val docs = t(s, dir, "documents").withColumn("text", expr(
        "concat(text, '\n', CASE WHEN doc_id % 5 = 0 " +
          "THEN 'Please Enable JavaScript to continue.' " +
          "ELSE 'A fine closing sentence.' END, '\n', " +
          "CASE WHEN doc_id % 7 = 0 THEN 'Lorem Ipsum dolor sit amet.' " +
          "ELSE 'Another good line.' END)"))
      docs.select(col("doc_id"),
        Corpus.lineBlocklistFilter(col("text"), phrases).as("cleaned"),
        Corpus.lineBlocklistStats(col("text"), phrases).as("__st"))
        .select(col("doc_id"), col("cleaned"),
          col("__st.lines_in").as("lines_in"),
          col("__st.lines_kept").as("lines_kept"))
        .orderBy("doc_id")
    }),
    // Per-doc curation verdicts: the streaming funnel's stage order
    // in batch form — planted dup sets, low-quality overrides,
    // benchmark-contaminated groups; keeper elected among CLEAN only
    "q_corpus_curation_verdicts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val fixture = docs.select(col("doc_id"))
        .withColumn("__src", col("doc_id") - pmod(col("doc_id"), lit(3L)))
        .join(docs.select(col("doc_id").as("__src"), col("text")), Seq("__src"))
        .withColumn("text", when(col("doc_id") % 17 === 0,
          expr("trim(repeat('spam ', 12))")).otherwise(col("text")))
        .select("doc_id", "text")
      // thresholds sized to the fixture's repetitious synthetic text:
      // the spam plant (wr ~0.92) still fails, real docs pass, so all
      // four verdicts are exercised
      Corpus.curationVerdicts(fixture, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text",
        minQuality = 0.2, maxWordRep = 0.9)
        .orderBy("doc_id")
    }),
    // Learned quality gate: exact-integer multinomial naive Bayes —
    // train good-vs-junk on the even-id half of a planted fixture
    // (junk = repetitive spamword runs), score the HELD-OUT odd half;
    // counts, quantized logs, and the argmax all replay in the twin
    "q_corpus_nb_score" -> ((s, dir) => {
      val fixture = t(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0,
          expr("trim(repeat('spamword ', cast(8 + doc_id % 9 as int)))"))
          .otherwise(col("text")).as("text"),
        when(col("doc_id") % 3 === 0, lit("junk"))
          .otherwise(lit("good")).as("label"))
      Corpus.naiveBayesClassScores(
        fixture.filter(col("doc_id") % 2 === 0),
        fixture.filter(col("doc_id") % 2 === 1).select("doc_id", "text"),
        "doc_id", "text", "label")
        .orderBy("doc_id", "label")
    }),
    // The same classifier served from a PERSISTED model (train once,
    // score many): identical contract, identical twin — the model
    // tables must reproduce the inline path bit for bit
    "q_corpus_nb_indexed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val fixture = docs.select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0,
          expr("trim(repeat('spamword ', cast(8 + doc_id % 9 as int)))"))
          .otherwise(col("text")).as("text"),
        when(col("doc_id") % 3 === 0, lit("junk"))
          .otherwise(lit("good")).as("label"))
      val mdl = s"nb_gate_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(mdl))
        Corpus.writeNaiveBayesModel(
          fixture.filter(col("doc_id") % 2 === 0), "text", "label", mdl)
      Corpus.naiveBayesScoresFromModel(s, mdl,
        fixture.filter(col("doc_id") % 2 === 1).select("doc_id", "text"),
        "doc_id", "text")
        .orderBy("doc_id", "label")
    }),
    "q_corpus_lm_score" -> ((s, dir) => {
      Corpus.bigramLogProbScores(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // Corpus-pipeline: eval-set decontamination — flag docs sharing any
    // exact 8-token shingle with the benchmark slice (doc_id % 97)
    "q_corpus_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.decontaminationFlags(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text", n = 8)
        .orderBy("doc_id")
    }),
    // Semantic decontamination: the benchmark is 50 planted exact
    // copies, so cosine vs the corpus is ≈ 1.0 for the 50 sources and
    // ≤ 0.601 for everything else (max non-dup cosine across fixtures)
    // — the 0.8 threshold decision is engine-exact by margin even
    // though the cosine itself is floating-point.
    "q_corpus_decontam_embedding" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bench = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Corpus.embeddingDecontaminationFlags(
        emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", bench, "embedding", threshold = 0.8)
        .orderBy("vec_id")
    }),
    // Banded arm of the same screen — both sides bucket through the
    // portable hyperplane family, only colliding vectors meet, exact
    // verify gates the flag. On this fixture the output EQUALS the
    // brute arm's: copies share every band (identical signatures) so
    // recall on true hits is 1, and verification kills every false
    // candidate — one oracle serves both arms.
    "q_corpus_decontam_embedding_banded" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bench = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Corpus.embeddingDecontaminationBanded(
        emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", bench, "embedding",
        threshold = 0.8, nBits = 6, nBands = 6)
        .orderBy("vec_id")
    }),
    // Persisted-index arm of the same screen (the surface a streaming
    // ingest probes per micro-batch): write the benchmark's band rows
    // once, probe from the table. The benchmark vectors are DISTINCT,
    // so content-identity (stored __bid = vector hash) and the
    // in-memory arms' row-identity agree — one oracle serves all three.
    "q_corpus_decontam_embedding_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bench = emb.filter(col("vec_id") < 50).select(col("embedding"))
      s.sql("DROP TABLE IF EXISTS gate_emb_band_idx")
      s.sql("DROP TABLE IF EXISTS gate_emb_band_idx_stats")
      Corpus.writeEmbeddingBandIndex(bench, "embedding", "gate_emb_band_idx",
        nBits = 6, nBands = 6)
      Corpus.embeddingDecontaminationFromIndex(
        emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", "gate_emb_band_idx", threshold = 0.8)
        .orderBy("vec_id")
    }),
    // Suite REMOVAL from the persisted band index: build A∪B (write +
    // append), retire B through the O(|suite|) anti-join delete, probe.
    // The oracle is the A-only brute screen — so the gate fails both if
    // the delete under-removes (B's self-matches at vec_id 50-79 would
    // flag) and if it over-removes (A's planted sources stop flagging).
    // A and B are content-disjoint in every fixture (checked: zero
    // byte-identical vectors across the ranges), so delete == rebuild
    // holds exactly.
    "q_corpus_embband_delete" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val a = emb.filter(col("vec_id") < 50).select(col("embedding"))
      val b = emb.filter(col("vec_id") >= 50 && col("vec_id") < 80)
        .select(col("embedding"))
      s.sql("DROP TABLE IF EXISTS gate_emb_band_del")
      s.sql("DROP TABLE IF EXISTS gate_emb_band_del_stats")
      Corpus.writeEmbeddingBandIndex(a, "embedding", "gate_emb_band_del",
        nBits = 6, nBands = 6)
      Corpus.appendToEmbeddingBandIndex("gate_emb_band_del", b, "embedding")
      Corpus.deleteFromEmbeddingBandIndex(s, "gate_emb_band_del", b, "embedding")
      Corpus.embeddingDecontaminationFromIndex(
        emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", "gate_emb_band_del", threshold = 0.8)
        .orderBy("vec_id")
    }),
    // Sharded-output manifests: balanced Knuth-hash shards of orders
    // with per-shard row counts + portable column fingerprints; shard
    // sums add up to the q_verify_checksum whole-table sums
    "q_corpus_shards" -> ((s, dir) => {
      Corpus.shardManifest(t(s, dir, "orders"), "o_orderkey", 16,
        Seq("o_orderkey", "o_orderstatus"))
        .select(col("shard"), col("n_rows"),
          col("o_orderkey__sum").cast("long").as("o_orderkey__sum"),
          col("o_orderkey__nulls"),
          col("o_orderstatus__sum").cast("long").as("o_orderstatus__sum"),
          col("o_orderstatus__nulls"))
        .orderBy("shard")
    }),
    // Fraction-overlap decontamination: contaminated when >= 15% of a
    // doc's distinct 5-grams occur in the eval slice — the partial-
    // leakage check exact-match decontam misses; ratio is integer ppm
    "q_corpus_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.overlapDecontaminationFlags(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text",
        n = 5, thresholdPpm = 150000L)
        .orderBy("doc_id")
    }),
    // Corpus-pipeline: Bloom-filter decontamination — the scale twin of
    // q_corpus_decontam (benchmark broadcasts as a bounded bit set, the
    // corpus side never shuffles shingle strings); portable hash family
    // makes the filter — false positives included — oracle-exact
    "q_corpus_bloom_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.bloomDecontaminationFlags(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text",
        n = 8, mBits = 1 << 18, k = 5)
        .orderBy("doc_id")
    }),
    // Persisted benchmark bloom index: build the bit roster once, serve
    // the SAME flags from the stored table (the twin is the in-memory
    // gate's twin verbatim)
    "q_corpus_decontam_indexed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.writeBloomIndex(docs.filter(col("doc_id") % 97 === 0), "text",
        "bloom_decontam_idx", n = 8, mBits = 1 << 18, k = 5)
      Corpus.bloomDecontaminationFromIndex(docs, "doc_id", "text",
        "bloom_decontam_idx")
        .orderBy("doc_id")
    }),
    // Append lifecycle: a second eval suite unions in O(suite); the
    // result must equal a rebuild from both suites (twin = bits of A∪B)
    "q_corpus_decontam_appended" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.writeBloomIndex(docs.filter(col("doc_id") % 97 === 0), "text",
        "bloom_decontam_app", n = 8, mBits = 1 << 18, k = 5)
      Corpus.appendToBloomIndex("bloom_decontam_app",
        docs.filter(col("doc_id") % 89 === 0), "text")
      Corpus.bloomDecontaminationFromIndex(docs, "doc_id", "text",
        "bloom_decontam_app")
        .orderBy("doc_id")
    }),
    // Corpus-pipeline: deterministic hash-bucket train/val/test split
    "q_corpus_split" -> ((s, dir) => {
      Corpus.deterministicSplit(t(s, dir, "documents"), "doc_id",
        valFraction = 0.1, testFraction = 0.1)
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),
    // Leakage-safe split: hash split + near-dup hygiene — every
    // non-train member of a cross-split portable-MinHash pair demotes
    // to train (24 demotions at sf0.01). The twin replays hash split,
    // signatures, pairing and demotion in one CTE chain
    "q_corpus_leak_split" -> ((s, dir) => {
      Corpus.leakageSafeSplit(t(s, dir, "documents"), "doc_id", "text",
        valFraction = 0.2, testFraction = 0.2)
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),
    // Corpus-pipeline: deterministic epoch shuffle (salted portable
    // hash, distributed range-sort total order)
    "q_corpus_shuffle" -> ((s, dir) => {
      Corpus.epochShuffle(t(s, dir, "documents").select("doc_id"), "doc_id",
        salt = 7L)
    }),
    // Corpus-pipeline: overlapping context-window chunking (32-token
    // windows, stride 24) — shuffle-free narrow map
    "q_corpus_chunk" -> ((s, dir) => {
      Corpus.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")
    }),
    // Corpus-pipeline: per-domain LM affinity (own-domain vs global
    // bigram log-prob delta — the domain-routing signal)
    "q_corpus_domain_fit" -> ((s, dir) => {
      Corpus.domainAffinityScores(t(s, dir, "documents"), "doc_id", "text", "lang")
        .orderBy("doc_id")
    }),
    // Corpus-pipeline: DSIR importance log-weights — every raw doc
    // (doc_id % 13 != 0) scored by how target-like (doc_id % 13 == 0
    // slice) its hashed unigram+bigram features read; micro-nat
    // integers end to end
    "q_corpus_dsir_weight" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.dsirLogWeights(docs.filter(col("doc_id") % 13 =!= 0),
        "doc_id", "text", docs.filter(col("doc_id") % 13 === 0), "text",
        buckets = 1024)
        .orderBy("doc_id")
    }),
    // Corpus-pipeline: DSIR Gumbel top-k importance resample — the
    // derandomized uniform comes from the doc id's own KR hash, so
    // the SAMPLE (not just the weights) is oracle-exact
    "q_corpus_dsir_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.dsirResample(docs.filter(col("doc_id") % 13 =!= 0),
        "doc_id", "text", docs.filter(col("doc_id") % 13 === 0), "text",
        k = 120, buckets = 1024)
        .orderBy("doc_id")
    }),
    // Persisted DSIR model: bucket multinomials written once, the
    // same raw pool scored FROM the model — must equal the inline
    // q_corpus_dsir_weight twin verbatim (train-once/score-many)
    "q_corpus_dsir_indexed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val mdl = s"dsir_gate_${fixtureKey(dir, docs)}"
      if (!s.catalog.tableExists(mdl))
        Corpus.writeDsirModel(docs.filter(col("doc_id") % 13 === 0), "text",
          docs.filter(col("doc_id") % 13 =!= 0), "text", mdl, buckets = 1024)
      Corpus.dsirScoresFromModel(s, mdl,
        docs.filter(col("doc_id") % 13 =!= 0), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // Corpus-pipeline: trigram stupid-backoff LM scoring, fit on the
    // deterministic held-in half so backoff genuinely triggers
    "q_corpus_lm3_score" -> ((s, dir) => {
      Corpus.trigramBackoffScores(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // Corpus-health: distinct-bigram diversity per language slice —
    // duplication/templating collapses the ratio before dedup sees it
    "q_corpus_distinct_ngrams" -> ((s, dir) => {
      Corpus.distinctNgramStats(t(s, dir, "documents"), "lang", "text", n = 2)
        .orderBy("lang")
    }),
    // Corpus-pipeline: per-group stats with an exact median
    "q_corpus_stats" -> ((s, dir) => {
      Corpus.corpusStats(t(s, dir, "documents"), "lang", "n_chars")
        .orderBy("lang")
    }),
    // Multimodal decode stage over binary payloads. The stub codec
    // derives its fake metadata from the portable Karp-Rabin
    // fingerprint, so the decode plumbing gets a full cross-engine
    // rows+schema+hash oracle (the real-codec swap point is unchanged).
    "q_mm_decode" -> ((s, dir) => {
      // every 5th doc carries a REAL P6/PPM payload (header + 'A'-filled
      // pixel plane, dims derived from doc_id) exercising the actual
      // binary parser; the rest keep text bytes -> the KR fake codec.
      // Both paths emit exact-arithmetic metadata, so one oracle gates
      // real-parse and fallback dispatch together.
      val w = (lit(2) + col("doc_id") % 7).cast("string")
      val h = (lit(1) + col("doc_id") % 5).cast("string")
      val p6 = concat(lit("P6\n"), w, lit(" "), h, lit("\n255\n"),
        expr("repeat('A', cast((2 + doc_id % 7) * (1 + doc_id % 5) * 3 as int))"))
      // non-planted rows get a 'T' prefix: the decoder dispatches on
      // CONTENT (any parseable P6 hits the real codec) while the
      // oracle dispatches on doc_id — the prefix guarantees the two
      // agree for ANY future fixture text, not just the current one
      val media = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, p6)
            .otherwise(concat(lit("T"), col("text")))
            .cast("binary").as("payload"))
      Multimodal.decodeFeatures(media, "doc_id", "payload")
        .select("doc_id", "format", "width", "height", "n_bytes")
        .orderBy("doc_id")
    }),
    // Multimodal: REAL WAV/PCM audio decode. Every 3rd doc carries a
    // genuine RIFF/WAVE payload — header + fmt + data chunks and an
    // 8-bit PCM sample plane, all assembled from a doc_id-derived hex
    // string and unhex'd IDENTICALLY in Spark and the oracle — so the
    // actual chunk-walking parser runs against the actual byte layout.
    // Non-planted rows get 'T'-prefixed text -> the KR fake codec. The
    // gate reads frames as width / channels as height (the audio
    // reading of the decode contract); features are spec-gated.
    "q_mm_audio" -> ((s, dir) => {
      val n = (lit(8) + col("doc_id") % 32).cast("int") // frames < 256
      def le32small(c: org.apache.spark.sql.Column) = // value < 256
        concat(format_string("%02x", c), lit("000000"))
      val sampleHex = array_join(
        transform(sequence(lit(0), n - 1),
          i => format_string("%02x", (i * 37 + col("doc_id")) % 256)), "")
      val wavHex = concat(
        lit("52494646"), le32small(n + 36), lit("57415645"), // RIFF size WAVE
        lit("666d7420"), lit("10000000"), // "fmt " 16
        lit("01000100"), // PCM, 1 channel
        lit("401f0000"), lit("401f0000"), // rate 8000, byte rate 8000
        lit("01000800"), // block align 1, 8-bit
        lit("64617461"), le32small(n), sampleHex) // "data" len samples
      val media = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, unhex(wavHex))
            .otherwise(concat(lit("T"), col("text")).cast("binary"))
            .as("payload"))
      Multimodal.decodeFeatures(media, "doc_id", "payload")
        .select("doc_id", "format", "width", "height", "n_bytes")
        .orderBy("doc_id")
    }),
    // Multimodal: REAL AVI container metadata. Every 4th doc carries a
    // genuine RIFF/AVI payload — RIFF header, LIST hdrl, and a full
    // 56-byte avih main header with doc_id-derived dims/frame count —
    // hex-assembled identically in Spark and the oracle; the parser
    // must walk the actual chunk grammar to surface the metadata.
    // Frame-pixel decode is out of scope by design (no codec in a bare
    // JVM); non-planted rows take the 'T'-prefix fake path.
    "q_mm_video" -> ((s, dir) => {
      def le32small(c: org.apache.spark.sql.Column) = // value < 256
        concat(format_string("%02x", c), lit("000000"))
      val frames = lit(1) + col("doc_id") % 100
      val w = lit(16) + col("doc_id") % 64
      val h = lit(16) + col("doc_id") % 48
      val aviHex = concat(
        lit("52494646"), lit("50000000"), lit("41564920"), // RIFF 80 'AVI '
        lit("4c495354"), lit("44000000"), lit("6864726c"), // LIST 68 hdrl
        lit("61766968"), lit("38000000"), // avih 56
        lit("409c0000"), // dwMicroSecPerFrame = 40000 (25 fps)
        lit("00000000"), lit("00000000"), lit("00000000"), // maxbps/pad/flags
        le32small(frames), lit("00000000"), // dwTotalFrames, dwInitialFrames
        lit("01000000"), lit("00000000"), // dwStreams = 1, dwSuggestedBufSize
        le32small(w), le32small(h), // dwWidth, dwHeight
        lit("00000000"), lit("00000000"), lit("00000000"), lit("00000000"))
      val media = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, unhex(aviHex))
            .otherwise(concat(lit("T"), col("text")).cast("binary"))
            .as("payload"))
      Multimodal.decodeFeatures(media, "doc_id", "payload")
        .select("doc_id", "format", "width", "height", "n_bytes")
        .orderBy("doc_id")
    }),
    // REAL video frame extraction: synthetic AVIs with a LIST movi of
    // F = 1 + doc_id % 7 deterministic 4-byte frame chunks; the
    // extractor walks the container and keeps min(4, F) evenly spaced
    // REAL frame payloads ((i·F) div m ordinals) — the oracle rebuilds
    // the exact frame bytes from the same construction formula. Non-AVI
    // payloads (3 of every 4 docs) honestly emit zero rows
    "q_mm_video_frames" -> ((s, dir) => {
      def le32small(c: org.apache.spark.sql.Column) = // value < 256
        concat(format_string("%02x", c), lit("000000"))
      val f = lit(1) + col("doc_id") % 7
      val frameChunks = array_join(transform(sequence(lit(0), f - 1),
        k => concat(lit("30306463"), lit("04000000"), // '00dc' size 4
          format_string("%02x", k),
          format_string("%02x", pmod(col("doc_id"), lit(256))),
          lit("beef"))), "")
      val aviHex = concat(
        lit("52494646"), le32small(lit(92) + lit(12) * f), lit("41564920"),
        lit("4c495354"), lit("44000000"), lit("6864726c"), // LIST 68 hdrl
        lit("61766968"), lit("38000000"), // avih 56
        lit("409c0000"), // 25 fps
        lit("00000000"), lit("00000000"), lit("00000000"),
        le32small(f), lit("00000000"), // dwTotalFrames, dwInitialFrames
        lit("01000000"), lit("00000000"),
        le32small(lit(16)), le32small(lit(16)), // dims
        lit("00000000"), lit("00000000"), lit("00000000"), lit("00000000"),
        lit("4c495354"), le32small(lit(4) + lit(12) * f), lit("6d6f7669"),
        frameChunks)
      val media = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, unhex(aviHex))
            .otherwise(concat(lit("T"), col("text")).cast("binary"))
            .as("payload"))
      Multimodal.sampleVideoFrames(media, "doc_id", "payload", n = 4)
        .select(col("doc_id"),
          col("frame_idx").cast(LongType).as("frame_idx"),
          col("frame_no").cast(LongType).as("frame_no"),
          lower(hex(col("frame"))).as("frame_hex"))
        .orderBy("doc_id", "frame_idx")
    }),
    // S2/F1 — column-metadata scan with the type-mapping CASE/NVL/LEAST
    // normalization riding inside the projection (the reference folds
    // this into its dictionary SQL at tablemeta.go:74,133-158)
    "q_s2_type_ddl" -> ((s, _) => {
      import s.implicits._
      val dict = Seq(
        ("id", "NUMBER", 0, Some(10), Some(0), Some(7), "N"),
        ("price", "NUMBER", 0, Some(12), Some(2), Some(8), "Y"),
        ("big_dec", "NUMBER", 0, Some(40), Some(35), Some(22), "Y"),
        ("counter", "NUMBER", 0, None, None, Some(3), "Y"),
        ("name", "VARCHAR2", 100, None, None, Some(40), "Y"),
        ("code", "CHAR", 3, None, None, Some(4), "N"),
        ("created", "DATE", 0, None, None, Some(8), "Y"),
        ("updated", "TIMESTAMP(6)", 0, None, None, Some(12), "Y"),
        ("tz_col", "TIMESTAMP(6) WITH TIME ZONE", 0, None, None, Some(14), "Y"),
        ("body", "CLOB", 0, None, None, Some(120), "Y"),
        ("payload", "BLOB", 0, None, None, Some(200), "Y"),
        ("ratio", "BINARY_DOUBLE", 0, None, None, Some(9), "Y"),
        ("misc", "XMLTYPE", 0, None, None, Some(50), "Y")
      ).toDF("column_name", "data_type", "char_length", "data_precision",
        "data_scale", "avg_col_len", "nullable")
      dict.select(
        col("column_name"),
        graft.types.TypeTranspiler.ddlTypeExpr(
          col("data_type"), col("char_length"), col("data_precision"),
          col("data_scale"), col("avg_col_len")).as("mysql_type"),
        when(col("nullable") === "N", lit("not null")).otherwise(lit("null")).as("null_sql")
      ).orderBy("column_name")
    }),
    // F3 — default-value rewrite as an in-scan expression (paren strip,
    // generator drop, SYSDATE family, numeric extraction, re-quoting)
    "q_f3_default_rewrite" -> ((s, _) => {
      import s.implicits._
      val defs = Seq(
        ("a", "(0)", true), ("b", "  'abc'  ", false), ("c", "SYS_GUID()", false),
        ("d", "USER", false), ("e", "sysdate", false), ("f", "CURRENT_TIMESTAMP(6)", false),
        ("g", "NULL", false), ("h", "42", true), ("i", "(3.14)", true),
        ("j", "-7", true), ("k", "42 days", true), ("l", "hello world", false),
        ("m", "O'Brien", false), ("n", "'quoted'", false)
      ).toDF("column_name", "raw_default", "is_numeric")
      defs.select(
        col("column_name"),
        graft.types.TypeTranspiler.defaultSqlExpr(
          col("raw_default"), col("is_numeric")).as("default_sql")
      ).orderBy("column_name")
    }),
    // S8/A3/A5/J2 — index-DDL synthesis over dictionary metadata
    // (inline frames; the dictionary arrives via JDBC in production)
    "q_s8_index_ddl" -> ((s, _) => {
      import s.implicits._
      val indCols = Seq(
        ("t1", "pk_t1", "id", 1), ("t1", "ix_t1_ab", "b", 2),
        ("t1", "ix_t1_ab", "a", 1), ("t1", "ux_t1_c", "c", 1)
      ).toDF("table_name", "index_name", "column_name", "column_position")
      val indexes = Seq(
        ("pk_t1", "UNIQUE", "NORMAL"), ("ix_t1_ab", "NONUNIQUE", "NORMAL"),
        ("ux_t1_c", "UNIQUE", "NORMAL")
      ).toDF("index_name", "uniqueness", "index_type")
      val constraints = Seq(("pk_t1", "P")).toDF("constraint_name", "constraint_type")
      ObjectMigrator.indexDdl(indCols, indexes, constraints).orderBy("sql_cmd")
    }),
    // S7 — custom extraction SQL replaces the generated scan (reference
    // YAML tables: map; FixtureSource runs it through Spark SQL, the
    // JDBC twin pushes the text down to the source database)
    "q_s7_custom_sql" -> ((s, dir) => {
      graft.sources.FixtureSource(dir).sqlSource(s,
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
          "WHERE o_orderstatus = 'O' AND o_totalprice > 100000")
        .orderBy("o_orderkey")
    }),
    // S11 — function-based-index DDL: the dbms_metadata.get_ddl cleanup
    // chain (cut at PCTFREE, strip quotes/owner-prefix/newlines, trim)
    "q_s11_fbi_ddl" -> ((s, _) => {
      import s.implicits._
      val indexes = Seq(
        ("idx_fn_upper", "t_users", "FUNCTION-BASED NORMAL"),
        ("ix_plain", "t_users", "NORMAL"),
        ("idx_fn_trunc", "t_orders", "FUNCTION-BASED NORMAL")
      ).toDF("index_name", "table_name", "index_type")
      val ddls = Seq(
        ("idx_fn_upper",
          "\n  CREATE INDEX \"Scott\".\"IDX_FN_UPPER\" ON \"Scott\".\"T_USERS\" (UPPER(\"NAME\")) \n  PCTFREE 10 INITRANS 2 MAXTRANS 255 COMPUTE STATISTICS"),
        ("idx_fn_trunc",
          "CREATE INDEX \"Scott\".\"IDX_FN_TRUNC\" ON \"Scott\".\"T_ORDERS\" (TRUNC(\"ORDER_DATE\"))"),
        ("ix_plain",
          "CREATE INDEX \"Scott\".\"IX_PLAIN\" ON \"Scott\".\"T_USERS\" (\"A\") PCTFREE 10")
      ).toDF("index_name", "ddl_text")
      ObjectMigrator.functionIndexDdl(indexes, ddls, "Scott").orderBy("sql_cmd")
    }),
    // S9/F7/P8 — sequence-trigger scan → auto_increment DDL (regex
    // capture of the NEXTVAL INTO :NEW.<col> pattern)
    "q_s9_seq_ddl" -> ((s, _) => {
      import s.implicits._
      val triggers = Seq(
        ("t_users", "BEGIN SELECT seq_users.nextval INTO:new.id FROM sys.dual; END;"),
        ("t_logs", "BEGIN SELECT s2.NEXTVAL INTO :NEW.log_id FROM DUAL; END;"),
        ("t_noise", "BEGIN :NEW.x := 1; END;")
      ).toDF("table_name", "trigger_body")
      ObjectMigrator.sequenceDdl(triggers).orderBy("sql_cmd")
    }),
    // S14/O2 — stored-program DDL dump ordered by object type
    "q_s14_proc_dump" -> ((s, _) => {
      import s.implicits._
      val objs = Seq(
        ("calc_tax", "FUNCTION", "function calc_tax(p number) return number is begin return p*0.2; end;"),
        ("pkg_util", "PACKAGE", "package pkg_util is procedure p1; end;"),
        ("do_sync", "PROCEDURE", "procedure do_sync is begin null; end;")
      ).toDF("object_name", "object_type", "ddl_text")
      objs.select(
        col("object_type"),
        col("object_name"),
        concat(lit("-- "), col("object_type"), lit(" "), col("object_name"),
          lit("\n"), col("ddl_text")).as("dump_text")
      ).orderBy("object_type", "object_name")
    }),
    // S10/J5 — FK DDL with decorrelated ordered column lists
    "q_s10_fk_ddl" -> ((s, _) => {
      import s.implicits._
      val constraints = Seq(
        ("fk_o_c", "orders", "R", "pk_cust"),
        ("pk_cust", "customer", "P", null),
        ("pk_o", "orders", "P", null)
      ).toDF("constraint_name", "table_name", "constraint_type", "r_constraint_name")
      val consCols = Seq(
        ("fk_o_c", "custkey", 1), ("pk_cust", "c_custkey", 1), ("pk_o", "o_orderkey", 1)
      ).toDF("constraint_name", "column_name", "position")
      ObjectMigrator.foreignKeyDdl(constraints, consCols).orderBy("sql_cmd")
    }),
    // S12/P4 — table-comment DDL (null filter + quote escaping)
    "q_s12_comment_ddl" -> ((s, _) => {
      import s.implicits._
      val comments = Seq(("t1", "user's table"), ("t2", null), ("t3", "plain"))
        .toDF("table_name", "comments")
      ObjectMigrator.commentDdl(comments).orderBy("sql_cmd")
    }),
    // S13/F8 — view transpilation rewrite chain
    "q_s13_view_ddl" -> ((s, _) => {
      import s.implicits._
      val views = Seq(
        ("v1", "select nvl(\"a\", 0) from t -- note"),
        ("v2", "select x from y where z = nvl(\"w\", 1)")
      ).toDF("view_name", "text")
      ObjectMigrator.viewDdl(views).orderBy("view_name")
    })
  )

  /** Shared n-round BPE CTE chain for the two BPE oracles — unrolled
    * rounds of pair-count, argmax (ties on (left, right)), and the
    * greedy left-to-right merge fold (elements as singleton lists so
    * the reduce accumulator and elements share LIST(VARCHAR)).
    * `carryWord` keeps the vocabulary word through the rounds, which
    * the encode twin joins documents against; one builder keeps the
    * two gates' round SQL from drifting apart.
    */
  private def bpeOracleCtes(n: Int, carryWord: Boolean): String = {
    val wcol = if (carryWord) "w, " else ""
    val ctes = scala.collection.mutable.ArrayBuffer(
      "w0 AS MATERIALIZED (SELECT " + wcol + "count(*) AS n, list_transform(range(1, length(w)+1), i -> w[i:i]) AS sym " +
        "FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents) " +
        "WHERE length(w) > 0 GROUP BY w)")
    (1 to n).foreach { r =>
      val prev = s"w${r - 1}"
      ctes += s"p$r AS (SELECT u.l AS ml, u.r AS mr, SUM(n) AS cnt FROM $prev, " +
        s"unnest(list_transform(range(1, len(sym)), i -> {'l': sym[i], 'r': sym[i+1]})) AS t(u) " +
        "GROUP BY u.l, u.r)"
      ctes += s"t$r AS MATERIALIZED (SELECT ml, mr, cnt FROM p$r ORDER BY cnt DESC, ml, mr LIMIT 1)"
      // LEFT JOIN, not CROSS: a round with no pairs left must be a
      // NO-OP (Spark's trainer early-stops there), not wipe the
      // vocabulary — a CROSS JOIN with an empty argmax would empty
      // every later w$r and zero the encode twin's output
      ctes += s"w$r AS MATERIALIZED (SELECT $wcol" + "n, CASE WHEN ml IS NULL THEN sym ELSE " +
        "list_reduce([CAST([] AS VARCHAR[])] || list_transform(sym, s -> [s]), " +
        "(acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = ml AND x[1] = mr " +
        s"THEN acc[1:len(acc)-1] || [ml || mr] ELSE acc || x END) END AS sym FROM $prev LEFT JOIN t$r ON TRUE)"
    }
    "WITH " + ctes.mkString(", ")
  }

  /** Shared IVF-SQ oracle chain (centroid pick → assign → probe →
    * int-dot within probed lists → exact re-rank `rr`) for the two
    * IVF-SQ gates — phase 1 scores only within probed lists, same
    * tie-breaks as the Spark kernels throughout (assign ties →
    * centroid array order cpos; probe ties → cid; shortlist/re-rank
    * ties → neighbor_id). Gates append their own tail over `rr`
    * (top-k slice, or the knn vote); one builder keeps the two gates'
    * pipeline SQL from drifting apart. Knobs pinned to the gate
    * params: 16 centroids, 4 probes, shortlist 32, queries vec_id<20.
    */
  /** The IVF-SQ replay chain (centroid pick → argmax assignment → int8
    * quantize → probes → integer-dot shortlist → exact re-rank) over an
    * arbitrary `e0(vec_id, v DOUBLE[])` vector source — shared by the
    * embedding gates and the hashed-feature ANN gate, which differ ONLY
    * in where the vectors come from.
    */
  private def ivfSqOracleCtesFrom(e0Ctes: String, candWhere: String = ""): String = {
    def dot(a: String, b: String): String =
      s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]), (acc, v) -> acc + v)"
    def cos(a: String, na: String, b: String, nb: String): String =
      s"(CASE WHEN $na * $nb = 0.0 THEN 0.0 ELSE ${dot(a, b)} / ($na * $nb) END)"
    s"WITH $e0Ctes, " +
      s"emb AS (SELECT vec_id, v, sqrt(${dot("v", "v")}) AS nrm FROM e0), " +
      "cent AS (SELECT * FROM (SELECT vec_id AS cid, v AS cv, nrm AS cn, " +
      "row_number() OVER (ORDER BY ((CAST(vec_id AS HUGEINT) * 2654435761) % 4294967296 + 4294967296) % 4294967296, vec_id) AS cpos " +
      "FROM emb) WHERE cpos <= 16), " +
      "assign AS (SELECT e.vec_id, " +
      s"(SELECT c.cid FROM cent c ORDER BY ${cos("e.v", "e.nrm", "c.cv", "c.cn")} DESC, c.cpos LIMIT 1) AS list " +
      "FROM emb e), " +
      "qz AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM e0), " +
      "cz AS (SELECT vec_id, CASE WHEN m = 0.0 THEN list_transform(v, x -> 0) " +
      "ELSE list_transform(v, x -> CAST(floor(x / m * 127 + 0.5) AS INT)) END AS codes FROM qz), " +
      "cd AS (SELECT a.vec_id, a.list, z.codes FROM assign a JOIN cz z USING (vec_id)), " +
      "probes AS (SELECT * FROM (SELECT q.vec_id AS query_id, c.cid AS list, " +
      s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cos("q.v", "q.nrm", "c.cv", "c.cn")} DESC, c.cid) AS pr " +
      "FROM emb q, cent c WHERE q.vec_id < 20) WHERE pr <= 4), " +
      "qq AS (SELECT vec_id AS query_id, codes AS qc FROM cz WHERE vec_id < 20), " +
      "p1 AS (SELECT p.query_id, c.vec_id AS neighbor_id, " +
      "list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len(q.qc)+1), " +
      "i -> CAST(q.qc[i] AS BIGINT) * c.codes[i]), (a,b) -> a + b) AS iscore " +
      "FROM probes p JOIN cd c ON c.list = p.list JOIN qq q ON q.query_id = p.query_id " +
      s"WHERE c.vec_id <> p.query_id$candWhere), " +
      "sl AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY iscore DESC, neighbor_id) AS r FROM p1) WHERE r <= 32), " +
      "rr AS (SELECT s.query_id, s.neighbor_id, " +
      s"""row_number() OVER (PARTITION BY s.query_id ORDER BY ${cos("a.v", "a.nrm", "b.v", "b.nrm")} DESC, s.neighbor_id) AS "rank" """ +
      "FROM sl s JOIN emb a ON a.vec_id = s.neighbor_id JOIN emb b ON b.vec_id = s.query_id)"
  }

  /** Shared dHash-gate replay CTEs: the planted 9×8 gray construction
    * ([[dedupPpm98]]) reduced to per-doc 64-bit vectors (`bits.ba`) and
    * 4 × 16-bit band values (`bv`) — every dHash pair twin appends its
    * own join + Hamming-verify tail. Trailing comma included.
    */
  private lazy val dhashPairCtes: String =
    "WITH d AS (SELECT range AS doc_id, range // 2 AS base, " +
      "range % 2 AS odd FROM range(500)), " +
      "bits AS (SELECT doc_id, list_transform(range(64), b -> " +
      "CASE WHEN (((b % 8) + 1) * 31 + (b // 8) * 17 + base * 7) % 256 > " +
      "(CASE WHEN b = 0 AND odd = 1 THEN (base * 7 + 40) % 256 " +
      "ELSE ((b % 8) * 31 + (b // 8) * 17 + base * 7) % 256 END) " +
      "THEN 1 ELSE 0 END) AS ba FROM d), " +
      "bnd AS (SELECT doc_id, ba, unnest([0, 1, 2, 3]) AS bd FROM bits), " +
      "bv AS (SELECT doc_id, bd, CAST(list_sum(list_transform(range(16), j -> " +
      "ba[bd * 16 + j + 1] * (CAST(1 AS BIGINT) << CAST(j AS INTEGER)))) AS BIGINT) AS bv FROM bnd), "

  /** Shared audio-fingerprint replay CTEs: the planted WAV
    * construction ([[dedupWav]]) reduced to per-doc canonical sample
    * lists (`xs.x`), 8×9 slice-local lag-band energies (`e.en`),
    * 64-bit sign vectors (`bits.ba`) and 4×16-bit band values (`bv`) —
    * each audio pair twin appends its own join + Hamming-verify tail.
    * The odd id's formula divides by 2 (exact: the numerator is even),
    * replaying volume-halving + ZOH-rate canonicalization as the
    * identity they are. Trailing comma included.
    */
  private lazy val audioPairCtes: String =
    "WITH d0 AS (SELECT range AS doc_id FROM range(200)), " +
      "d AS (SELECT doc_id, doc_id // 2 AS base, 96 + (doc_id // 2) % 32 AS n, " +
      "1 + doc_id % 2 AS dv FROM d0 WHERE doc_id % 10 <> 9), " +
      "xs AS (SELECT doc_id, n, list_transform(range(0, n), i -> " +
      "(2 * ((i*i*7 + i*31 + base*131) % 12000 - 6000)) // dv) AS x FROM d), " +
      // slice-local lag energies: lag = bi+1, i runs lo+lag .. hi-1
      // (0-based), DuckDB lists are 1-based so x[j+1] - x[j - bi]
      "e AS (SELECT doc_id, t.ti, b.bi, COALESCE(list_sum(list_transform(" +
      "range((t.ti*n)//8 + b.bi + 1, ((t.ti+1)*n)//8), " +
      "j -> CAST(x[j+1] - x[j - b.bi] AS BIGINT) * (x[j+1] - x[j - b.bi]))), 0) AS en " +
      "FROM xs, range(0,8) t(ti), range(0,9) b(bi)), " +
      "bits AS (SELECT a.doc_id, list(CASE WHEN nx.en > a.en THEN 1 ELSE 0 END " +
      "ORDER BY a.ti*8 + a.bi) AS ba " +
      "FROM e a JOIN e nx ON nx.doc_id = a.doc_id AND nx.ti = a.ti AND nx.bi = a.bi + 1 " +
      "WHERE a.bi < 8 GROUP BY a.doc_id), " +
      "bnd AS (SELECT doc_id, ba, unnest([0, 1, 2, 3]) AS bd FROM bits), " +
      "bv AS (SELECT doc_id, bd, CAST(list_sum(list_transform(range(16), j -> " +
      "ba[bd * 16 + j + 1] * (CAST(1 AS BIGINT) << CAST(j AS INTEGER)))) AS BIGINT) AS bv FROM bnd), "

  /** Shared video-fingerprint replay CTEs: the planted AVI
    * construction ([[dedupAvi]]) reduced to per-(doc, frame) dHash
    * bits from the generating pixel formula (`fb.bit`), per-bit
    * STRICT-MAJORITY video bits (`bits.ba`) and 4×16-bit band values
    * (`bv`) — each video pair twin appends its own join +
    * Hamming-verify tail. Row 0's operands carry no t term (the
    * fixture's design), the corner bump sits only under bit 0's RIGHT
    * operand for the odd id's minority ⌊F/2⌋ leading frames, and F is
    * odd so `2·Σbit > F` never ties. Trailing comma included.
    */
  /** The DSIR replay pipeline shared by the weight and sample twins:
    * filtered lowercase tokens, unigram+bigram feature stream with
    * multiplicity, KR-fold+mix bucket hash (the q_text_hash_features
    * hash verbatim), target (doc_id % 13 = 0) and raw add-one bucket
    * multinomials over 1024 buckets, per-bucket micro-unit log-ratio
    * rounded BEFORE the difference and the per-doc integer sum.
    * Ends with `wts AS (doc_id, n_feats, logw_fx)` over the raw side.
    */
  private lazy val dsirOracleCtes: String =
    "WITH tl AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), " +
      "t -> length(t) > 0) AS w FROM documents), " +
      "feats AS (SELECT doc_id, unnest(w) AS f FROM tl " +
      "UNION ALL SELECT doc_id, unnest(list_transform(range(1, len(w)), " +
      "i -> w[i] || ' ' || w[i + 1])) AS f FROM tl), " +
      "hv AS (SELECT doc_id, (list_reduce([CAST(0 AS BIGINT)] || " +
      "list_transform(range(1, length(t) + 1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
      "(a, c) -> (a * 31 + c) % 1000000007) * 2654435761) % 4294967296 AS mh " +
      "FROM (SELECT doc_id, regexp_replace(f, '[^a-z0-9 ]', '', 'g') AS t FROM feats)), " +
      "b AS (SELECT doc_id, mh % 1024 AS bucket FROM hv), " +
      "tc AS (SELECT bucket, count(*) AS ct FROM b WHERE doc_id % 13 = 0 GROUP BY 1), " +
      "tn AS (SELECT count(*) AS nt FROM b WHERE doc_id % 13 = 0), " +
      "rb AS (SELECT doc_id, bucket FROM b WHERE doc_id % 13 <> 0), " +
      "rc AS (SELECT bucket, count(*) AS cr FROM rb GROUP BY 1), " +
      "rn AS (SELECT count(*) AS nr FROM rb), " +
      "ratio AS (SELECT rc.bucket, " +
      "CAST(floor(ln(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE) / (tn.nt + 1024)) * 1e6 + 0.5) AS BIGINT) - " +
      "CAST(floor(ln(CAST(rc.cr + 1 AS DOUBLE) / (rn.nr + 1024)) * 1e6 + 0.5) AS BIGINT) AS term_fx " +
      "FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tn CROSS JOIN rn), " +
      "p AS (SELECT doc_id, count(*) AS n_feats, SUM(term_fx) AS s " +
      "FROM rb JOIN ratio USING (bucket) GROUP BY 1), " +
      "wts AS (SELECT d.doc_id, COALESCE(p.n_feats, 0) AS n_feats, " +
      "CAST(COALESCE(p.s, 0) AS BIGINT) AS logw_fx " +
      "FROM (SELECT doc_id FROM documents WHERE doc_id % 13 <> 0) d LEFT JOIN p USING (doc_id)) "

  /** Shot-segmentation replay shared by the scenes and keyframes
    * twins: per-frame dHash bits from [[sceneAvi]]'s generating
    * formula (garbage frame t=4 of d%4==2 docs excluded, like the
    * failed raster decode drops it), lag over the DECODED sequence,
    * cut where Hamming > 8, shot = running cut count. Ends with
    * `sh AS (doc_id, t, shot)`; NO trailing comma.
    */
  private lazy val videoSceneCtes: String =
    "WITH d0 AS (SELECT range AS doc_id FROM range(240)), " +
      "d AS (SELECT doc_id, 2 + doc_id % 3 AS b1, 6 + doc_id % 2 AS b2 " +
      "FROM d0 WHERE doc_id % 10 <> 9), " +
      "fb AS (SELECT doc_id, t.t AS t, b.b AS b, CASE WHEN " +
      "((b.b % 8 + 1) * (29 + 97 * CASE WHEN t.t < b1 THEN 0 WHEN t.t < b2 THEN 1 ELSE 2 END) + " +
      "(b.b // 8) * 17 + doc_id * 7) % 128 + " +
      "CASE WHEN b.b // 8 = 0 THEN 0 ELSE t.t * 11 END > " +
      "((b.b % 8) * (29 + 97 * CASE WHEN t.t < b1 THEN 0 WHEN t.t < b2 THEN 1 ELSE 2 END) + " +
      "(b.b // 8) * 17 + doc_id * 7) % 128 + " +
      "CASE WHEN b.b // 8 = 0 THEN 0 ELSE t.t * 11 END + " +
      "CASE WHEN b.b = 0 AND t.t % 2 = 1 THEN 40 ELSE 0 END " +
      "THEN 1 ELSE 0 END AS bit " +
      "FROM d, range(0, 9) t(t), range(0, 64) b(b) " +
      "WHERE NOT (doc_id % 4 = 2 AND t.t = 4)), " +
      "bits AS (SELECT doc_id, t, list(bit ORDER BY b) AS ba FROM fb GROUP BY doc_id, t), " +
      "seq AS (SELECT doc_id, t, ba, row_number() OVER (PARTITION BY doc_id ORDER BY t) AS rn FROM bits), " +
      "hm AS (SELECT a.doc_id, a.t, CASE WHEN p.t IS NULL THEN 0 " +
      "WHEN list_sum(list_transform(range(64), i -> " +
      "CASE WHEN a.ba[i + 1] != p.ba[i + 1] THEN 1 ELSE 0 END)) > 8 THEN 1 ELSE 0 END AS cut " +
      "FROM seq a LEFT JOIN seq p ON p.doc_id = a.doc_id AND p.rn = a.rn - 1), " +
      "sh AS (SELECT doc_id, t, SUM(cut) OVER (PARTITION BY doc_id ORDER BY t) AS shot FROM hm) "

  private lazy val videoPairCtes: String =
    "WITH d0 AS (SELECT range AS doc_id FROM range(240)), " +
      "d AS (SELECT doc_id, doc_id // 2 AS base, doc_id % 2 AS odd, " +
      "3 + 2 * ((doc_id // 2) % 2) AS f FROM d0 WHERE doc_id % 10 <> 9), " +
      "fb AS (SELECT doc_id, b.b AS b, CASE WHEN " +
      "((b.b % 8 + 1) * 31 + (b.b // 8) * 17 + base * 7 + " +
      "CASE WHEN b.b // 8 = 0 THEN 0 ELSE t.t * 11 END) % 256 > " +
      "(CASE WHEN b.b = 0 AND odd = 1 AND t.t < f // 2 " +
      "THEN (base * 7 + 40) % 256 " +
      "ELSE ((b.b % 8) * 31 + (b.b // 8) * 17 + base * 7 + " +
      "CASE WHEN b.b // 8 = 0 THEN 0 ELSE t.t * 11 END) % 256 END) " +
      "THEN 1 ELSE 0 END AS bit " +
      "FROM d, range(0, 5) t(t), range(0, 64) b(b) WHERE t.t < f), " +
      "mj AS (SELECT doc_id, b, CASE WHEN 2 * sum(bit) > count(*) " +
      "THEN 1 ELSE 0 END AS mb FROM fb GROUP BY doc_id, b), " +
      "bits AS (SELECT doc_id, list(mb ORDER BY b) AS ba FROM mj GROUP BY doc_id), " +
      "bnd AS (SELECT doc_id, ba, unnest([0, 1, 2, 3]) AS bd FROM bits), " +
      "bv AS (SELECT doc_id, bd, CAST(list_sum(list_transform(range(16), j -> " +
      "ba[bd * 16 + j + 1] * (CAST(1 AS BIGINT) << CAST(j AS INTEGER)))) AS BIGINT) AS bv FROM bnd), "

  /** The naive-Bayes replay twin — per-class token counts, smoothing
    * denominators N_y + V, micro-unit-quantized logs (each ln an exact
    * integer ratio in double, floored at +0.5 like fxLong), per-doc
    * sums, argmax with the label-ascending tie break. Shared verbatim
    * by the inline gate and the persisted-model gate: the two paths
    * promise the identical result.
    */
  private lazy val NbOracleSql: String =
    "WITH fx AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 " +
        "THEN trim(repeat('spamword ', CAST(8 + doc_id % 9 AS INTEGER))) " +
        "ELSE text END AS text, CASE WHEN doc_id % 3 = 0 THEN 'junk' " +
        "ELSE 'good' END AS label FROM documents), " +
        "tr AS (SELECT * FROM fx WHERE doc_id % 2 = 0), " +
        "ho AS (SELECT doc_id, text FROM fx WHERE doc_id % 2 = 1), " +
        "tt AS (SELECT label, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM tr), " +
        "tt2 AS (SELECT label, w FROM tt WHERE length(w) > 0), " +
        "cyw AS (SELECT label, w, count(*) AS cyw FROM tt2 GROUP BY 1, 2), " +
        "ny AS (SELECT label, count(*) AS ny FROM tt2 GROUP BY 1), " +
        "v AS (SELECT count(DISTINCT w) AS v FROM tt2), " +
        "dy AS (SELECT label, count(*) AS dy FROM tr GROUP BY 1), " +
        "dt AS (SELECT count(*) AS d FROM tr), " +
        "cls AS (SELECT ny.label, CAST(floor(ln(CAST(dy.dy AS DOUBLE) / " +
        "CAST((SELECT d FROM dt) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS prior_fx, " +
        "CAST(ny.ny + (SELECT v FROM v) AS DOUBLE) AS den " +
        "FROM ny JOIN dy ON dy.label = ny.label), " +
        "ht AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM ho), " +
        "htf AS (SELECT doc_id, w, count(*) AS tf FROM " +
        "(SELECT * FROM ht WHERE length(w) > 0) GROUP BY 1, 2), " +
        "contrib AS (SELECT h.doc_id, c.label, c.prior_fx, " +
        "h.tf * CAST(floor(ln(CAST(COALESCE(y.cyw, 0) + 1 AS DOUBLE) / c.den) " +
        "* 1000000 + 0.5) AS BIGINT) AS t " +
        "FROM htf h CROSS JOIN cls c LEFT JOIN cyw y ON y.label = c.label AND y.w = h.w), " +
        "sc0 AS (SELECT doc_id, label, prior_fx + CAST(sum(t) AS BIGINT) AS score_fx " +
        "FROM contrib GROUP BY doc_id, label, prior_fx), " +
        "sc AS (SELECT a.doc_id, c.label, COALESCE(s.score_fx, c.prior_fx) AS score_fx " +
        "FROM (SELECT DISTINCT doc_id FROM ho) a CROSS JOIN cls c " +
        "LEFT JOIN sc0 s ON s.doc_id = a.doc_id AND s.label = c.label) " +
        "SELECT doc_id, label, score_fx, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score_fx DESC, label) = 1 AS pred " +
        "FROM sc ORDER BY doc_id, label"

  private lazy val ivfSqOracleCtes: String =
    ivfSqOracleCtesFrom(
      "e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)")

  /** `e0` built from the signed-hash feature vectors of `documents`
    * (d = 16): the q_text_hash_features twin densified — a doc × dim
    * grid left-joined to the sparse counts, missing dims as 0 — so the
    * hashed-ANN gate replays hash → dense → index → probe → re-rank
    * end-to-end in ANSI SQL.
    */
  private lazy val hashedVecE0Ctes: String =
    "hx_t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM documents), " +
      "hx_t2 AS (SELECT doc_id, tok FROM hx_t WHERE length(tok) > 0), " +
      "hx_h AS (SELECT doc_id, (list_reduce([CAST(0 AS BIGINT)] || " +
      "list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
      "(a,c) -> (a*31+c) % 1000000007) * 2654435761) % 4294967296 AS mh " +
      "FROM (SELECT doc_id, regexp_replace(tok, '[^a-z0-9 ]', '', 'g') AS t FROM hx_t2)), " +
      "hx_f AS (SELECT doc_id, mh % 16 AS dim_idx, " +
      "CASE WHEN (mh // 65536) % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM hx_h), " +
      "hx_sp AS (SELECT doc_id, dim_idx, CAST(sum(sgn) AS BIGINT) AS f " +
      "FROM hx_f GROUP BY doc_id, dim_idx), " +
      "hx_g AS (SELECT d.doc_id, r.range AS j " +
      "FROM (SELECT DISTINCT doc_id FROM hx_sp) d CROSS JOIN range(0, 16) r), " +
      "e0 AS (SELECT g.doc_id AS vec_id, " +
      "list(CAST(coalesce(s.f, 0) AS DOUBLE) ORDER BY g.j) AS v " +
      "FROM hx_g g LEFT JOIN hx_sp s ON s.doc_id = g.doc_id AND s.dim_idx = g.j " +
      "GROUP BY g.doc_id)"

  /** The incremental batch-vs-history MinHash oracle, shared verbatim
    * by `q_dedup_incremental` (in-memory history) and
    * `q_dedup_incremental_indexed` (materialized signature index) —
    * one SQL twin, because the two paths promise the same result.
    */
  /** The portable-MinHash signature CTE chain over `documents` —
    * shared by the incremental, incremental-indexed, deleted-index and
    * real-pair-graph twins. Ends with `sig(doc_id, sig_0..sig_7)`.
    */
  /** The portable-minhash signature CTE chain over `documents`, with
    * the text SOURCE expression pluggable — the normalized-index gate
    * wraps it in `nfc_normalize(prefix || text)`, everything else uses
    * the bare column.
    */
  private def minhashSigCtesFrom(textExpr: String): String = {
    val k = 8
    val sigs = (0 until k).map(j =>
      s"MIN((${2 * j + 3}*hv+${97 * j + 1})%1000000007) AS sig_$j").mkString(", ")
    s"WITH toks AS (SELECT doc_id, string_split_regex(lower(trim($textExpr)), '\\s+') AS w FROM documents), " +
      "sh AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')] " +
      "ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END AS s FROM toks), " +
      "e AS (SELECT doc_id, unnest(s) AS sg FROM sh), " +
      "hv AS (SELECT doc_id, list_reduce([CAST(0 AS BIGINT)] || " +
      "list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
      "(a,c) -> (a*31+c) % 1000000007) AS hv " +
      "FROM (SELECT doc_id, regexp_replace(lower(sg), '[^a-z0-9 ]', '', 'g') AS t FROM e)), " +
      s"sig AS (SELECT doc_id, $sigs FROM hv GROUP BY doc_id)"
  }

  private lazy val minhashSigCtes: String = minhashSigCtesFrom("text")

  /** Sum of per-component signature matches between sides `a` and `b`
    * of a sig-join — the integer the minhash estimate is matches/8 of.
    */
  private val minhashMatchSum: String = (1 until 8).map(j =>
    s"CASE WHEN a.sig_$j = b.sig_$j THEN 1 ELSE 0 END").mkString("1 + ", " + ", "")

  /** The bloom-decontamination twin, parameterized by the SQL predicate
    * selecting the benchmark suite(s) whose bits are set — one builder
    * for the in-memory gate, the indexed gate, and the append==rebuild
    * gate (bits from A ∪ B).
    */
  /** The bloom hash-position expressions and the shared shingle→KR-hash
    * CTE chain (n=8 token shingles, distinct on (doc, hash) — not on
    * shingle strings — so a hash collision collapses identically in
    * both engines), reused by the decontam twins and the takedown
    * roster-vs-benchmark twin.
    */
  private lazy val bloomPosExprs: String = (0 until 5).map(i =>
    s"(hv * ${2 * i + 3} + ${97 * i + 1}) % ${1 << 18}").mkString(", ")
  private lazy val bloomHvCtes: String =
    "WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
      "sh AS (SELECT doc_id, CASE WHEN len(w) < 8 THEN [array_to_string(w, ' ')] " +
      "ELSE list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' ')) END AS s FROM toks), " +
      "e AS (SELECT doc_id, unnest(s) AS sg FROM sh), " +
      "hv0 AS (SELECT doc_id, list_reduce([CAST(0 AS BIGINT)] || " +
      "list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
      "(a,c) -> (a*31+c) % 1000000007) AS hv " +
      "FROM (SELECT doc_id, regexp_replace(lower(sg), '[^a-z0-9 ]', '', 'g') AS t FROM e)), " +
      "hv AS (SELECT DISTINCT doc_id, hv FROM hv0), " +
      s"probes AS (SELECT doc_id, hv, unnest([$bloomPosExprs]) AS bit FROM hv)"

  private def bloomDecontamOracle(benchPred: String): String =
    s"$bloomHvCtes, " +
      s"bb AS (SELECT DISTINCT unnest([$bloomPosExprs]) AS bit FROM hv WHERE $benchPred), " +
      "hits AS (SELECT doc_id, hv, count(*) AS nset FROM probes JOIN bb USING (bit) GROUP BY doc_id, hv), " +
      "fl AS (SELECT doc_id, count(*) AS n_flagged FROM hits WHERE nset = 5 GROUP BY doc_id) " +
      "SELECT d.doc_id, COALESCE(fl.n_flagged, 0) AS n_flagged, COALESCE(fl.n_flagged, 0) > 0 AS flagged " +
      "FROM documents d LEFT JOIN fl USING (doc_id) ORDER BY d.doc_id"

  /** Twin of `q_verify_takedown_bloom`: after a %13 sweep, the ROSTER
    * bloom's bits equal a from-scratch filter over the SURVIVORS
    * (doc_id % 13 != 0 — under- AND over-removal both flag), while the
    * BENCHMARK screen's bits stay exactly the %97 suite's (a
    * rebuild-from-live would flip both planted classes). One probe
    * pass serves both filters.
    */
  private lazy val takedownBloomOracleSql: String =
    s"$bloomHvCtes, " +
      s"rb AS (SELECT DISTINCT unnest([$bloomPosExprs]) AS bit FROM hv WHERE doc_id % 13 != 0), " +
      s"bb AS (SELECT DISTINCT unnest([$bloomPosExprs]) AS bit FROM hv WHERE doc_id % 97 = 0), " +
      "rhits AS (SELECT doc_id, hv, count(*) AS nset FROM probes JOIN rb USING (bit) GROUP BY doc_id, hv), " +
      "rfl AS (SELECT doc_id, count(*) AS n FROM rhits WHERE nset = 5 GROUP BY doc_id), " +
      "bhits AS (SELECT doc_id, hv, count(*) AS nset FROM probes JOIN bb USING (bit) GROUP BY doc_id, hv), " +
      "bfl AS (SELECT doc_id, count(*) AS n FROM bhits WHERE nset = 5 GROUP BY doc_id) " +
      "SELECT d.doc_id, COALESCE(rfl.n, 0) AS roster_flagged_n, COALESCE(rfl.n, 0) > 0 AS roster_flagged, " +
      "COALESCE(bfl.n, 0) AS bench_flagged_n, COALESCE(bfl.n, 0) > 0 AS bench_flagged " +
      "FROM documents d LEFT JOIN rfl USING (doc_id) LEFT JOIN bfl USING (doc_id) ORDER BY d.doc_id"

  private def minhashIncrementalOracle(indexExtra: String,
      sigCtes: String = minhashSigCtes): String =
    s"$sigCtes " +
      s"SELECT a.doc_id AS batch_id, b.doc_id AS index_id, CAST($minhashMatchSum AS DOUBLE)/8 AS minhash_est " +
      "FROM sig a JOIN sig b ON a.sig_0 = b.sig_0 " +
      s"WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0$indexExtra " +
      s"AND CAST($minhashMatchSum AS DOUBLE)/8 >= 0.5 " +
      "ORDER BY batch_id, index_id"

  private lazy val minhashIncrementalOracleSql: String =
    minhashIncrementalOracle("")

  /** Twin of `q_stream_ingest_twin` — the BATCH computation of the
    * streaming indexed-ingest survivor set, composed from the gates'
    * existing portable kernels: keep-min pre-dedup on the normalized
    * text, the micro-quantized quality score (same CTE as
    * `q_text_quality`), the Karp–Rabin + affine-permutation minhash
    * signatures (same CTEs as `q_dedup_minhash_portable`), an
    * odd-vs-even index-collision pass, and the intra-batch keep-first
    * self-pass. What the stream writes through foreachBatch must equal
    * what this SQL computes.
    */
  private lazy val streamIngestTwinOracleSql: String = {
    val k = 8
    val sigs = (0 until k).map(j =>
      s"MIN((${2 * j + 3}*hv+${97 * j + 1})%1000000007) AS sig_$j").mkString(", ")
    val matchSum = (1 until k).map(j =>
      s"CASE WHEN a.sig_$j = b.sig_$j THEN 1 ELSE 0 END").mkString("1 + ", " + ", "")
    val sw = TextAnalysis.EN_STOPWORDS.map(s => s"'$s'").mkString(", ")
    "WITH b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 1), " +
      "norm AS (SELECT doc_id, text, array_to_string(string_split_regex(lower(trim(text)), '\\s+'), ' ') AS nk FROM b0), " +
      "keep AS (SELECT doc_id, text FROM (SELECT doc_id, text, row_number() OVER (PARTITION BY nk ORDER BY doc_id) AS rn FROM norm) WHERE rn = 1), " +
      "tq AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks, " +
      "string_split_regex(lower(trim(text)), '\\s+') AS ltoks FROM keep), " +
      "mq AS (SELECT doc_id, text, " +
      "LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score, " +
      "CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS pr, " +
      s"CASE WHEN len(ltoks) > 0 THEN CAST(len(list_filter(ltoks, x -> x IN ($sw))) AS DOUBLE) / len(ltoks) ELSE 0.0 END AS swr, " +
      "CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS mtl " +
      "FROM tq), " +
      "q AS (SELECT doc_id, text FROM mq WHERE " +
      "FLOOR((len_score + (1.0 - LEAST(pr * 5.0, 1.0)) + (1.0 - LEAST(abs(swr - 0.4) * 2.5, 1.0)) + (1.0 - LEAST(abs(mtl - 5.0) / 5.0, 1.0))) / 4.0 * 1000000 + 0.5) / 1000000.0 >= 0.3), " +
      "u AS (SELECT doc_id, text FROM q UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0), " +
      "toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM u), " +
      "sh AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')] " +
      "ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END AS s FROM toks), " +
      "e AS (SELECT doc_id, unnest(s) AS sg FROM sh), " +
      "hv AS (SELECT doc_id, list_reduce([CAST(0 AS BIGINT)] || " +
      "list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
      "(a,c) -> (a*31+c) % 1000000007) AS hv " +
      "FROM (SELECT doc_id, regexp_replace(lower(sg), '[^a-z0-9 ]', '', 'g') AS t FROM e)), " +
      s"sig AS (SELECT doc_id, $sigs FROM hv GROUP BY doc_id), " +
      s"hits AS (SELECT DISTINCT a.doc_id FROM sig a JOIN sig b ON a.sig_0 = b.sig_0 " +
      s"WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND CAST($matchSum AS DOUBLE)/8 >= 0.5), " +
      s"selfd AS (SELECT DISTINCT b.doc_id FROM sig a JOIN sig b ON a.sig_0 = b.sig_0 AND a.doc_id < b.doc_id " +
      s"WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 1 AND CAST($matchSum AS DOUBLE)/8 >= 0.5) " +
      "SELECT doc_id FROM q WHERE doc_id NOT IN (SELECT doc_id FROM hits) " +
      "AND doc_id NOT IN (SELECT doc_id FROM selfd) ORDER BY doc_id"
  }

  /** Shared CTE chain for the KMV shingle-sketch twins: the pinned
    * minhash-portable tokenize/shingle/KR-fold steps, then the Knuth
    * mix, distinct hashes, and the per-group k-th-smallest order
    * statistic (k = 64).
    */
  private val SketchKmvShingleCtes: String = {
    val kr = "list_reduce([CAST(0 AS BIGINT)] || " +
      "list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
      "(a,c) -> (a*31+c) % 1000000007)"
    "WITH toks AS (SELECT lang, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
      "sh AS (SELECT lang, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')] " +
      "ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END AS s FROM toks), " +
      "e AS (SELECT lang, unnest(s) AS sg FROM sh), " +
      s"hv AS (SELECT DISTINCT lang, ($kr * 2654435761) % 4294967296 AS mh " +
      "FROM (SELECT lang, regexp_replace(lower(sg), '[^a-z0-9 ]', '', 'g') AS t FROM e)), " +
      "r AS (SELECT lang, mh, row_number() OVER (PARTITION BY lang ORDER BY mh) AS rn, " +
      "count(*) OVER (PARTITION BY lang) AS cnt FROM hv), " +
      "kth AS (SELECT lang, max(CASE WHEN rn = 64 THEN mh END) AS h_k, " +
      "max(cnt) AS cnt FROM r GROUP BY lang) "
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q_stream_ingest_twin" -> streamIngestTwinOracleSql,
    "q_k1_copy_lineitem" ->
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice",
    "q_zorder_scan" ->
      ("SELECT * FROM lineitem WHERE l_partkey <= 200 AND l_orderkey <= 30000 " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"),
    "q_hilbert_scan" ->
      ("SELECT * FROM lineitem WHERE l_partkey <= 200 AND l_orderkey <= 30000 " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"),
    // The round-trip twins compute the hazard decoration straight from
    // parquet — the Spark side must survive its write→read through the
    // text codec to match. Suffix = LF ‖ quotes ‖ backslash ‖ comma ‖
    // tab ‖ unicode ‖ CRLF, exactly SparkEntry.HazardSuffix.
    "q_k2_jsonl_roundtrip" -> HazardOracleSql,
    "q_k3_csv_roundtrip" -> HazardOracleSql,
    "q_k5_xml_roundtrip" -> HazardOracleSql,
    // parquet-direct twin of the ORC round-trip, same exact integer fold
    "q_k4_orc_roundtrip" ->
      ("SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim, " +
        "list_reduce([CAST(0 AS BIGINT)] || list_transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE)*1000000+0.5) AS BIGINT)), " +
        "(a,b) -> ((a*31+b) % 1000000007 + 1000000007) % 1000000007) AS emb_fold " +
        "FROM embeddings ORDER BY vec_id"),
    "q_s5_scan_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "q_s6_probe" ->
      "SELECT l_orderkey, l_quantity FROM lineitem WHERE 1=0",
    "q_s15_table_counts" ->
      ("SELECT * FROM (" +
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
          .map(n => s"SELECT '$n' AS table_name, count(*) AS n_rows FROM $n")
          .mkString(" UNION ALL ") +
        ") ORDER BY table_name"),
    "q_s4_page_count" ->
      "SELECT CAST(CEIL(count(*) / 1000.0) AS BIGINT) AS pages FROM lineitem",
    "q_a3_listagg" ->
      "SELECT l_orderkey, string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS line_numbers FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey",
    "q_a5_group_agg" ->
      "SELECT l_returnflag, l_linestatus, count(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "q_j1_left_outer" ->
      "SELECT n_nationkey, n_name, r_name FROM nation LEFT JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey",
    "q_a_rollup" ->
      ("SELECT COALESCE(l_returnflag, 'ALL') AS returnflag, COALESCE(l_linestatus, 'ALL') AS linestatus, " +
        "count(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY returnflag, linestatus"),
    "q_j3_anti_join" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) ORDER BY c_custkey",
    "q_j4_full_outer_compare" ->
      "SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey, CASE WHEN c.c_custkey IS NULL THEN 'NO' ELSE 'YES' END AS cust_exists, COALESCE(o.n_orders, 0) AS n_orders FROM customer c FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) o ON c.c_custkey = o.o_custkey ORDER BY custkey",
    "q_p_filters" ->
      "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders WHERE o_orderstatus <> 'F' AND o_orderpriority IN ('1-URGENT','2-HIGH') ORDER BY o_orderkey",
    "q_f1_string_funcs" ->
      "SELECT p_partkey, UPPER(p_brand) AS brand_u, SUBSTR(p_type, 1, 5) AS type5, REPLACE(p_name, ' ', '_') AS name_u, LEAST(p_size, 25) AS size_c, CASE WHEN p_size > 25 THEN 'L' ELSE 'S' END AS bucket, CAST(INSTR(p_type, 'a') AS INT) AS pos_a, CONCAT(p_brand, '#', p_type) AS brand_type FROM part ORDER BY p_partkey",
    "q_f4_date_format" ->
      "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS dt_str, CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo FROM orders ORDER BY o_orderkey",
    "q_f7_regex_extract" ->
      "SELECT event_id, CAST(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS INT) AS k FROM events WHERE regexp_matches(props, '\"k\"') ORDER BY event_id",
    "q_f6_json" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k, " +
        "'{\"event_id\":' || event_id || ',\"event_type\":\"' || event_type || '\"}' AS as_json " +
        "FROM events ORDER BY event_id"),
    "q_f8_view_rewrite" ->
      "SELECT doc_id, REPLACE(REPLACE(UPPER(text), 'SPARK', 'FLINK'), 'JOIN', 'MERGE') AS rewritten FROM documents ORDER BY doc_id",
    "q_w1_row_number" ->
      "SELECT l_orderkey, l_linenumber, CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice) AS INT) AS rn FROM lineitem ORDER BY l_orderkey, l_linenumber, rn",
    "q_w2_running_sum" ->
      "SELECT l_orderkey, l_linenumber, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty FROM lineitem ORDER BY l_orderkey, l_linenumber, running_qty",
    "q_o4_except" ->
      "SELECT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey",
    "q_o_topn" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10",
    "q_dedup_exact" ->
      "SELECT md5(text) AS text_hash, count(*) AS dup_count, MIN(doc_id) AS keeper FROM documents GROUP BY md5(text) ORDER BY text_hash",
    "q_o_intersect" ->
      "SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey",
    "q_text_tokens" ->
      "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars2, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents ORDER BY doc_id",
    // The IDENTICAL RE2-safe chain as TextAnalysis.htmlToText, over the
    // identical synthesized page — a portable-parity twin like the
    // simhash/minhash ones. Keep the steps in lockstep with the Scala.
    "q_text_html_extract" -> {
      val page =
        "'<html><head><title>t</title><style>p{color:red}</style></head>" +
          "<body><script type=\"text/javascript\">var x = \"<p>not content</p>\";" +
          "</script><h1>Doc ' || CAST(doc_id AS VARCHAR) || " +
          "'</h1><!-- nav boilerplate --><p>' || text || " +
          "'</p><p>Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;s&nbsp;end</p>" +
          "<div>footer</div></body></html>'"
      val steps: Seq[(String, String)] = Seq(
        "(?is)<script\\b[^>]*>.*?</script>" -> "' '",
        "(?is)<style\\b[^>]*>.*?</style>" -> "' '",
        "(?is)<head\\b[^>]*>.*?</head>" -> "' '",
        "(?s)<!--.*?-->" -> "' '",
        ("(?i)<(br|hr)\\s*/?>|</(p|div|li|tr|td|h1|h2|h3|h4|h5|h6|ul|ol|table)\\s*>"
          -> "chr(10)"),
        "(?s)<[^>]*>" -> "' '",
        "&lt;" -> "'<'",
        "&gt;" -> "'>'",
        "&quot;" -> "'\"'",
        "&#39;" -> "''''",
        "&nbsp;" -> "' '",
        "&amp;" -> "'&'",
        "[ \\t\\r]+" -> "' '",
        " ?\\n ?" -> "chr(10)",
        "\\n+" -> "chr(10)",
        "^\\s+|\\s+$" -> "''")
      val chain = steps.foldLeft(page) { case (acc, (pat, repl)) =>
        s"regexp_replace($acc, '$pat', $repl, 'g')"
      }
      s"SELECT doc_id, $chain AS plain_text FROM documents ORDER BY doc_id"
    },
    "q_text_stopword" ->
      "SELECT doc_id, CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS n_the FROM documents ORDER BY doc_id",
    "q_events_hourly" ->
      "SELECT user_id, date_trunc('hour', ts) AS hr, count(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value FROM events GROUP BY user_id, date_trunc('hour', ts) ORDER BY user_id, hr",
    "q_text_quality" -> {
      val sw = TextAnalysis.EN_STOPWORDS.map(s => s"'$s'").mkString(", ")
      // formula mirrors TextAnalysis.qualityScore term-for-term (same
      // operation order so doubles are bit-identical)
      "WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks, " +
        "string_split_regex(lower(trim(text)), '\\s+') AS ltoks FROM documents), " +
        "m AS (SELECT doc_id, text, " +
        "LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score, " +
        "CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS pr, " +
        s"CASE WHEN len(ltoks) > 0 THEN CAST(len(list_filter(ltoks, x -> x IN ($sw))) AS DOUBLE) / len(ltoks) ELSE 0.0 END AS swr, " +
        "CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS mtl " +
        "FROM t) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) + len(regexp_extract_all(text, '[^\\p{L}\\p{N} ]')) AS BIGINT) AS n_bpeish, " +
        "FLOOR((len_score + (1.0 - LEAST(pr * 5.0, 1.0)) + (1.0 - LEAST(abs(swr - 0.4) * 2.5, 1.0)) + (1.0 - LEAST(abs(mtl - 5.0) / 5.0, 1.0))) / 4.0 * 1000000 + 0.5) / 1000000.0 AS quality " +
        "FROM m ORDER BY doc_id"
    },
    "q_corpus_quality_sample" -> {
      val sw = TextAnalysis.EN_STOPWORDS.map(s => s"'$s'").mkString(", ")
      // the q_text_quality CTEs verbatim (same double op order), then
      // the exact-integer lottery: hash·1e6 < ppm·2^32, where ppm
      // re-quantizes the round6'd score exactly as the Spark side does
      "WITH t AS (SELECT doc_id, lang, source, text, string_split_regex(trim(text), '\\s+') AS toks, " +
        "string_split_regex(lower(trim(text)), '\\s+') AS ltoks FROM documents), " +
        "m AS (SELECT doc_id, lang, source, " +
        "LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score, " +
        "CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS pr, " +
        s"CASE WHEN len(ltoks) > 0 THEN CAST(len(list_filter(ltoks, x -> x IN ($sw))) AS DOUBLE) / len(ltoks) ELSE 0.0 END AS swr, " +
        "CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS mtl " +
        "FROM t), " +
        "p AS (SELECT doc_id, lang, source, " +
        "CAST(FLOOR(FLOOR((len_score + (1.0 - LEAST(pr * 5.0, 1.0)) + " +
        "(1.0 - LEAST(abs(swr - 0.4) * 2.5, 1.0)) + (1.0 - LEAST(abs(mtl - 5.0) / 5.0, 1.0))) " +
        "/ 4.0 * 1000000 + 0.5) / 1000000.0 * 1000000 + 0.5) AS BIGINT) AS ppm FROM m) " +
        "SELECT doc_id, lang, source FROM p " +
        "WHERE (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 * 1000000 < " +
        "LEAST(GREATEST(ppm, 0), 1000000) * 4294967296 " +
        "ORDER BY doc_id"
    },
    "q_mm_video_frames" ->
      ("WITH m AS (SELECT doc_id, 1 + doc_id % 7 AS f FROM documents WHERE doc_id % 4 = 0), " +
        "sel AS (SELECT doc_id, f, r.range AS i FROM m CROSS JOIN range(0, 4) r " +
        "WHERE r.range < LEAST(4, f)) " +
        "SELECT doc_id, CAST(i AS BIGINT) AS frame_idx, " +
        "CAST((i * f) // LEAST(4, f) AS BIGINT) AS frame_no, " +
        "printf('%02x%02x', (i * f) // LEAST(4, f), doc_id % 256) || 'beef' AS frame_hex " +
        "FROM sel ORDER BY doc_id, frame_idx"),
    "q_mm_binary_meta" ->
      "SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes FROM documents ORDER BY doc_id",
    "q_mm_decode" ->
      ("WITH m AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN " +
        "'P6' || chr(10) || CAST(2 + doc_id % 7 AS VARCHAR) || ' ' || CAST(1 + doc_id % 5 AS VARCHAR) " +
        "|| chr(10) || '255' || chr(10) || repeat('A', CAST((2 + doc_id % 7) * (1 + doc_id % 5) * 3 AS INT)) " +
        "ELSE 'T' || text END AS payload FROM documents), " +
        "n AS (SELECT doc_id, payload, regexp_replace(lower(payload), '[^a-z0-9 ]', '', 'g') AS t FROM m), " +
        "h AS (SELECT doc_id, payload, list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, len(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) AS fp FROM n) " +
        "SELECT doc_id, " +
        "CASE WHEN doc_id % 5 = 0 THEN 'ppm' WHEN fp % 2 = 0 THEN 'png' ELSE 'jpg' END AS format, " +
        "CAST(CASE WHEN doc_id % 5 = 0 THEN 2 + doc_id % 7 ELSE 16 + fp % 1024 END AS INT) AS width, " +
        "CAST(CASE WHEN doc_id % 5 = 0 THEN 1 + doc_id % 5 ELSE 16 + (fp // 1024) % 1024 END AS INT) AS height, " +
        "CAST(octet_length(CAST(payload AS BLOB)) AS BIGINT) AS n_bytes " +
        "FROM h ORDER BY doc_id"),
    // audio twin: planted rows are pure doc_id arithmetic (the oracle
    // doesn't re-parse the WAV — it knows what it planted: n frames,
    // 1 channel, 44-byte header + n sample bytes); fake rows reuse the
    // KR-fingerprint model from q_mm_decode
    "q_mm_audio" ->
      ("WITH m AS (SELECT doc_id, 8 + doc_id % 32 AS n, " +
        "CASE WHEN doc_id % 3 = 0 THEN NULL ELSE 'T' || text END AS payload FROM documents), " +
        "t AS (SELECT doc_id, n, payload, regexp_replace(lower(payload), '[^a-z0-9 ]', '', 'g') AS norm FROM m), " +
        "h AS (SELECT doc_id, n, payload, list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, len(norm)+1), i -> CAST(unicode(norm[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) AS fp FROM t) " +
        "SELECT doc_id, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'wav' WHEN fp % 2 = 0 THEN 'png' ELSE 'jpg' END AS format, " +
        "CAST(CASE WHEN doc_id % 3 = 0 THEN n ELSE 16 + fp % 1024 END AS INT) AS width, " +
        "CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 16 + (fp // 1024) % 1024 END AS INT) AS height, " +
        "CAST(CASE WHEN doc_id % 3 = 0 THEN 44 + n ELSE octet_length(CAST(payload AS BLOB)) END AS BIGINT) AS n_bytes " +
        "FROM h ORDER BY doc_id"),
    // video twin: planted rows are doc_id arithmetic (dims/frames as
    // planted; n_bytes = the fixed 88-byte container); fake rows reuse
    // the KR-fingerprint model
    "q_mm_video" ->
      ("WITH m AS (SELECT doc_id, " +
        "CASE WHEN doc_id % 4 = 0 THEN NULL ELSE 'T' || text END AS payload FROM documents), " +
        "t AS (SELECT doc_id, payload, regexp_replace(lower(payload), '[^a-z0-9 ]', '', 'g') AS norm FROM m), " +
        "h AS (SELECT doc_id, payload, list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, len(norm)+1), i -> CAST(unicode(norm[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) AS fp FROM t) " +
        "SELECT doc_id, " +
        "CASE WHEN doc_id % 4 = 0 THEN 'avi' WHEN fp % 2 = 0 THEN 'png' ELSE 'jpg' END AS format, " +
        "CAST(CASE WHEN doc_id % 4 = 0 THEN 16 + doc_id % 64 ELSE 16 + fp % 1024 END AS INT) AS width, " +
        "CAST(CASE WHEN doc_id % 4 = 0 THEN 16 + doc_id % 48 ELSE 16 + (fp // 1024) % 1024 END AS INT) AS height, " +
        "CAST(CASE WHEN doc_id % 4 = 0 THEN 88 ELSE octet_length(CAST(payload AS BLOB)) END AS BIGINT) AS n_bytes " +
        "FROM h ORDER BY doc_id"),
    "q_events_sessionize" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value FROM events), " +
        "m AS (SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000 THEN 1 ELSE 0 END AS nw FROM e), " +
        "s AS (SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess FROM m) " +
        "SELECT user_id, CAST(sess AS BIGINT) AS session_seq, MIN(us) AS start_us, MAX(us) AS end_us, " +
        "count(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value " +
        "FROM s GROUP BY user_id, sess ORDER BY user_id, session_seq"),
    "q_dedup_exact_keep" ->
      ("SELECT doc_id FROM documents WHERE doc_id IN " +
        "(SELECT MIN(doc_id) FROM documents GROUP BY regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) " +
        "ORDER BY doc_id"),
    // keep-best replay: same normalized fingerprint groups, keeper by
    // (quality DESC, doc_id) — the synthetic quality is the id's own
    // Knuth hash mod 97, so duplicate copies genuinely disagree
    "q_dedup_exact_keep_best" ->
      ("WITH fx AS (SELECT d.doc_id, s.text, (d.doc_id * 2654435761) % 97 AS quality " +
        "FROM documents d JOIN documents s ON s.doc_id = d.doc_id - d.doc_id % 3), " +
        "q AS (SELECT doc_id, quality, " +
        "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS fp FROM fx), " +
        "r AS (SELECT doc_id, quality, row_number() OVER " +
        "(PARTITION BY fp ORDER BY quality DESC, doc_id) AS rn FROM q) " +
        "SELECT doc_id, quality FROM r WHERE rn = 1 ORDER BY doc_id"),
    "q_text_analysis" -> {
      val sw = TextAnalysis.EN_STOPWORDS.map(s => s"'$s'").mkString(", ")
      "WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks, " +
        "string_split_regex(lower(trim(text)), '\\s+') AS ltoks FROM documents) " +
        "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens_ws, " +
        "CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS punct_ratio, " +
        s"CASE WHEN len(ltoks) > 0 THEN CAST(len(list_filter(ltoks, x -> x IN ($sw))) AS DOUBLE) / len(ltoks) ELSE 0.0 END AS stopword_ratio, " +
        "CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS mean_token_len " +
        "FROM t ORDER BY doc_id"
    },
    "q_text_langid" -> {
      // same marker profiles and tie-break (lowest language code) as
      // TextAnalysis.langId, spelled as a CASE argmax
      val langs = TextAnalysis.LANG_PROFILES.keys.toSeq.sorted
      val scores = langs.map { l =>
        val markers = TextAnalysis.LANG_PROFILES(l).map(m => s"'$m'").mkString(", ")
        s"len(list_filter(ltoks, x -> x IN ($markers))) AS s_$l"
      }.mkString(", ")
      val cases = langs.init.zipWithIndex.map { case (l, i) =>
        val rest = langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
        s"WHEN $rest THEN '$l'"
      }.mkString(" ")
      "WITH t AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS ltoks FROM documents), " +
        s"s AS (SELECT doc_id, text, $scores FROM t) " +
        s"SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 'und' $cases ELSE '${langs.last}' END AS lang_pred " +
        "FROM s ORDER BY doc_id"
    },
    "q_dedup_ngram" ->
      ("WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "sh AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')] " +
        "ELSE list_distinct(list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))) END AS s FROM toks), " +
        "blocked AS (SELECT doc_id, s, list_aggregate(s, 'min') AS blk FROM sh), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CASE WHEN len(list_distinct(a.s || b.s)) = 0 THEN 0.0 " +
        "ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) END AS jaccard " +
        "FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id) " +
        "SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5 ORDER BY id_a, id_b"),
    "q_text_fingerprint" ->
      ("WITH n AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t FROM documents) " +
        "SELECT doc_id, " +
        "list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) AS fp, " +
        "CASE WHEN len(t) < 8 THEN list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), (a,c) -> (a*31+c) % 1000000007) " +
        "ELSE list_aggregate(list_transform(range(1, len(t)-6), i -> " +
        "list_reduce([CAST(0 AS BIGINT)] || list_transform(range(i, i+8), j -> CAST(unicode(t[j:j]) AS BIGINT)), (a,c) -> (a*31+c) % 1000000007)), 'min') END AS min_gram_fp " +
        "FROM n ORDER BY doc_id"),
    "q_dedup_clusters" ->
      ("WITH RECURSIVE p(id_a, id_b) AS (SELECT * FROM (VALUES " +
        "(1,2),(2,3),(5,3),(10,11),(20,21),(20,22),(20,23)) AS v(id_a, id_b)), " +
        "edges(src, dst) AS (SELECT id_a, id_b FROM p UNION SELECT id_b, id_a FROM p), " +
        "reach(a, b) AS (SELECT src, src FROM edges " +
        "UNION SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src) " +
        "SELECT CAST(a AS BIGINT) AS id, CAST(min(b) AS BIGINT) AS cluster " +
        "FROM reach GROUP BY a ORDER BY id"),
    // PageRank twin: both power-iteration rounds unrolled — same ppb
    // base, same per-edge truncating share division, same damped sum
    "q_graph_pagerank" ->
      ("WITH p(id_a, id_b) AS (SELECT * FROM (VALUES " +
        "(1,2),(2,3),(5,3),(10,11),(20,21),(20,22),(20,23)) AS v(id_a, id_b)), " +
        "e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p), " +
        "d AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src), " +
        "n AS (SELECT count(*) AS n FROM d), " +
        "r0 AS (SELECT id, 1000000000 // (SELECT n FROM n) AS r FROM d), " +
        "r1 AS (SELECT e.dst AS id, " +
        "((CAST(1000000000 AS BIGINT) * 150000) // 1000000) // (SELECT n FROM n) + " +
        "(850000 * sum(r0.r // d.deg)) // 1000000 AS r " +
        "FROM e JOIN r0 ON r0.id = e.src JOIN d ON d.id = e.src GROUP BY e.dst), " +
        "r2 AS (SELECT e.dst AS id, " +
        "((CAST(1000000000 AS BIGINT) * 150000) // 1000000) // (SELECT n FROM n) + " +
        "(850000 * sum(r1.r // d.deg)) // 1000000 AS r " +
        "FROM e JOIN r1 ON r1.id = e.src JOIN d ON d.id = e.src GROUP BY e.dst) " +
        "SELECT CAST(r2.id AS BIGINT) AS id, CAST(r2.r AS BIGINT) AS rank_ppb, " +
        "CAST(d.deg AS BIGINT) AS degree FROM r2 JOIN d ON d.id = r2.id ORDER BY id"),
    // weighted twin: symmetrize keeping weights (UNION ALL + sum of
    // duplicates), strength = outgoing weight mass, share =
    // (r·w) // strength — both rounds unrolled
    "q_graph_pagerank_weighted" ->
      ("WITH p(id_a, id_b, w) AS (SELECT * FROM (VALUES " +
        "(1,2,500000),(2,3,900000),(5,3,100000),(10,11,700000)," +
        "(20,21,300000),(20,22,300000),(20,23,900000)) AS v(id_a, id_b, w)), " +
        "e0 AS (SELECT id_a AS src, id_b AS dst, w FROM p " +
        "UNION ALL SELECT id_b, id_a, w FROM p), " +
        "e AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM e0 GROUP BY src, dst), " +
        "d AS (SELECT src AS id, count(*) AS deg, sum(w) AS st FROM e GROUP BY src), " +
        "n AS (SELECT count(*) AS n FROM d), " +
        "r0 AS (SELECT id, 1000000000 // (SELECT n FROM n) AS r FROM d), " +
        "r1 AS (SELECT e.dst AS id, " +
        "((CAST(1000000000 AS BIGINT) * 150000) // 1000000) // (SELECT n FROM n) + " +
        "(850000 * sum((r0.r * e.w) // d.st)) // 1000000 AS r " +
        "FROM e JOIN r0 ON r0.id = e.src JOIN d ON d.id = e.src GROUP BY e.dst), " +
        "r2 AS (SELECT e.dst AS id, " +
        "((CAST(1000000000 AS BIGINT) * 150000) // 1000000) // (SELECT n FROM n) + " +
        "(850000 * sum((r1.r * e.w) // d.st)) // 1000000 AS r " +
        "FROM e JOIN r1 ON r1.id = e.src JOIN d ON d.id = e.src GROUP BY e.dst) " +
        "SELECT CAST(r2.id AS BIGINT) AS id, CAST(r2.r AS BIGINT) AS rank_ppb, " +
        "CAST(d.deg AS BIGINT) AS degree, CAST(d.st AS BIGINT) AS strength " +
        "FROM r2 JOIN d ON d.id = r2.id ORDER BY id"),
    // fixture-scale twin: the portable-MinHash pair CTEs produce the
    // edge list (weight = signature match count), then the SAME two
    // unrolled weighted rounds — g-prefixed CTE names avoid colliding
    // with the signature chain's `e`
    "q_graph_rank_real" ->
      (s"$minhashSigCtes, " +
        s"p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST($minhashMatchSum AS BIGINT) AS w " +
        "FROM sig a JOIN sig b ON a.sig_0 = b.sig_0 AND a.doc_id < b.doc_id " +
        s"WHERE CAST($minhashMatchSum AS DOUBLE)/8 >= 0.5), " +
        "ge0 AS (SELECT id_a AS src, id_b AS dst, w FROM p " +
        "UNION ALL SELECT id_b, id_a, w FROM p), " +
        "ge AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM ge0 GROUP BY src, dst), " +
        "gd AS (SELECT src AS id, count(*) AS deg, sum(w) AS st FROM ge GROUP BY src), " +
        "gn AS (SELECT count(*) AS n FROM gd), " +
        "gr0 AS (SELECT id, 1000000000 // (SELECT n FROM gn) AS r FROM gd), " +
        "gr1 AS (SELECT ge.dst AS id, " +
        "((CAST(1000000000 AS BIGINT) * 150000) // 1000000) // (SELECT n FROM gn) + " +
        "(850000 * sum((gr0.r * ge.w) // gd.st)) // 1000000 AS r " +
        "FROM ge JOIN gr0 ON gr0.id = ge.src JOIN gd ON gd.id = ge.src GROUP BY ge.dst), " +
        "gr2 AS (SELECT ge.dst AS id, " +
        "((CAST(1000000000 AS BIGINT) * 150000) // 1000000) // (SELECT n FROM gn) + " +
        "(850000 * sum((gr1.r * ge.w) // gd.st)) // 1000000 AS r " +
        "FROM ge JOIN gr1 ON gr1.id = ge.src JOIN gd ON gd.id = ge.src GROUP BY ge.dst) " +
        "SELECT CAST(gr2.id AS BIGINT) AS id, CAST(gr2.r AS BIGINT) AS rank_ppb, " +
        "CAST(gd.deg AS BIGINT) AS degree, CAST(gd.st AS BIGINT) AS strength " +
        "FROM gr2 JOIN gd ON gd.id = gr2.id ORDER BY id"),
    // combined twin: weighted edges + strength from the weighted
    // oracle, seed-only teleport + LEFT JOIN carry from the
    // personalized one — shares are (r·w) // strength
    "q_graph_ppr_weighted" ->
      ("WITH p(id_a, id_b, w) AS (SELECT * FROM (VALUES " +
        "(1,2,500000),(2,3,900000),(5,3,100000),(10,11,700000)," +
        "(20,21,300000),(20,22,300000),(20,23,900000)) AS v(id_a, id_b, w)), " +
        "e0 AS (SELECT id_a AS src, id_b AS dst, w FROM p " +
        "UNION ALL SELECT id_b, id_a, w FROM p), " +
        "e AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM e0 GROUP BY src, dst), " +
        "d AS (SELECT src AS id, count(*) AS deg, sum(w) AS st FROM e GROUP BY src), " +
        "sd(id) AS (SELECT * FROM (VALUES (1), (20)) AS x(id)), " +
        "dn AS (SELECT d.id, d.deg, d.st, (d.id IN (SELECT id FROM sd)) AS is_seed FROM d), " +
        "ns AS (SELECT count(*) AS ns FROM dn WHERE is_seed), " +
        "r0 AS (SELECT id, CASE WHEN is_seed THEN 1000000000 // (SELECT ns FROM ns) ELSE 0 END AS r FROM dn), " +
        "c1 AS (SELECT e.dst AS id, sum((r0.r * e.w) // d.st) AS cin " +
        "FROM e JOIN r0 ON r0.id = e.src JOIN d ON d.id = e.src GROUP BY e.dst), " +
        "r1 AS (SELECT dn.id, (CASE WHEN dn.is_seed THEN " +
        "((CAST(1000000000 AS BIGINT) * 150000) // 1000000) // (SELECT ns FROM ns) ELSE 0 END) + " +
        "(850000 * COALESCE(c1.cin, 0)) // 1000000 AS r " +
        "FROM dn LEFT JOIN c1 ON c1.id = dn.id), " +
        "c2 AS (SELECT e.dst AS id, sum((r1.r * e.w) // d.st) AS cin " +
        "FROM e JOIN r1 ON r1.id = e.src JOIN d ON d.id = e.src GROUP BY e.dst), " +
        "r2 AS (SELECT dn.id, (CASE WHEN dn.is_seed THEN " +
        "((CAST(1000000000 AS BIGINT) * 150000) // 1000000) // (SELECT ns FROM ns) ELSE 0 END) + " +
        "(850000 * COALESCE(c2.cin, 0)) // 1000000 AS r " +
        "FROM dn LEFT JOIN c2 ON c2.id = dn.id) " +
        "SELECT CAST(r2.id AS BIGINT) AS id, CAST(r2.r AS BIGINT) AS rank_ppb, " +
        "CAST(dn.deg AS BIGINT) AS degree, CAST(dn.st AS BIGINT) AS strength, " +
        "CAST(dn.is_seed AS BIGINT) AS is_seed " +
        "FROM r2 JOIN dn ON dn.id = r2.id ORDER BY id"),
    // personalized twin: seed-only teleport, LEFT JOIN keeps nodes that
    // received nothing this round (their teleport term still applies)
    "q_graph_ppr" ->
      ("WITH p(id_a, id_b) AS (SELECT * FROM (VALUES " +
        "(1,2),(2,3),(5,3),(10,11),(20,21),(20,22),(20,23)) AS v(id_a, id_b)), " +
        "e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p), " +
        "d AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src), " +
        "sd(id) AS (SELECT * FROM (VALUES (1), (20)) AS w(id)), " +
        "dn AS (SELECT d.id, d.deg, (d.id IN (SELECT id FROM sd)) AS is_seed FROM d), " +
        "ns AS (SELECT count(*) AS ns FROM dn WHERE is_seed), " +
        "r0 AS (SELECT id, CASE WHEN is_seed THEN 1000000000 // (SELECT ns FROM ns) ELSE 0 END AS r FROM dn), " +
        "c1 AS (SELECT e.dst AS id, sum(r0.r // d.deg) AS cin " +
        "FROM e JOIN r0 ON r0.id = e.src JOIN d ON d.id = e.src GROUP BY e.dst), " +
        "r1 AS (SELECT dn.id, (CASE WHEN dn.is_seed THEN " +
        "((CAST(1000000000 AS BIGINT) * 150000) // 1000000) // (SELECT ns FROM ns) ELSE 0 END) + " +
        "(850000 * COALESCE(c1.cin, 0)) // 1000000 AS r " +
        "FROM dn LEFT JOIN c1 ON c1.id = dn.id), " +
        "c2 AS (SELECT e.dst AS id, sum(r1.r // d.deg) AS cin " +
        "FROM e JOIN r1 ON r1.id = e.src JOIN d ON d.id = e.src GROUP BY e.dst), " +
        "r2 AS (SELECT dn.id, (CASE WHEN dn.is_seed THEN " +
        "((CAST(1000000000 AS BIGINT) * 150000) // 1000000) // (SELECT ns FROM ns) ELSE 0 END) + " +
        "(850000 * COALESCE(c2.cin, 0)) // 1000000 AS r " +
        "FROM dn LEFT JOIN c2 ON c2.id = dn.id) " +
        "SELECT CAST(r2.id AS BIGINT) AS id, CAST(r2.r AS BIGINT) AS rank_ppb, " +
        "CAST(dn.deg AS BIGINT) AS degree, CAST(dn.is_seed AS BIGINT) AS is_seed " +
        "FROM r2 JOIN dn ON dn.id = r2.id ORDER BY id"),
    // keeper-election twin: same recursive-CTE clusters, keeper = row 1
    // by (degree DESC, id) within each cluster
    "q_dedup_keep_central" ->
      ("WITH RECURSIVE docs(doc_id) AS (SELECT unnest(range(1, 26))), " +
        "p(id_a, id_b) AS (SELECT * FROM (VALUES " +
        "(1,2),(2,3),(5,3),(10,11),(20,21),(20,22),(20,23)) AS v(id_a, id_b)), " +
        "edges(src, dst) AS (SELECT id_a, id_b FROM p UNION SELECT id_b, id_a FROM p), " +
        "reach(a, b) AS (SELECT src, src FROM edges " +
        "UNION SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src), " +
        "cl AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a), " +
        "dg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src), " +
        "el AS (SELECT cl.id, row_number() OVER (PARTITION BY cl.cluster " +
        "ORDER BY dg.deg DESC, cl.id) AS rn FROM cl JOIN dg ON dg.id = cl.id) " +
        "SELECT CAST(d.doc_id AS BIGINT) AS doc_id FROM docs d " +
        "LEFT JOIN cl ON d.doc_id = cl.id " +
        "WHERE cl.id IS NULL OR d.doc_id IN (SELECT id FROM el WHERE rn = 1) " +
        "ORDER BY doc_id"),
    "q_dedup_keep_k" ->
      ("WITH RECURSIVE docs(doc_id) AS (SELECT unnest(range(1, 26))), " +
        "p(id_a, id_b) AS (SELECT * FROM (VALUES " +
        "(1,2),(2,3),(5,3),(10,11),(20,21),(20,22),(20,23)) AS v(id_a, id_b)), " +
        "edges(src, dst) AS (SELECT id_a, id_b FROM p UNION SELECT id_b, id_a FROM p), " +
        "reach(a, b) AS (SELECT src, src FROM edges " +
        "UNION SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src), " +
        "cl AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a), " +
        "r AS (SELECT id, row_number() OVER (PARTITION BY cluster ORDER BY id) AS rn FROM cl) " +
        "SELECT CAST(d.doc_id AS BIGINT) AS doc_id FROM docs d " +
        "LEFT JOIN r ON d.doc_id = r.id " +
        "WHERE r.id IS NULL OR r.rn <= 2 ORDER BY doc_id"),
    "q_sim_topk" ->
      ("SELECT q.vec_id AS query_id, " +
        "(SELECT b.vec_id FROM embeddings b WHERE b.vec_id <> q.vec_id " +
        "ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id " +
        "LIMIT 1) AS nn_id " +
        "FROM embeddings q WHERE q.vec_id < 5 ORDER BY query_id"),
    // planted-copy contract: identical projection ⇒ the original wins
    // rank 1 by the measured ≥ 0.10 reduced-space margin
    "q_sim_pca_topk" ->
      ("SELECT CAST(vec_id + 1000000 AS BIGINT) AS query_id, " +
        "CAST(vec_id AS BIGINT) AS neighbor_id FROM embeddings " +
        "WHERE vec_id < 20 ORDER BY query_id"),
    // same contract through the persisted-moments lifecycle: the
    // deduped epoch sum reproduces the whole-corpus covariance (up to
    // float-sum order), and identical projection still decides rank 1
    "q_sim_pca_indexed" ->
      ("SELECT CAST(vec_id + 1000000 AS BIGINT) AS query_id, " +
        "CAST(vec_id AS BIGINT) AS neighbor_id FROM embeddings " +
        "WHERE vec_id < 20 ORDER BY query_id"),
    // full greedy replay: micro-unit vectors, the pinned-order double
    // fold for every dot, λppm·rel − μppm·maxSim scores, per-round
    // argmax with the (score DESC, cid) tie rule — four unrolled rounds
    // reproduce picks and score_ppm bit-for-bit
    "q_sim_mmr_topk" -> MmrOracleSql,
    // the indexed arm runs at full-recall knobs (every list probed,
    // shortlist ⊇ corpus), so its candidate set and arithmetic equal
    // the in-memory arm's — ONE greedy twin serves both
    "q_sim_mmr_indexed" -> MmrOracleSql,
    "q_sim_kcenter" -> KCenterOracleSql,
    "q_sim_diverse_sample" -> DiverseSampleOracleSql,
    // cross-dataset join twin: brute-force threshold pairs — the banded
    // arm's exact verify guarantees equality on the planted fixture
    "q_sim_cosine_join" ->
      ("WITH r AS (SELECT vec_id + 1000000 AS rid, CAST(embedding AS DOUBLE[]) AS rv " +
        "FROM embeddings WHERE vec_id >= 40 AND vec_id < 80) " +
        "SELECT CAST(l.vec_id AS BIGINT) AS left_id, CAST(r.rid AS BIGINT) AS right_id " +
        "FROM embeddings l JOIN r " +
        "ON list_cosine_similarity(CAST(l.embedding AS DOUBLE[]), r.rv) >= 0.8 " +
        "WHERE l.vec_id < 300 ORDER BY left_id, right_id"),
    // density twin: the same micro-unit pinned-order cosine, ranked
    // (cos DESC, nid) per vector, row 5 kept
    "q_sim_knn_density" -> {
      s"WITH e AS (SELECT vec_id AS id, $OracleMicroQuant AS v FROM embeddings WHERE vec_id < 120), " +
        s"n AS (SELECT id, v, ${oracleDot("v", "v")} AS n2 FROM e), " +
        s"p AS (SELECT a.id, b.id AS nid, ${oracleCosN2("a.v", "a.n2", "b.v", "b.n2")} AS c " +
        "FROM n a JOIN n b ON a.id <> b.id), " +
        "r AS (SELECT id, nid, c, row_number() OVER (PARTITION BY id ORDER BY c DESC, nid) AS rk FROM p) " +
        "SELECT CAST(id AS BIGINT) AS vec_id, CAST(nid AS BIGINT) AS kth_neighbor, " +
        "CAST(floor(c * 1000000 + 0.5) AS BIGINT) AS kth_cos_ppm FROM r WHERE rk = 5 ORDER BY vec_id"
    },
    // Portable IVF: the oracle mirrors the Spark arithmetic BIT-FOR-BIT —
    // dot is the same left-to-right double fold (list_reduce), norm the
    // same sqrt∘dot, cosine the same zero-guarded quotient — so centroid
    // choice, list assignment, probe pick and top-k all reproduce exactly
    // (list_cosine_similarity would only agree up to ulp-order).
    "q_sim_ivf_portable" -> {
      def dot(a: String, b: String): String =
        s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]), (acc, v) -> acc + v)"
      def cos(a: String, na: String, b: String, nb: String): String =
        s"(CASE WHEN $na * $nb = 0.0 THEN 0.0 ELSE ${dot(a, b)} / ($na * $nb) END)"
      "WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        s"emb AS (SELECT vec_id, v, sqrt(${dot("v", "v")}) AS nrm FROM e0), " +
        "cent AS (SELECT * FROM (SELECT vec_id AS cid, v AS cv, nrm AS cn, " +
        "row_number() OVER (ORDER BY ((CAST(vec_id AS HUGEINT) * 2654435761) % 4294967296 + 4294967296) % 4294967296, vec_id) AS cpos " +
        "FROM emb) WHERE cpos <= 16), " +
        "assign AS (SELECT e.vec_id, e.v, e.nrm, " +
        s"(SELECT c.cid FROM cent c ORDER BY ${cos("e.v", "e.nrm", "c.cv", "c.cn")} DESC, c.cpos LIMIT 1) AS list " +
        "FROM emb e), " +
        "probes AS (SELECT * FROM (SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, c.cid AS list, " +
        s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cos("q.v", "q.nrm", "c.cv", "c.cn")} DESC, c.cid) AS pr " +
        "FROM emb q, cent c WHERE q.vec_id < 20) WHERE pr <= 4), " +
        "ranked AS (SELECT * FROM (SELECT p.query_id, a.vec_id AS neighbor_id, " +
        s"""row_number() OVER (PARTITION BY p.query_id ORDER BY ${cos("p.qv", "p.qn", "a.v", "a.nrm")} DESC, a.vec_id) AS "rank" """ +
        "FROM probes p JOIN assign a ON a.list = p.list " +
        """WHERE a.vec_id <> p.query_id) WHERE "rank" <= 5) """ +
        """SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id FROM ranked ORDER BY query_id, "rank""""
    },
    // IVF-PQ twin: the q_sim_ivf_portable cent/assign/probes CTEs
    // (verbatim tie-breaks) + the PQ codebook at Knuth ranks 17..32
    // (offset past the quantizer) + encode argmin + fixed-point ADC
    // restricted to probed lists + exact re-rank
    "q_sim_ivf_pq_topk" -> {
      def fold(body: String, hi: Int): String =
        s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(range(1, ${hi + 1}), i -> $body), (a, x) -> a + x)"
      // cos ranges over len($a)+1, NOT a constant: inside assign's
      // correlated scalar subquery DuckDB's binder loses the outer
      // table reference when the lambda's input list is constant-
      // folded — len() keeps the correlation alive (same shape the
      // q_sim_ivf_portable oracle uses)
      def foldLen(body: String, over: String): String =
        s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(range(1, len($over)+1), i -> $body), (a, x) -> a + x)"
      def cos(a: String, na: String, b: String, nb: String): String =
        s"(CASE WHEN $na * $nb = 0.0 THEN 0.0 ELSE ${foldLen(s"$a[i]*$b[i]", a)} / ($na * $nb) END)"
      "WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        s"emb AS (SELECT vec_id, v, sqrt(${fold("v[i]*v[i]", 64)}) AS nrm FROM e0), " +
        "ranked0 AS (SELECT vec_id, v, nrm, " +
        "row_number() OVER (ORDER BY ((CAST(vec_id AS HUGEINT) * 2654435761) % 4294967296 + 4294967296) % 4294967296, vec_id) AS cpos FROM emb), " +
        "cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn, cpos FROM ranked0 WHERE cpos <= 16), " +
        "seeds AS (SELECT vec_id AS sid, v AS sv, cpos FROM ranked0 WHERE cpos > 16 AND cpos <= 32), " +
        "assign AS (SELECT e.vec_id, e.v, e.nrm, " +
        s"(SELECT c.cid FROM cent c ORDER BY ${cos("e.v", "e.nrm", "c.cv", "c.cn")} DESC, c.cpos LIMIT 1) AS list " +
        "FROM emb e), " +
        "probes AS (SELECT * FROM (SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, c.cid AS list, " +
        s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cos("q.v", "q.nrm", "c.cv", "c.cn")} DESC, c.cid) AS pr " +
        "FROM emb q, cent c WHERE q.vec_id < 20) WHERE pr <= 4), " +
        "dist AS (SELECT e.vec_id, sp.j, s.cpos, " +
        s"${fold("(e.v[sp.j*16+i] - s.sv[sp.j*16+i])*(e.v[sp.j*16+i] - s.sv[sp.j*16+i])", 16)} AS d " +
        "FROM emb e CROSS JOIN (SELECT unnest(range(0, 4)) AS j) sp CROSS JOIN seeds s), " +
        "code AS (SELECT vec_id, j, cpos AS c FROM (SELECT vec_id, j, cpos, " +
        "row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cpos) AS rn FROM dist) WHERE rn = 1), " +
        "part AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
        s"CAST(floor(${fold("p.qv[co.j*16+i] * s.sv[co.j*16+i]", 16)} * 1000000 + 0.5) AS BIGINT) AS part_fx " +
        "FROM probes p JOIN assign a ON a.list = p.list " +
        "JOIN code co ON co.vec_id = a.vec_id JOIN seeds s ON s.cpos = co.c " +
        "WHERE a.vec_id <> p.query_id), " +
        "adc AS (SELECT query_id, neighbor_id, SUM(part_fx) AS score_fx FROM part GROUP BY query_id, neighbor_id), " +
        "short AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY score_fx DESC, neighbor_id) AS sr FROM adc) WHERE sr <= 32), " +
        "rnk AS (SELECT * FROM (SELECT sh.query_id, sh.neighbor_id, " +
        s"""row_number() OVER (PARTITION BY sh.query_id ORDER BY ${cos("a.v", "a.nrm", "q2.v", "q2.nrm")} DESC, sh.neighbor_id) AS "rank" """ +
        "FROM short sh JOIN emb a ON a.vec_id = sh.neighbor_id JOIN emb q2 ON q2.vec_id = sh.query_id) " +
        """WHERE "rank" <= 5) """ +
        """SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id FROM rnk ORDER BY query_id, "rank""""
    },
    // PQ-ADC twin: Knuth-ranked seeds (seed rank = code), per-(row,
    // subspace) argmin L2 with `ORDER BY d, cpos` = Spark's first-min
    // array_position tie-break, per-subspace dot quantized to integer
    // micro-units BEFORE the cross-subspace SUM (order-free), exact
    // cosine re-rank of the shortlist. dim=64, m=4, sub=16, nCodes=16.
    // drift twin: both halves' centroids via the same truncating
    // integer mean, exact BIGINT cross-sums, one sqrt/divide sequence
    "q_sim_centroid_drift" -> {
      def cent(parity: Int, tag: String) =
        s"f$tag AS (SELECT label, unnest(range(0, len(embedding))) AS pos, " +
          "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS e " +
          s"FROM embeddings WHERE vec_id % 2 = $parity), " +
          s"g$tag AS (SELECT label, pos, sum(e[pos + 1]) // count(*) AS m, count(*) AS n FROM f$tag GROUP BY label, pos)"
      "WITH " + cent(0, "a") + ", " + cent(1, "b") + ", " +
        "j AS (SELECT ga.label, ga.m AS ma, gb.m AS mb, ga.n AS n_hist, gb.n AS n_batch " +
        "FROM ga JOIN gb ON ga.label = gb.label AND ga.pos = gb.pos), " +
        "s AS (SELECT label, CAST(sum(ma * mb) AS BIGINT) AS ab, " +
        "CAST(sum(ma * ma) AS BIGINT) AS aa, CAST(sum(mb * mb) AS BIGINT) AS bb, " +
        "max(n_hist) AS n_hist, max(n_batch) AS n_batch FROM j GROUP BY label) " +
        "SELECT label, CAST(floor((CASE WHEN aa = 0 OR bb = 0 THEN 0.0 " +
        "ELSE CAST(ab AS DOUBLE) / (sqrt(CAST(aa AS DOUBLE)) * sqrt(CAST(bb AS DOUBLE))) END) " +
        "* 1000000 + 0.5) AS BIGINT) AS cos_ppm, " +
        "CAST(n_hist AS BIGINT) AS n_hist, CAST(n_batch AS BIGINT) AS n_batch " +
        "FROM s ORDER BY label"
    },
    // norm-band twin: same micro-unit squares in BIGINT, same
    // tie-broken percent_rank integer ratio
    "q_sim_norm_band" ->
      ("WITH f AS (SELECT vec_id, label, list_transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS e FROM embeddings), " +
        "n2 AS (SELECT vec_id, label, list_sum(list_transform(e, x -> x * x)) AS norm2_fx FROM f), " +
        "r AS (SELECT vec_id, label, norm2_fx, " +
        "percent_rank() OVER (PARTITION BY label ORDER BY norm2_fx, vec_id) AS pr FROM n2) " +
        "SELECT vec_id, label, CAST(norm2_fx AS BIGINT) AS norm2_fx, " +
        "CAST(floor(pr * 1000000 + 0.5) AS BIGINT) AS pr_fx " +
        "FROM r WHERE pr >= 0.05 AND pr <= 0.95 ORDER BY vec_id"),
    // centroid twin: same micro-unit quantization, BIGINT sums, and
    // integer-division mean — unnest duplicates the row's other
    // columns per element, and range() supplies the position
    "q_sim_group_centroids" ->
      ("WITH f AS (SELECT label, unnest(range(0, len(embedding))) AS pos, " +
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS e " +
        "FROM embeddings), " +
        "g AS (SELECT label, pos, sum(e[pos + 1]) AS sum_fx, count(*) AS n FROM f GROUP BY label, pos) " +
        "SELECT label, CAST(pos AS BIGINT) AS pos, CAST(sum_fx AS BIGINT) AS sum_fx, " +
        "CAST(sum_fx // n AS BIGINT) AS mean_fx, CAST(n AS BIGINT) AS n " +
        "FROM g ORDER BY label, pos"),
    // refined-IVF planted-copy twin: rank-1 of an exact copy is its
    // original (the q_sim_ivf_topk argument, quantizer-independent)
    "q_sim_ivf_refined_topk" ->
      ("SELECT CAST(vec_id + 1000000 AS BIGINT) AS query_id, " +
        "CAST(vec_id AS BIGINT) AS neighbor_id FROM embeddings " +
        "WHERE vec_id < 20 ORDER BY query_id"),
    // Lloyd twin: Knuth-ranked seeds relabeled 1..8, two unrolled
    // assign/mean passes — argmax cosine over exact micro-unit
    // components (ORDER BY cos DESC, cpos = Spark's first-max fold),
    // BIGINT sums, truncating // means, empty lists carried from the
    // previous pass's centroid grid
    "q_sim_kmeans_refine" -> {
      def foldLen(body: String, over: String): String =
        s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(range(1, len($over)+1), i -> $body), (a, x) -> a + x)"
      def cos(a: String, na: String, b: String, nb: String): String =
        s"(CASE WHEN $na * $nb = 0.0 THEN 0.0 ELSE ${foldLen(s"$a[i]*$b[i]", a)} / ($na * $nb) END)"
      "WITH e0 AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), " +
        "x -> CAST(floor(x * 1000000 + 0.5) AS DOUBLE)) AS q FROM embeddings), " +
        s"emb AS (SELECT vec_id, q, sqrt(${foldLen("q[i]*q[i]", "q")}) AS nrm FROM e0), " +
        "cent0 AS (SELECT cpos, cv, cn FROM (SELECT q AS cv, nrm AS cn, " +
        "row_number() OVER (ORDER BY ((CAST(vec_id AS HUGEINT) * 2654435761) % 4294967296 + 4294967296) % 4294967296, vec_id) AS cpos " +
        "FROM emb) WHERE cpos <= 8), " +
        "a0 AS (SELECT e.q, " +
        s"(SELECT c.cpos FROM cent0 c ORDER BY ${cos("e.q", "e.nrm", "c.cv", "c.cn")} DESC, c.cpos LIMIT 1) AS list " +
        "FROM emb e), " +
        "x0 AS (SELECT list, unnest(range(0, 64)) AS pos, q FROM a0), " +
        "g1 AS (SELECT list, pos, sum(CAST(q[pos + 1] AS BIGINT)) // count(*) AS m FROM x0 GROUP BY list, pos), " +
        "c1l AS (SELECT c.cpos, p.pos, COALESCE(g1.m, CAST(c.cv[p.pos + 1] AS BIGINT)) AS m " +
        "FROM cent0 c CROSS JOIN (SELECT unnest(range(0, 64)) AS pos) p " +
        "LEFT JOIN g1 ON g1.list = c.cpos AND g1.pos = p.pos), " +
        "cent1 AS (SELECT cpos, list_transform(list(m ORDER BY pos), y -> CAST(y AS DOUBLE)) AS cv FROM c1l GROUP BY cpos), " +
        s"cent1n AS (SELECT cpos, cv, sqrt(${foldLen("cv[i]*cv[i]", "cv")}) AS cn FROM cent1), " +
        "a1 AS (SELECT e.q, " +
        s"(SELECT c.cpos FROM cent1n c ORDER BY ${cos("e.q", "e.nrm", "c.cv", "c.cn")} DESC, c.cpos LIMIT 1) AS list " +
        "FROM emb e), " +
        "x1 AS (SELECT list, unnest(range(0, 64)) AS pos, q FROM a1), " +
        "g2 AS (SELECT list, pos, sum(CAST(q[pos + 1] AS BIGINT)) // count(*) AS m, count(*) AS n FROM x1 GROUP BY list, pos) " +
        "SELECT CAST(c.cpos AS BIGINT) AS list_id, CAST(c.pos AS BIGINT) AS pos, " +
        "CAST(COALESCE(g2.m, c.m) AS BIGINT) AS mean_fx, " +
        "CAST(COALESCE(g2.n, 0) AS BIGINT) AS n_members " +
        "FROM c1l c LEFT JOIN g2 ON g2.list = c.cpos AND g2.pos = c.pos " +
        "ORDER BY list_id, pos"
    },
    // sign-projection twin: regenerate the ±1 matrix from the same
    // nonlinear middle-square parity, quantize to micro-units, integer
    // dot — exact BIGINT end to end
    "q_sim_sign_project" ->
      ("WITH q AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS e FROM embeddings), " +
        "js AS (SELECT unnest(range(0, 16)) AS j), " +
        "h AS (SELECT j, unnest(range(0, 64)) AS i FROM js), " +
        "s AS (SELECT j, i, ((i + 1) * 2654435761 + (j + 1) * 2246822519) % 4294967296 AS hv FROM h), " +
        "sg AS (SELECT j, i, CASE WHEN ((((hv % 65536) * (hv % 65536) + hv // 65536) % 4294967296) // 1024) % 2 = 0 " +
        "THEN 1 ELSE -1 END AS sgn FROM s), " +
        "p AS (SELECT q.vec_id, sg.j, sum(sg.sgn * q.e[sg.i + 1]) AS proj_fx " +
        "FROM q CROSS JOIN sg GROUP BY q.vec_id, sg.j) " +
        "SELECT vec_id, CAST(j AS BIGINT) AS j, CAST(proj_fx AS BIGINT) AS proj_fx " +
        "FROM p ORDER BY vec_id, j"),
    "q_sim_pq_topk" -> {
      def fold(body: String, hi: Int): String =
        s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(range(1, ${hi + 1}), i -> $body), (a, x) -> a + x)"
      def cos(a: String, na: String, b: String, nb: String): String =
        s"(CASE WHEN $na * $nb = 0.0 THEN 0.0 ELSE ${fold(s"$a[i]*$b[i]", 64)} / ($na * $nb) END)"
      "WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        s"emb AS (SELECT vec_id, v, sqrt(${fold("v[i]*v[i]", 64)}) AS nrm FROM e0), " +
        "seeds AS (SELECT * FROM (SELECT vec_id AS sid, v AS sv, " +
        "row_number() OVER (ORDER BY ((CAST(vec_id AS HUGEINT) * 2654435761) % 4294967296 + 4294967296) % 4294967296, vec_id) AS cpos " +
        "FROM emb) WHERE cpos <= 16), " +
        "dist AS (SELECT e.vec_id, sp.j, s.cpos, " +
        s"${fold("(e.v[sp.j*16+i] - s.sv[sp.j*16+i])*(e.v[sp.j*16+i] - s.sv[sp.j*16+i])", 16)} AS d " +
        "FROM emb e CROSS JOIN (SELECT unnest(range(0, 4)) AS j) sp CROSS JOIN seeds s), " +
        "code AS (SELECT vec_id, j, cpos AS c FROM (SELECT vec_id, j, cpos, " +
        "row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cpos) AS rn FROM dist) WHERE rn = 1), " +
        "qq AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 20), " +
        "part AS (SELECT q.query_id, co.vec_id AS neighbor_id, " +
        s"CAST(floor(${fold("q.qv[co.j*16+i] * s.sv[co.j*16+i]", 16)} * 1000000 + 0.5) AS BIGINT) AS part_fx " +
        "FROM qq q CROSS JOIN code co JOIN seeds s ON s.cpos = co.c WHERE co.vec_id <> q.query_id), " +
        "adc AS (SELECT query_id, neighbor_id, SUM(part_fx) AS score_fx FROM part GROUP BY query_id, neighbor_id), " +
        "short AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY score_fx DESC, neighbor_id) AS sr FROM adc) WHERE sr <= 32), " +
        "ranked AS (SELECT * FROM (SELECT sh.query_id, sh.neighbor_id, " +
        s"""row_number() OVER (PARTITION BY sh.query_id ORDER BY ${cos("a.v", "a.nrm", "q2.v", "q2.nrm")} DESC, sh.neighbor_id) AS "rank" """ +
        "FROM short sh JOIN emb a ON a.vec_id = sh.neighbor_id JOIN emb q2 ON q2.vec_id = sh.query_id) " +
        """WHERE "rank" <= 5) """ +
        """SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id FROM ranked ORDER BY query_id, "rank""""
    },
    "q_text_tfidf" -> TfidfOracleSql,
    "q_text_cosine_pairs" ->
      // same milli-unit idf quantization as the Spark side; the
      // threshold compare runs in HUGEINT — no sqrt, no float sums
      ("WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0), " +
        "toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM sub), " +
        "t2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY doc_id, term), " +
        "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
        "n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM sub), " +
        "w AS (SELECT f.doc_id, f.term, f.tf * CAST(floor(ln(CAST(n.n_docs + 1 AS DOUBLE) / " +
        "CAST(d.df + 1 AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS w " +
        "FROM tf f JOIN dfreq d USING (term) CROSS JOIN n), " +
        "wz AS (SELECT * FROM w WHERE w > 0), " +
        "norms AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS nrm FROM wz GROUP BY doc_id), " +
        "num AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "sum(CAST(a.w AS HUGEINT) * b.w) AS num FROM wz a JOIN wz b " +
        "ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT num.id_a, num.id_b, CAST(num.num AS BIGINT) AS num_fx, " +
        "CAST(na.nrm AS BIGINT) AS norm_a, CAST(nb.nrm AS BIGINT) AS norm_b " +
        "FROM num JOIN norms na ON na.doc_id = num.id_a " +
        "JOIN norms nb ON nb.doc_id = num.id_b " +
        "WHERE num.num * num.num * 25 >= 16 * na.nrm * nb.nrm " +
        "ORDER BY id_a, id_b"),
    "q_text_cosine_incremental" ->
      // the STORED SNAPSHOT defines the vector space: idf/N from the
      // BUILD corpus (documents) only — the appended slab is history
      // (it scores as candidates) but never moves df or N until a
      // restamp; batch terms unseen by the snapshot weight at
      // ln((N+1)/1) into the batch norm
      ("WITH hist AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 500000, text FROM documents WHERE doc_id % 45 = 0), " +
        "batch AS (SELECT doc_id + 900000 AS doc_id, text FROM documents WHERE doc_id % 45 = 0), " +
        "htoks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM hist), " +
        "ht2 AS (SELECT doc_id, term FROM htoks WHERE length(term) > 0), " +
        "htf AS (SELECT doc_id, term, count(*) AS tf FROM ht2 GROUP BY 1, 2), " +
        "snap AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents), " +
        "stf AS (SELECT doc_id, term FROM snap WHERE length(term) > 0 GROUP BY doc_id, term), " +
        "n AS (SELECT count(DISTINCT doc_id) AS n FROM documents), " +
        "idf AS (SELECT term, df, CAST(floor(ln(CAST((SELECT n FROM n) + 1 AS DOUBLE) / " +
        "CAST(df + 1 AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS idf " +
        "FROM (SELECT term, count(*) AS df FROM stf GROUP BY term)), " +
        "wh AS (SELECT h.doc_id, h.term, h.tf * COALESCE(i.idf, " +
        "CAST(floor(ln(CAST((SELECT n FROM n) + 1 AS DOUBLE)) * 1000 + 0.5) AS BIGINT)) AS w " +
        "FROM htf h LEFT JOIN idf i USING (term) " +
        "WHERE h.tf * COALESCE(i.idf, " +
        "CAST(floor(ln(CAST((SELECT n FROM n) + 1 AS DOUBLE)) * 1000 + 0.5) AS BIGINT)) > 0), " +
        "hnorm AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS nrm FROM wh GROUP BY doc_id), " +
        "btoks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM batch), " +
        "bt2 AS (SELECT doc_id, term FROM btoks WHERE length(term) > 0), " +
        "btf AS (SELECT doc_id, term, count(*) AS tf FROM bt2 GROUP BY 1, 2), " +
        "wb AS (SELECT b.doc_id, b.term, b.tf * CAST(floor(ln(CAST((SELECT n FROM n) + 1 AS DOUBLE) / " +
        "CAST(COALESCE(i.df, 0) + 1 AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS w " +
        "FROM btf b LEFT JOIN idf i USING (term)), " +
        "wbz AS (SELECT * FROM wb WHERE w > 0), " +
        "bnorm AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS nrm FROM wbz GROUP BY doc_id), " +
        "num AS (SELECT b.doc_id AS batch_id, h.doc_id AS doc_id, " +
        "sum(CAST(b.w AS HUGEINT) * h.w) AS num FROM wbz b JOIN wh h USING (term) " +
        "WHERE b.doc_id <> h.doc_id GROUP BY 1, 2) " +
        "SELECT num.batch_id AS batch_id, num.doc_id AS doc_id, " +
        "CAST(num.num AS BIGINT) AS num_fx, " +
        "CAST(bn.nrm AS BIGINT) AS norm_b, CAST(hn.nrm AS BIGINT) AS norm_h " +
        "FROM num JOIN bnorm bn ON bn.doc_id = num.batch_id " +
        "JOIN hnorm hn ON hn.doc_id = num.doc_id " +
        "WHERE num.num * num.num * 25 >= 16 * bn.nrm * hn.nrm " +
        "ORDER BY num.batch_id, num.doc_id"),
    "q_text_cosine_sparse" ->
      // the incremental twin with the batch bounded to ids < 4500 —
      // identical snapshot/idf/norm arithmetic, smaller probe set
      ("WITH hist AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 500000, text FROM documents WHERE doc_id % 45 = 0), " +
        "batch AS (SELECT doc_id + 900000 AS doc_id, text FROM documents " +
        "WHERE doc_id % 45 = 0 AND doc_id < 4500), " +
        "htoks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM hist), " +
        "ht2 AS (SELECT doc_id, term FROM htoks WHERE length(term) > 0), " +
        "htf AS (SELECT doc_id, term, count(*) AS tf FROM ht2 GROUP BY 1, 2), " +
        "snap AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents), " +
        "stf AS (SELECT doc_id, term FROM snap WHERE length(term) > 0 GROUP BY doc_id, term), " +
        "n AS (SELECT count(DISTINCT doc_id) AS n FROM documents), " +
        "idf AS (SELECT term, df, CAST(floor(ln(CAST((SELECT n FROM n) + 1 AS DOUBLE) / " +
        "CAST(df + 1 AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS idf " +
        "FROM (SELECT term, count(*) AS df FROM stf GROUP BY term)), " +
        "wh AS (SELECT h.doc_id, h.term, h.tf * COALESCE(i.idf, " +
        "CAST(floor(ln(CAST((SELECT n FROM n) + 1 AS DOUBLE)) * 1000 + 0.5) AS BIGINT)) AS w " +
        "FROM htf h LEFT JOIN idf i USING (term) " +
        "WHERE h.tf * COALESCE(i.idf, " +
        "CAST(floor(ln(CAST((SELECT n FROM n) + 1 AS DOUBLE)) * 1000 + 0.5) AS BIGINT)) > 0), " +
        "hnorm AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS nrm FROM wh GROUP BY doc_id), " +
        "btoks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM batch), " +
        "bt2 AS (SELECT doc_id, term FROM btoks WHERE length(term) > 0), " +
        "btf AS (SELECT doc_id, term, count(*) AS tf FROM bt2 GROUP BY 1, 2), " +
        "wb AS (SELECT b.doc_id, b.term, b.tf * CAST(floor(ln(CAST((SELECT n FROM n) + 1 AS DOUBLE) / " +
        "CAST(COALESCE(i.df, 0) + 1 AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS w " +
        "FROM btf b LEFT JOIN idf i USING (term)), " +
        "wbz AS (SELECT * FROM wb WHERE w > 0), " +
        "bnorm AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS nrm FROM wbz GROUP BY doc_id), " +
        "num AS (SELECT b.doc_id AS batch_id, h.doc_id AS doc_id, " +
        "sum(CAST(b.w AS HUGEINT) * h.w) AS num FROM wbz b JOIN wh h USING (term) " +
        "WHERE b.doc_id <> h.doc_id GROUP BY 1, 2) " +
        "SELECT num.batch_id AS batch_id, num.doc_id AS doc_id, " +
        "CAST(num.num AS BIGINT) AS num_fx, " +
        "CAST(bn.nrm AS BIGINT) AS norm_b, CAST(hn.nrm AS BIGINT) AS norm_h " +
        "FROM num JOIN bnorm bn ON bn.doc_id = num.batch_id " +
        "JOIN hnorm hn ON hn.doc_id = num.doc_id " +
        "WHERE num.num * num.num * 25 >= 16 * bn.nrm * hn.nrm " +
        "ORDER BY num.batch_id, num.doc_id"),
    "q_text_cjk_tfidf" ->
      // detect → strip → bigram → re-space, then the SAME tfidf chain
      // over the re-tokenized corpus (RE2 \x{...} = the Java \uXXXX
      // class, same BMP codepoints)
      ("WITH raw(doc_id, text) AS (VALUES " +
        "(1, '東京都は大都市です'), (2, '東京の人口は多い'), " +
        "(3, 'the quick brown fox jumps'), (4, 'quick fox and lazy dog'), " +
        "(5, 'ひらがな と カタカナ'), (6, 'mixed 東京 latin heavy text here'), " +
        "(7, '東京　大阪の通勤')), " +
        "det AS (SELECT doc_id, text, " +
        "regexp_replace(text, '[ \t\n\f\r　]', '', 'g') AS stripped, " +
        "length(text) - length(regexp_replace(text, " +
        "'[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}\\x{AC00}-\\x{D7AF}\\x{0E00}-\\x{0E7F}]', '', 'g')) AS scriptc " +
        "FROM raw), " +
        "retok AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "CASE WHEN scriptc * 2 > length(stripped) THEN " +
        "CASE WHEN length(stripped) >= 2 THEN " +
        "array_to_string(list_transform(range(1, length(stripped)), i -> stripped[i:i+1]), ' ') " +
        "ELSE stripped END " +
        "ELSE regexp_replace(text, '　', ' ', 'g') END AS text FROM det), " +
        tfidfOracleOver("retok")),
    // the postings-index path answers the SAME twin — one persisted
    // tokenize, two consumers, identical results
    "q_text_tfidf_indexed" -> TfidfOracleSql,
    "q_dedup_paragraph" ->
      ("WITH docs(doc_id, text) AS (VALUES " +
        "(1, 'alpha beta' || chr(10) || 'common boilerplate' || chr(10) || 'gamma'), " +
        "(2, 'common boilerplate' || chr(10) || 'delta'), " +
        "(3, 'epsilon' || chr(10) || 'alpha beta'), " +
        "(4, 'common boilerplate'), " +
        "(5, 'zeta' || chr(10) || 'zeta')), " +
        "s AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM docs), " +
        "p AS (SELECT doc_id, len(ps) AS n_spans, " +
        "unnest(list_transform(range(1, len(ps) + 1), i -> {'pos': i, 'span': ps[i]})) AS u FROM s), " +
        "q AS (SELECT doc_id, n_spans, u.pos AS pos, u.span AS span FROM p), " +
        "k AS (SELECT doc_id, n_spans, pos, span, " +
        "row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn FROM q) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, string_agg(span, chr(10) ORDER BY pos) AS text, " +
        "CAST(max(n_spans) AS BIGINT) AS n_spans, count(*) AS n_kept " +
        "FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id"),
    "q_corpus_length_band" ->
      ("WITH r AS (SELECT doc_id, lang, n_chars, " +
        "percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr FROM documents) " +
        "SELECT doc_id, lang, n_chars, CAST(floor(pr * 1000000 + 0.5) AS BIGINT) AS pr_fx " +
        "FROM r WHERE pr >= 0.05 AND pr <= 0.95 ORDER BY doc_id"),
    // hashing-trick twin: same KR fold + Knuth mix, dim = mod d, sign
    // from the mix's bit 16, exact integer sums
    "q_text_hash_features" ->
      ("WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM documents), " +
        "t2 AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0), " +
        "hv AS (SELECT doc_id, (list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) * 2654435761) % 4294967296 AS mh " +
        "FROM (SELECT doc_id, regexp_replace(tok, '[^a-z0-9 ]', '', 'g') AS t FROM t2)), " +
        "f AS (SELECT doc_id, mh % 32 AS dim_idx, " +
        "CASE WHEN (mh // 65536) % 2 = 0 THEN 1 ELSE -1 END AS s FROM hv) " +
        "SELECT doc_id, CAST(dim_idx AS BIGINT) AS dim_idx, CAST(sum(s) AS BIGINT) AS f " +
        "FROM f GROUP BY doc_id, dim_idx ORDER BY doc_id, dim_idx"),
    "q_text_topgram" ->
      ("WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS toks FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')] " +
        "ELSE list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) END AS grams FROM tk), " +
        "e AS (SELECT doc_id, unnest(grams) AS gram FROM g), " +
        "pg AS (SELECT doc_id, gram, count(*) AS cnt FROM e GROUP BY doc_id, gram) " +
        "SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams, max(cnt) AS top_count, " +
        "CAST(floor(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS top_frac_fx " +
        "FROM pg GROUP BY doc_id ORDER BY doc_id"),
    // KMV sketch twin: the q_dedup_minhash_portable shingle/KR-fold
    // CTEs, Knuth mix onto [0, 2^32), per-group k-th-smallest order
    // statistic, integer-division estimator — engine-exact incl. the
    // exact (< k) branch
    "q_sketch_kmv_shingles" ->
      (SketchKmvShingleCtes +
        "SELECT lang, CASE WHEN cnt < 64 THEN cnt " +
        "ELSE (63 * 4294967296) // (h_k + 1) END AS est_distinct, " +
        "CASE WHEN cnt < 64 THEN cnt ELSE 64 END AS sketch_size " +
        "FROM kth ORDER BY lang"),
    "q_sketch_kmv_ids" ->
      ("WITH hv AS (SELECT DISTINCT l_returnflag, " +
        "(l_partkey * 2654435761) % 4294967296 AS mh FROM lineitem), " +
        "r AS (SELECT l_returnflag, mh, " +
        "row_number() OVER (PARTITION BY l_returnflag ORDER BY mh) AS rn, " +
        "count(*) OVER (PARTITION BY l_returnflag) AS cnt FROM hv), " +
        "kth AS (SELECT l_returnflag, max(CASE WHEN rn = 64 THEN mh END) AS h_k, " +
        "max(cnt) AS cnt FROM r GROUP BY l_returnflag) " +
        "SELECT l_returnflag, CASE WHEN cnt < 64 THEN cnt " +
        "ELSE (63 * 4294967296) // (h_k + 1) END AS est_distinct, " +
        "CASE WHEN cnt < 64 THEN cnt ELSE 64 END AS sketch_size " +
        "FROM kth ORDER BY l_returnflag"),
    // Merge-gate twin sketches the WHOLE table in one pass; Spark
    // merged two disjoint half-sketches — exact equality pins the KMV
    // merge identity cross-engine
    "q_sketch_kmv_merge" ->
      (SketchKmvShingleCtes +
        "SELECT lang, CASE WHEN cnt < 64 THEN cnt " +
        "ELSE (63 * 4294967296) // (h_k + 1) END AS est_distinct " +
        "FROM kth ORDER BY lang"),
    // Sample-quantile twin: same Knuth lottery, same integral rank
    // selection — both engines pick the identical element
    "q_sketch_quantile_sample" ->
      ("WITH s AS (SELECT lang, doc_id, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents " +
        "WHERE (doc_id * 2654435761) % 4294967296 % 4 = 0), " +
        "r AS (SELECT lang, toks, " +
        "row_number() OVER (PARTITION BY lang ORDER BY toks, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY lang) AS cnt FROM s) " +
        "SELECT lang, " +
        "max(CASE WHEN rn = (cnt-1)*5//10 + 1 THEN toks END) AS p50_tokens, " +
        "max(CASE WHEN rn = (cnt-1)*9//10 + 1 THEN toks END) AS p90_tokens, " +
        "max(cnt) AS n_sample FROM r GROUP BY lang ORDER BY lang"),
    // KMV pairwise Jaccard twin: DuckDB rebuilds each lang's k=64
    // sketch from the pinned shingle CTEs, then replays the k-min
    // union, the both-sides membership count, and the integer-ppm
    // division bit-for-bit
    "q_sketch_kmv_jaccard" ->
      (SketchKmvShingleCtes +
        ", sk AS (SELECT lang, list_sort(list(mh)) AS sk FROM r WHERE rn <= 64 GROUP BY lang), " +
        "p AS (SELECT a.lang AS group_a, b.lang AS group_b, a.sk AS ska, b.sk AS skb " +
        "FROM sk a JOIN sk b ON a.lang < b.lang), " +
        "u AS (SELECT group_a, group_b, ska, skb, " +
        "list_sort(list_distinct(list_concat(ska, skb)))[1:64] AS un FROM p), " +
        "m AS (SELECT group_a, group_b, " +
        "CAST(len(list_filter(un, x -> list_contains(ska, x) AND list_contains(skb, x))) AS BIGINT) AS matches, " +
        "CAST(len(un) AS BIGINT) AS union_k FROM u) " +
        "SELECT group_a, group_b, matches, union_k, " +
        "(matches * 1000000) // union_k AS jaccard_ppm " +
        "FROM m ORDER BY group_a, group_b"),
    // join-overlap twin: both key sets Knuth-mixed, k smallest distinct
    // kept, Broder k-min overlap over the merged sketch, truncating
    // integer estimate — the approximation replayed bit-for-bit
    "q_sketch_join_overlap" -> {
      def mh(expr: String) =
        s"((CAST($expr AS HUGEINT) * 2654435761) % 4294967296 + 4294967296) % 4294967296"
      def est(sk: String) =
        s"CASE WHEN len($sk) < 64 THEN CAST(len($sk) AS BIGINT) ELSE (63 * 4294967296) // ($sk[64] + 1) END"
      "WITH ka AS (SELECT DISTINCT " + mh("l_orderkey") + " AS mh FROM lineitem), " +
        "kb AS (SELECT DISTINCT " + mh("o_orderkey") + " AS mh FROM orders WHERE o_orderkey % 3 = 0), " +
        "sa AS (SELECT list_sort(list(mh)) AS sk FROM (SELECT mh FROM ka ORDER BY mh LIMIT 64)), " +
        "sb AS (SELECT list_sort(list(mh)) AS sk FROM (SELECT mh FROM kb ORDER BY mh LIMIT 64)), " +
        "u AS (SELECT sa.sk AS ska, sb.sk AS skb, " +
        "list_sort(list_distinct(list_concat(sa.sk, sb.sk)))[1:64] AS un FROM sa, sb), " +
        "m AS (SELECT ska, skb, un, " +
        "CAST(len(list_filter(un, x -> list_contains(ska, x) AND list_contains(skb, x))) AS BIGINT) AS matches, " +
        "CAST(len(un) AS BIGINT) AS union_k FROM u) " +
        "SELECT CAST(" + est("ska") + " AS BIGINT) AS est_distinct_a, " +
        "CAST(" + est("skb") + " AS BIGINT) AS est_distinct_b, " +
        "matches, union_k, " +
        "CAST((matches * (" + est("un") + ")) // union_k AS BIGINT) AS est_overlap FROM m"
    },
    // Quantile-sketch exact regime: with no compaction the weighted
    // items are the raw multiset, so the twin is plain rank selection
    // with the house integral index over EVERY row (no sample lottery)
    "q_sketch_quantiles" ->
      ("WITH s AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents), " +
        "r AS (SELECT lang, toks, " +
        "row_number() OVER (PARTITION BY lang ORDER BY toks) AS rn, " +
        "count(*) OVER (PARTITION BY lang) AS cnt FROM s) " +
        "SELECT lang, " +
        "max(CASE WHEN rn = (cnt-1)*1//10 + 1 THEN toks END) AS p10, " +
        "max(CASE WHEN rn = (cnt-1)*5//10 + 1 THEN toks END) AS p50, " +
        "max(CASE WHEN rn = (cnt-1)*9//10 + 1 THEN toks END) AS p90, " +
        "CAST(0 AS BIGINT) AS err, max(cnt) AS n FROM r GROUP BY lang ORDER BY lang"),
    // merge-identity twin: in the exact regime pooled half-sketches ARE
    // the union multiset, so the twin is the SAME one-pass rank
    // selection as q_sketch_quantiles
    "q_sketch_quantile_merge" ->
      ("WITH s AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents), " +
        "r AS (SELECT lang, toks, " +
        "row_number() OVER (PARTITION BY lang ORDER BY toks) AS rn, " +
        "count(*) OVER (PARTITION BY lang) AS cnt FROM s) " +
        "SELECT lang, " +
        "max(CASE WHEN rn = (cnt-1)*1//10 + 1 THEN toks END) AS p10, " +
        "max(CASE WHEN rn = (cnt-1)*5//10 + 1 THEN toks END) AS p50, " +
        "max(CASE WHEN rn = (cnt-1)*9//10 + 1 THEN toks END) AS p90, " +
        "CAST(0 AS BIGINT) AS err, max(cnt) AS n FROM r GROUP BY lang ORDER BY lang"),
    // MG sketch exact regime: with err = 0 the sketch output equals the
    // plain per-(lang, token) counts sorted est desc, term asc
    "q_sketch_mg_exact" ->
      ("WITH toks AS (SELECT lang, unnest(str_split(text, ' ')) AS term FROM documents), " +
        "t2 AS (SELECT lang, term FROM toks WHERE length(term) > 0), " +
        "c AS (SELECT lang, term, count(*) AS est FROM t2 GROUP BY lang, term) " +
        "SELECT lang, term, CAST(est AS BIGINT) AS est, CAST(0 AS BIGINT) AS err " +
        "FROM c ORDER BY lang, est DESC, term"),
    "q_sketch_cm_counts" ->
      ("WITH toks AS (SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM documents), " +
        "t2 AS (SELECT lang, tok FROM toks WHERE length(tok) > 0), " +
        "hv AS (SELECT lang, list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) AS hv " +
        "FROM (SELECT lang, regexp_replace(tok, '[^a-z0-9 ]', '', 'g') AS t FROM t2)), " +
        "cells AS (SELECT lang, r.range AS j, " +
        "(((2*r.range+3)*hv + (97*r.range+1)) % 1000000007) % 16 AS colx, count(*) AS tot " +
        "FROM hv CROSS JOIN range(0, 4) r GROUP BY lang, j, colx), " +
        "q(term) AS (VALUES ('spark'), ('hash'), ('vector'), ('merge'), ('zzqx')), " +
        "qh AS (SELECT term, list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) AS hv " +
        "FROM (SELECT term, regexp_replace(lower(term), '[^a-z0-9 ]', '', 'g') AS t FROM q)), " +
        "grid AS (SELECT l.lang, qh.term, qh.hv, r.range AS j " +
        "FROM (SELECT DISTINCT lang FROM documents) l CROSS JOIN qh CROSS JOIN range(0, 4) r) " +
        "SELECT g.lang, g.term, CAST(min(coalesce(c.tot, 0)) AS BIGINT) AS est " +
        "FROM grid g LEFT JOIN cells c ON c.lang = g.lang AND c.j = g.j " +
        "AND c.colx = (((2*g.j+3)*g.hv + (97*g.j+1)) % 1000000007) % 16 " +
        "GROUP BY g.lang, g.term ORDER BY g.lang, g.term"),
    "q_sketch_mg_weighted" ->
      ("WITH c AS (SELECT lang, source AS term, CAST(sum(n_chars) AS BIGINT) AS est " +
        "FROM documents GROUP BY lang, source) " +
        "SELECT lang, term, est, CAST(0 AS BIGINT) AS err " +
        "FROM c ORDER BY lang, est DESC, term"),
    "q_text_heavy_hitters" ->
      ("WITH toks AS (SELECT lang, unnest(str_split(text, ' ')) AS term FROM documents), " +
        "t2 AS (SELECT lang, term FROM toks WHERE length(term) > 0), " +
        "c AS (SELECT lang, term, count(*) AS cnt FROM t2 GROUP BY lang, term), " +
        "r AS (SELECT lang, term, cnt, " +
        """row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS "rank" FROM c) """ +
        """SELECT lang, CAST("rank" AS BIGINT) AS "rank", term, CAST(cnt AS BIGINT) AS cnt """ +
        """FROM r WHERE "rank" <= 8 ORDER BY lang, "rank""""),
    // BM25 twin: identical op order parenthesis for parenthesis — idf
    // floored to micro-units first, the ratio a fixed IEEE double
    // sequence, the doc score an exact BIGINT sum. (1.2 + 1.0) and
    // (1.0 - 0.75) are written as ops, not folded literals, so both
    // engines round the same arithmetic, not a decimal parse.
    "q_text_bm25" ->
      ("WITH docs AS (SELECT doc_id, text, " +
        "CAST(len(list_filter(str_split(text, ' '), t -> len(t) > 0)) AS BIGINT) AS dl FROM documents), " +
        "toks AS (SELECT doc_id, dl, unnest(str_split(text, ' ')) AS term FROM docs), " +
        "t2 AS (SELECT doc_id, dl, term FROM toks WHERE length(term) > 0 " +
        "AND term IN ('spark', 'hash', 'vector')), " +
        "tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM t2 GROUP BY doc_id, dl, term), " +
        "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
        "stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM docs), " +
        "scored AS (SELECT f.doc_id, " +
        "CAST(floor(ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) / " +
        "(CAST(d.df AS DOUBLE) + 0.5)) * 1000000.0 + 0.5) AS BIGINT) AS idf_fx, " +
        "(CAST(f.tf AS DOUBLE) * (1.2 + 1.0)) / (CAST(f.tf AS DOUBLE) + " +
        "1.2 * ((1.0 - 0.75) + (0.75 * CAST(f.dl AS DOUBLE)) / " +
        "(CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) AS ratio " +
        "FROM tf f JOIN dfreq d USING (term) CROSS JOIN stats s), " +
        "sc2 AS (SELECT doc_id, CAST(floor(CAST(idf_fx AS DOUBLE) * ratio + 0.5) AS BIGINT) AS score_fx " +
        "FROM scored), " +
        "agg AS (SELECT doc_id, sum(score_fx) AS score_fx, count(*) AS n_terms_hit FROM sc2 GROUP BY doc_id) " +
        "SELECT doc_id, CAST(score_fx AS BIGINT) AS score_fx, CAST(n_terms_hit AS BIGINT) AS n_terms_hit " +
        "FROM agg ORDER BY score_fx DESC, doc_id LIMIT 20"),
    // Batch twin: same scorer over the UNION of query terms (df over
    // the pruned postings is term-local, so the union changes nothing
    // per term), then the query bag joins and reduces per query_id
    "q_text_bm25_batch" -> Bm25BatchOracleSql,
    // round-trip-equality contract: the index path answers the SAME
    // twin as the in-memory batch
    "q_text_bm25_indexed" -> Bm25BatchOracleSql,
    "q_text_bm25_filtered" -> Bm25FilteredOracleSql,
    "q_text_bm25_deleted" -> Bm25DeletedOracleSql,
    "q_verify_deletion" ->
      // expected per-id surface counts recomputed from the raw corpus
      // and the delete predicate alone: a surviving tokenful doc has
      // exactly one distinct-doc posting presence and one roster row;
      // a deleted doc counts 0 everywhere; tombstones are dropped by
      // the purge, so every probe reads 0 there
      ("WITH d AS (SELECT doc_id, count(*) AS n, " +
        "max(len(list_filter(str_split(text, ' '), t -> len(t) > 0))) AS dl " +
        "FROM documents WHERE doc_id < 60 GROUP BY doc_id) " +
        "SELECT CAST(doc_id AS BIGINT) AS id, CAST(n AS BIGINT) AS corpus_rows, " +
        "CAST(CASE WHEN doc_id % 3 <> 0 AND dl > 0 THEN 1 ELSE 0 END AS BIGINT) AS posting_rows, " +
        "CAST(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS BIGINT) AS roster_rows, " +
        // every roster doc carries exactly one norm row (zero-token
        // docs included), so the sidecar's expected presence IS the
        // roster's — and a purged doc must read 0 there too
        "CAST(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS BIGINT) AS norm_rows, " +
        "CAST(0 AS BIGINT) AS tombstone_rows " +
        "FROM d ORDER BY id"),
    // fusion twin: the same ranked BM25 run (rank <= 10) as the
    // relevance channel, the 20 newest doc_ids as the freshness
    // channel, 1e6 // (60 + rank) summed per (query, doc) — DuckDB's
    // // truncates toward zero like Spark's div, and operands are
    // positive, so the fixed-point contributions agree exactly
    "q_retrieval_fusion" ->
      (Bm25BatchCtes.replace("__CAND__", "") +
        """, rel AS (SELECT query_id, doc_id, "rank" FROM r WHERE "rank" <= 10), """ +
        """fr0 AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id DESC) AS "rank" """ +
        "FROM documents ORDER BY doc_id DESC LIMIT 20), " +
        "fresh AS (SELECT q2.query_id, f.doc_id, f.\"rank\" " +
        "FROM (SELECT DISTINCT query_id FROM q) q2 CROSS JOIN fr0 f), " +
        """u AS (SELECT query_id, doc_id, 1000000 // (60 + "rank") AS c FROM rel """ +
        """UNION ALL SELECT query_id, doc_id, 1000000 // (60 + "rank") AS c FROM fresh), """ +
        "fs AS (SELECT query_id, doc_id, sum(c) AS score_fx FROM u GROUP BY 1, 2), " +
        "rr2 AS (SELECT query_id, doc_id, score_fx, " +
        """row_number() OVER (PARTITION BY query_id ORDER BY score_fx DESC, doc_id) AS "rank" FROM fs) """ +
        """SELECT CAST(query_id AS BIGINT) AS query_id, CAST("rank" AS BIGINT) AS "rank", doc_id, """ +
        "CAST(score_fx AS BIGINT) AS score_fx " +
        """FROM rr2 WHERE "rank" <= 5 ORDER BY query_id, "rank""""),
    "q_f3_default_rewrite" ->
      ("WITH defs(column_name, raw_default, is_numeric) AS (VALUES " +
        "('a','(0)',true), ('b','  ''abc''  ',false), ('c','SYS_GUID()',false), " +
        "('d','USER',false), ('e','sysdate',false), ('f','CURRENT_TIMESTAMP(6)',false), " +
        "('g','NULL',false), ('h','42',true), ('i','(3.14)',true), " +
        "('j','-7',true), ('k','42 days',true), ('l','hello world',false), " +
        "('m','O''Brien',false), ('n','''quoted''',false)), " +
        "s1 AS (SELECT column_name, is_numeric, trim(raw_default) AS t0 FROM defs), " +
        "s2 AS (SELECT column_name, is_numeric, CASE WHEN t0 LIKE '(%' AND t0 LIKE '%)' " +
        "THEN trim(substr(t0, 2, length(t0)-2)) ELSE t0 END AS t FROM s1) " +
        "SELECT column_name, " +
        "CASE WHEN upper(t) = '' OR upper(t) = 'NULL' OR contains(upper(t), 'SYS_GUID') OR upper(t) = 'USER' THEN NULL " +
        "WHEN upper(t) LIKE 'SYSDATE%' OR upper(t) LIKE 'CURRENT_TIMESTAMP%' OR upper(t) LIKE 'SYSTIMESTAMP%' OR upper(t) LIKE 'LOCALTIMESTAMP%' THEN 'CURRENT_TIMESTAMP' " +
        "WHEN is_numeric THEN NULLIF(regexp_extract(t, '[-]?[0-9][0-9.]*', 0), '') " +
        "WHEN t LIKE '''%' THEN t " +
        "ELSE '''' || replace(t, '''', '''''') || '''' END AS default_sql " +
        "FROM s2 ORDER BY column_name"),
    "q_s2_type_ddl" ->
      ("WITH dict(column_name, data_type, char_length, data_precision, data_scale, avg_col_len, nullable) AS (VALUES " +
        "('id','NUMBER',0,10,0,7,'N'), ('price','NUMBER',0,12,2,8,'Y'), " +
        "('big_dec','NUMBER',0,40,35,22,'Y'), ('counter','NUMBER',0,NULL,NULL,3,'Y'), " +
        "('name','VARCHAR2',100,NULL,NULL,40,'Y'), ('code','CHAR',3,NULL,NULL,4,'N'), " +
        "('created','DATE',0,NULL,NULL,8,'Y'), ('updated','TIMESTAMP(6)',0,NULL,NULL,12,'Y'), " +
        "('tz_col','TIMESTAMP(6) WITH TIME ZONE',0,NULL,NULL,14,'Y'), " +
        "('body','CLOB',0,NULL,NULL,120,'Y'), ('payload','BLOB',0,NULL,NULL,200,'Y'), " +
        "('ratio','BINARY_DOUBLE',0,NULL,NULL,9,'Y'), ('misc','XMLTYPE',0,NULL,NULL,50,'Y')), " +
        "n AS (SELECT *, GREATEST(CASE WHEN COALESCE(data_scale,0) > 30 " +
        "THEN LEAST(COALESCE(data_precision,38),30)-1 ELSE COALESCE(data_scale,0) END, 0) AS sc FROM dict) " +
        "SELECT column_name, " +
        "CASE WHEN upper(data_type)='NUMBER' THEN " +
        "(CASE WHEN COALESCE(data_precision,0) > 0 AND sc > 0 " +
        "THEN 'decimal(' || COALESCE(data_precision,38) || ',' || sc || ')' " +
        "WHEN COALESCE(avg_col_len,0) >= 6 THEN 'bigint' ELSE 'int' END) " +
        "WHEN upper(data_type) IN ('FLOAT','BINARY_FLOAT') THEN 'float' " +
        "WHEN upper(data_type)='BINARY_DOUBLE' THEN 'double' " +
        "WHEN upper(data_type) IN ('VARCHAR2','NVARCHAR2','UROWID') THEN 'varchar(' || GREATEST(COALESCE(char_length,1),1) || ')' " +
        "WHEN upper(data_type) IN ('CHAR','NCHAR') THEN 'char(' || GREATEST(COALESCE(char_length,1),1) || ')' " +
        "WHEN upper(data_type)='DATE' THEN 'datetime' " +
        "WHEN upper(data_type) LIKE 'TIMESTAMP%' THEN 'datetime(6)' " +
        "WHEN upper(data_type) IN ('CLOB','NCLOB','LONG') THEN 'longtext' " +
        "WHEN upper(data_type) IN ('BLOB','RAW','LONG RAW') THEN 'longblob' " +
        "ELSE lower(data_type) END AS mysql_type, " +
        "CASE WHEN nullable='N' THEN 'not null' ELSE 'null' END AS null_sql " +
        "FROM n ORDER BY column_name"),
    "q_s8_index_ddl" ->
      ("WITH ind_cols(table_name, index_name, column_name, column_position) AS " +
        "(VALUES ('t1','pk_t1','id',1), ('t1','ix_t1_ab','b',2), ('t1','ix_t1_ab','a',1), ('t1','ux_t1_c','c',1)), " +
        "idx(index_name, uniqueness, index_type) AS " +
        "(VALUES ('pk_t1','UNIQUE','NORMAL'), ('ix_t1_ab','NONUNIQUE','NORMAL'), ('ux_t1_c','UNIQUE','NORMAL')), " +
        "cons(constraint_name, constraint_type) AS (VALUES ('pk_t1','P')), " +
        "g AS (SELECT ic.table_name, ic.index_name, i.uniqueness, i.index_type, c.constraint_type, " +
        "string_agg(ic.column_name, ',' ORDER BY ic.column_position) AS cols " +
        "FROM ind_cols ic JOIN idx i USING(index_name) LEFT JOIN cons c ON ic.index_name = c.constraint_name " +
        "WHERE i.index_type <> 'FUNCTION-BASED NORMAL' " +
        "GROUP BY ic.table_name, ic.index_name, i.uniqueness, i.index_type, c.constraint_type) " +
        "SELECT table_name, CASE WHEN constraint_type IN ('P','R') THEN " +
        "'ALTER TABLE `' || table_name || '` ADD CONSTRAINT `' || index_name || '`' || " +
        "CASE WHEN constraint_type = 'P' THEN ' PRIMARY KEY (' ELSE ' FOREIGN KEY (' END || cols || ');' " +
        "ELSE 'CREATE ' || CASE WHEN uniqueness = 'UNIQUE' THEN 'UNIQUE ' WHEN index_type = 'NORMAL' THEN '' ELSE index_type || ' ' END || " +
        "'INDEX `' || index_name || '` ON ' || table_name || '(' || cols || ');' END AS sql_cmd " +
        "FROM g ORDER BY sql_cmd"),
    "q_text_entropy" ->
      ("WITH nn AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t FROM documents), " +
        "c AS (SELECT doc_id, t, length(t) AS n, " +
        "list_distinct(list_transform(range(1, length(t)+1), i -> t[i:i])) AS d FROM nn) " +
        "SELECT doc_id, CASE WHEN n > 0 THEN " +
        "FLOOR(-(CAST(list_sum(list_transform(d, ch -> " +
        "CAST(FLOOR((CAST(length(t) - length(replace(t, ch, '')) AS DOUBLE) / n) * " +
        "ln(CAST(length(t) - length(replace(t, ch, '')) AS DOUBLE) / n) * 1e15 + 0.5) AS BIGINT))) AS DOUBLE) / 1e15) * 1000000 + 0.5) / 1000000.0 + 0.0 " +
        "ELSE 0.0 END AS entropy " +
        "FROM c ORDER BY doc_id"),
    // Planted-duplicate LSH gate: identical vectors share every band, so
    // the output is exactly the planted (id, id+1000000) pairs — no
    // non-dup pair comes within 0.29 cosine of the 0.8 threshold
    "q_dedup_embedding" ->
      "SELECT CAST(vec_id AS BIGINT) AS id_a, CAST(vec_id + 1000000 AS BIGINT) AS id_b FROM embeddings ORDER BY id_a, id_b",
    // asymmetric planted batch: each copied even vector collides with
    // exactly its original in the index (cosine ~1.0 vs <= 0.513)
    "q_dedup_embedding_incremental" ->
      ("SELECT CAST(vec_id + 1000000 AS BIGINT) AS batch_id, " +
        "CAST(vec_id AS BIGINT) AS index_id FROM embeddings " +
        "WHERE vec_id % 2 = 0 ORDER BY batch_id, index_id"),
    "q_dedup_embedding_exact" ->
      ("SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE a.vec_id < 1000 AND b.vec_id < 1000 " +
        "AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45 " +
        "ORDER BY id_a, id_b"),
    // Planted-duplicate MinHash gate: threshold 1.0 + exact-Jaccard
    // verify ⇒ output = pairs with identical (lowercased, whitespace-
    // tokenized) word-3-shingle SETS in the planted union — identical
    // sets guarantee identical signatures in every band, so LSH recall
    // is exactly 1.0 for these pairs under any hash family
    "q_dedup_minhash" ->
      ("WITH u AS (SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT doc_id + 1000000, text FROM documents), " +
        "toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM u), " +
        "sh AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')] " +
        "ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END AS s FROM toks), " +
        "k AS (SELECT doc_id, array_to_string(list_sort(list_distinct(s)), chr(1)) AS key FROM sh) " +
        "SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b " +
        "FROM k a JOIN k b ON a.key = b.key AND a.doc_id < b.doc_id " +
        "ORDER BY id_a, id_b"),
    // Planted-duplicate SimHash gate: banded candidates + exact text-
    // equality verify ⇒ output = identical-text pairs in the planted
    // union (identical text ⇒ Hamming 0 ⇒ candidate under any family)
    "q_dedup_simhash" ->
      ("WITH u AS (SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT doc_id + 1000000, text FROM documents) " +
        "SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b " +
        "FROM u a JOIN u b ON a.text = b.text AND a.doc_id < b.doc_id " +
        "ORDER BY id_a, id_b"),
    // Planted-copy ANN gates: the rank-1 neighbor of an exact copy is
    // its original (cosine ≈ 1.0 vs ≤ 0.513 for every other vector)
    "q_sim_lsh_topk" ->
      ("SELECT CAST(vec_id + 1000000 AS BIGINT) AS query_id, " +
        "CAST(vec_id AS BIGINT) AS neighbor_id FROM embeddings " +
        "WHERE vec_id < 20 ORDER BY query_id"),
    "q_sim_ivf_topk" ->
      ("SELECT CAST(vec_id + 1000000 AS BIGINT) AS query_id, " +
        "CAST(vec_id AS BIGINT) AS neighbor_id FROM embeddings " +
        "WHERE vec_id < 20 ORDER BY query_id"),
    // 28-bit signature, 4×7-bit bands; per-token KR hash de-biased by
    // the Knuth mix (h*2654435761 % 2^30 — exact BIGINT arithmetic, see
    // Dedup.portableSimhashSignature) before voting
    "q_dedup_simhash_portable" -> {
      val bits = 28
      val bitSums = (0 until bits).map(j =>
        s"SUM(CASE WHEN (hv // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b_$j").mkString(", ")
      val sigExpr = (0 until bits).map(j =>
        s"(CASE WHEN b_$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      val bandVals = (0 until 4).map(b => s"(sim // ${1L << (b * 7)}) % 128").mkString(", ")
      "WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "e AS (SELECT doc_id, unnest(w) AS tok FROM toks), " +
        "hv AS (SELECT doc_id, (list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) * 2654435761) % 1073741824 AS hv " +
        "FROM (SELECT doc_id, regexp_replace(tok, '[^a-z0-9 ]', '', 'g') AS t FROM e)), " +
        s"bs AS (SELECT doc_id, $bitSums FROM hv GROUP BY doc_id), " +
        s"sig AS (SELECT doc_id, $sigExpr AS sim FROM bs), " +
        s"band AS (SELECT doc_id, sim, unnest([0,1,2,3]) AS bd, unnest([$bandVals]) AS bv FROM sig), " +
        // the Spark side caps hot buckets (maxBucket=1000): a whole
        // (band, value) bucket past the cap is DROPPED, deterministically
        // — model it identically or the twin diverges exactly when a
        // bucket first crosses the cap (sf0.1: 171k vs 197k pairs; the
        // sf0.01 gate never trips it because no bucket is that hot)
        "capped AS (SELECT doc_id, sim, bd, bv FROM (SELECT doc_id, sim, bd, bv, " +
        "COUNT(*) OVER (PARTITION BY bd, bv) AS n FROM band) WHERE n <= 1000), " +
        "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sim AS sa, b.sim AS sb " +
        "FROM capped a JOIN capped b ON a.bd = b.bd AND a.bv = b.bv AND a.doc_id < b.doc_id) " +
        "SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming FROM pairs " +
        "WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY id_a, id_b"
    },
    "q_dedup_spans" -> {
      // winnowed 12-token duplicate spans: same KR + Knuth-mix integer
      // arithmetic as the Spark kernel, 0-based positions, islands via
      // gaps-and-islands over window starts
      "WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "sh AS (SELECT doc_id, CASE WHEN len(w) < 12 THEN [array_to_string(w, ' ')] " +
        "ELSE list_transform(range(1, len(w) - 10), i -> array_to_string(w[i:i+11], ' ')) END AS s FROM toks), " +
        "e AS (SELECT doc_id, unnest(list_transform(range(1, len(s)+1), i -> {'pos': i - 1, 'sg': s[i]})) AS u FROM sh), " +
        "nrm AS (SELECT doc_id, u.pos AS pos, regexp_replace(u.sg, '[^a-z0-9 ]', '', 'g') AS t FROM e), " +
        "hv AS (SELECT doc_id, pos, t, (list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) * 2654435761) % 1073741824 AS h FROM nrm), " +
        "sel AS (SELECT doc_id, pos, t FROM hv WHERE h % 4 = 0), " +
        "cand AS (SELECT t FROM sel GROUP BY t HAVING COUNT(DISTINCT doc_id) >= 2), " +
        "hit AS (SELECT doc_id, pos FROM sel WHERE t IN (SELECT t FROM cand)), " +
        "isl AS (SELECT doc_id, pos, CASE WHEN pos > COALESCE(MAX(pos + 11) OVER " +
        "(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) " +
        "THEN 1 ELSE 0 END AS ni FROM hit), " +
        "grp AS (SELECT doc_id, pos, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM isl) " +
        "SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start, " +
        "CAST(MAX(pos) + 11 AS BIGINT) AS span_end, COUNT(*) AS n_windows " +
        "FROM grp GROUP BY doc_id, g ORDER BY doc_id, span_start"
    },
    "q_dedup_spans_strip" -> {
      // same winnow/verify CTEs as q_dedup_spans, then per-span-text
      // keeper election (row 1 by doc_id, pos), deletion-range union,
      // and an original-case token rebuild — the text-level hash-count
      // stage can be elided because text grouping subsumes it (hash
      // collisions only ever ADD candidates the text verify removes)
      "WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "sh AS (SELECT doc_id, CASE WHEN len(w) < 12 THEN [array_to_string(w, ' ')] " +
        "ELSE list_transform(range(1, len(w) - 10), i -> array_to_string(w[i:i+11], ' ')) END AS s FROM toks), " +
        "e AS (SELECT doc_id, unnest(list_transform(range(1, len(s)+1), i -> {'pos': i - 1, 'sg': s[i]})) AS u FROM sh), " +
        "nrm AS (SELECT doc_id, u.pos AS pos, regexp_replace(u.sg, '[^a-z0-9 ]', '', 'g') AS t FROM e), " +
        "hv AS (SELECT doc_id, pos, t, (list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) * 2654435761) % 1073741824 AS h FROM nrm), " +
        "sel AS (SELECT doc_id, pos, t FROM hv WHERE h % 4 = 0), " +
        "cand AS (SELECT t FROM sel GROUP BY t HAVING COUNT(DISTINCT doc_id) >= 2), " +
        "hit AS (SELECT doc_id, pos, t FROM sel WHERE t IN (SELECT t FROM cand)), " +
        "del AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, " +
        "row_number() OVER (PARTITION BY t ORDER BY doc_id, pos) AS rn FROM hit) WHERE rn > 1), " +
        "dl AS (SELECT doc_id, list(pos) AS dels FROM del GROUP BY doc_id), " +
        "ot AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ow FROM documents), " +
        "rb AS (SELECT o.doc_id, o.ow, COALESCE(d.dels, CAST([] AS BIGINT[])) AS dels " +
        "FROM ot o LEFT JOIN dl d USING (doc_id)), " +
        "o2 AS (SELECT doc_id, ow, list_filter(range(1, len(ow)+1), " +
        "i -> len(list_filter(dels, p -> p <= i-1 AND i-1 <= p+11)) = 0) AS keep FROM rb) " +
        // COALESCE: a fully-deleted document rebuilds as '' (the
        // operator's documented contract), but DuckDB's
        // array_to_string of an empty list yields NULL
        "SELECT doc_id, COALESCE(array_to_string(list_transform(keep, i -> ow[i]), ' '), '') AS text, " +
        "CAST(len(ow) AS BIGINT) AS n_tokens, CAST(len(ow) - len(keep) AS BIGINT) AS n_removed " +
        "FROM o2 ORDER BY doc_id"
    },
    "q_sem_dedup" -> {
      // SemDeDup pipeline end-to-end: Knuth-hash centroid sample,
      // argmax-cosine assignment (ties to the earliest centroid),
      // within-cluster pairing, lower-id-wins drop rule
      def dot(a: String, b: String): String =
        s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]), (acc, v) -> acc + v)"
      def cos(a: String, na: String, b: String, nb: String): String =
        s"(CASE WHEN $na * $nb = 0.0 THEN 0.0 ELSE ${dot(a, b)} / ($na * $nb) END)"
      "WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) FROM embeddings), " +
        s"emb AS (SELECT vec_id, v, sqrt(${dot("v", "v")}) AS nrm FROM e0), " +
        "cent AS (SELECT * FROM (SELECT vec_id AS cid, v AS cv, nrm AS cn, " +
        "row_number() OVER (ORDER BY ((CAST(vec_id AS HUGEINT) * 2654435761) % 4294967296 + 4294967296) % 4294967296, vec_id) AS cpos " +
        "FROM emb) WHERE cpos <= 16), " +
        "assign AS (SELECT e.vec_id, e.v, e.nrm, " +
        s"(SELECT c.cid FROM cent c ORDER BY ${cos("e.v", "e.nrm", "c.cv", "c.cn")} DESC, c.cpos LIMIT 1) AS list " +
        "FROM emb e), " +
        "dropped AS (SELECT DISTINCT b.vec_id AS did FROM assign a JOIN assign b " +
        s"ON a.list = b.list AND a.vec_id < b.vec_id AND ${cos("a.v", "a.nrm", "b.v", "b.nrm")} >= 0.8) " +
        "SELECT a.vec_id, a.list FROM assign a WHERE a.vec_id NOT IN (SELECT did FROM dropped) " +
        "ORDER BY vec_id"
    },
    "q_sim_sq_topk" -> {
      // quantize -> integer-dot shortlist -> full-precision re-rank,
      // same arithmetic order as Similarity.quantizedTopK throughout
      def dot(a: String, b: String): String =
        s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]), (acc, v) -> acc + v)"
      def cos(a: String, na: String, b: String, nb: String): String =
        s"(CASE WHEN $na * $nb = 0.0 THEN 0.0 ELSE ${dot(a, b)} / ($na * $nb) END)"
      "WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "qz AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM e0), " +
        "cz AS (SELECT vec_id, v, CASE WHEN m = 0.0 THEN list_transform(v, x -> 0) " +
        "ELSE list_transform(v, x -> CAST(floor(x / m * 127 + 0.5) AS INT)) END AS codes FROM qz), " +
        "qq AS (SELECT vec_id AS query_id, codes AS qc FROM cz WHERE vec_id < 20), " +
        "p1 AS (SELECT q.query_id, c.vec_id AS neighbor_id, " +
        "list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len(q.qc)+1), " +
        "i -> CAST(q.qc[i] AS BIGINT) * c.codes[i]), (a,b) -> a + b) AS iscore " +
        "FROM cz c, qq q WHERE c.vec_id <> q.query_id), " +
        "sl AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY iscore DESC, neighbor_id) AS r FROM p1) WHERE r <= 32), " +
        s"nr AS (SELECT vec_id, v, sqrt(${dot("v", "v")}) AS nrm FROM e0), " +
        "rr AS (SELECT s.query_id, s.neighbor_id, " +
        s"""row_number() OVER (PARTITION BY s.query_id ORDER BY ${cos("a.v", "a.nrm", "b.v", "b.nrm")} DESC, s.neighbor_id) AS "rank" """ +
        "FROM sl s JOIN nr a ON a.vec_id = s.neighbor_id JOIN nr b ON b.vec_id = s.query_id) " +
        """SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id FROM rr WHERE "rank" <= 5 """ +
        "ORDER BY query_id, \"rank\""
    },
    "q_text_bpe_merges" -> {
      // unrolled 64-round BPE via the shared CTE builder (MATERIALIZED
      // CTEs keep DuckDB from inlining the 64-deep chain); the gate
      // passes minCount = 1 so Spark's early-stop can't diverge from
      // the fixed-round twin. 64 rounds exercises the driver-side
      // trainer's flat-in-nMerges scaling; both fixtures support
      // >= 64 merges before the pair supply dries up
      val n = 64
      val union = (1 to n).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS "rank", ml AS "left", mr AS "right", CAST(cnt AS BIGINT) AS pair_count FROM t$r"""
      }.mkString(" UNION ALL ")
      bpeOracleCtes(n, carryWord = false) +
        " SELECT * FROM (" + union + ") ORDER BY \"rank\""
    },
    "q_text_bpe_encode" -> {
      // the same trainer CTEs with the word carried through (vocab
      // word -> final symbols), then a word-keyed join back to docs
      val n = 5
      bpeOracleCtes(n, carryWord = true) +
        ", toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents)" +
        ", dw AS (SELECT doc_id, w FROM toks WHERE length(w) > 0) " +
        s"SELECT doc_id, count(*) AS n_words, CAST(SUM(len(v.sym)) AS BIGINT) AS n_bpe_tokens " +
        s"FROM dw JOIN w$n v USING (w) GROUP BY doc_id ORDER BY doc_id"
    },
    "q_text_bpe_encode_dict" -> {
      // identical twin shape at the dictionary gate's 64 merges: the
      // oracle applies the merges as 64 SEQUENTIAL folds, so a green
      // hash proves the native lowest-rank-first kernel implements
      // exactly that ordering
      val n = 64
      bpeOracleCtes(n, carryWord = true) +
        ", toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents)" +
        ", dw AS (SELECT doc_id, w FROM toks WHERE length(w) > 0) " +
        s"SELECT doc_id, count(*) AS n_words, CAST(SUM(len(v.sym)) AS BIGINT) AS n_bpe_tokens " +
        s"FROM dw JOIN w$n v USING (w) GROUP BY doc_id ORDER BY doc_id"
    },
    "q_text_bpe_fertility" -> {
      // the dict-encode twin rolled up per language: same 64 trained
      // merges as sequential folds, word-keyed join, integer-ppm ratio
      val n = 64
      bpeOracleCtes(n, carryWord = true) +
        ", toks AS (SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents)" +
        ", dw AS (SELECT lang, w FROM toks WHERE length(w) > 0) " +
        s"SELECT lang, count(*) AS n_words, CAST(SUM(len(v.sym)) AS BIGINT) AS n_bpe_tokens, " +
        s"CAST(SUM(len(v.sym)) AS BIGINT) * 1000000 // count(*) AS fertility_ppm " +
        s"FROM dw JOIN w$n v USING (w) GROUP BY lang ORDER BY lang"
    },
    "q_sim_knn_label" -> {
      // exact-kNN majority vote: same cosine fold, rank tie by
      // neighbor id, vote tie by smaller label — all deterministic
      def dot(a: String, b: String): String =
        s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]), (acc, v) -> acc + v)"
      def cos(a: String, na: String, b: String, nb: String): String =
        s"(CASE WHEN $na * $nb = 0.0 THEN 0.0 ELSE ${dot(a, b)} / ($na * $nb) END)"
      "WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings), " +
        s"emb AS (SELECT vec_id, v, label, sqrt(${dot("v", "v")}) AS nrm FROM e0), " +
        "nn AS (SELECT * FROM (SELECT q.vec_id AS query_id, c.label AS lbl, " +
        s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cos("q.v", "q.nrm", "c.v", "c.nrm")} DESC, c.vec_id) AS r " +
        "FROM emb q JOIN emb c ON c.vec_id <> q.vec_id WHERE q.vec_id < 20) WHERE r <= 7), " +
        "v AS (SELECT query_id, lbl, count(*) AS votes FROM nn GROUP BY query_id, lbl) " +
        "SELECT query_id, CAST(lbl AS BIGINT) AS label, votes FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, lbl) AS rv FROM v) " +
        "WHERE rv = 1 ORDER BY query_id"
    },
    // Spark's window start is double arithmetic truncated toward zero
    // (cast int), so the twin floors explicitly (DuckDB CAST rounds);
    // byte position p in the payload = hex position 2p-1, 32 bytes =
    // 64 hex chars
    "q_mm_frames" ->
      ("SELECT doc_id, CAST(i AS INT) AS frame_idx, " +
        "substr(hex(encode(text)), CAST(floor(i * w + 1) AS INT) * 2 - 1, 64) AS frame_hex " +
        "FROM (SELECT doc_id, text, greatest(octet_length(CAST(text AS BLOB)) / 4.0, 1.0) AS w " +
        "FROM documents), unnest(range(0, 4)) AS t(i) " +
        "ORDER BY doc_id, frame_idx"),
    "q_events_props_flatten" ->
      ("SELECT event_id, event_type, CAST(props->>'k' AS BIGINT) AS k " +
        "FROM events ORDER BY event_id"),
    "q_events_props_flatten_nested" ->
      // build the identical nested JSON text, then extract through
      // DuckDB's own json path machinery — not from the generator
      // shortcut — so the nested parse itself is what's compared
      ("WITH src AS (SELECT event_id, " +
        "'{\"a\": {\"b\": ' || (event_id % 97) || ', \"c\": \"' || event_type || '\"}, \"d\": ' || (event_id % 13) || '}' AS js " +
        "FROM events) " +
        "SELECT event_id, CAST(js->'a'->>'b' AS BIGINT) AS a_b, " +
        "js->'a'->>'c' AS a_c, CAST(js->>'d' AS BIGINT) AS d " +
        "FROM src ORDER BY event_id"),
    "q_mm_resample" ->
      // the EXPECTED resample output reconstructed from the same
      // integer math: target (x,y) reads source (2x,2y) of the 6×6
      // generator; the BMP's nine output pixels are the literal pixel
      // list (rows 0,0,1 of the 3×2 image — ⌊y·2/3⌋ row picks)
      ("WITH gen AS (SELECT d AS media_id, " +
        "hex(encode('P6' || chr(10) || '3 3' || chr(10) || '255' || chr(10))) || " +
        "array_to_string(list_transform(range(0, 9), i -> " +
        "printf('%02X%02X%02X', " +
        "(d*7 + (i//3)*2*6 + (i%3)*2) % 256, " +
        "(d*11 + (i//3)*2*13 + (i%3)*2*5) % 256, " +
        "(d*3 + (i//3)*2*2 + (i%3)*2*9) % 256)), '') AS payload_hex " +
        "FROM range(0, 30) t(d)), " +
        "bmp AS (SELECT CAST(102 AS BIGINT) AS media_id, " +
        "hex(encode('P6' || chr(10) || '3 3' || chr(10) || '255' || chr(10))) || " +
        "array_to_string(list_transform(" +
        "[[10,20,30],[40,50,60],[70,80,90],[10,20,30],[40,50,60],[70,80,90]," +
        "[110,120,130],[140,150,160],[170,180,190]], " +
        "p -> printf('%02X%02X%02X', p[1], p[2], p[3])), '') AS payload_hex) " +
        "SELECT media_id, payload_hex, 'ppm' AS format, CAST(3 AS INT) AS width, CAST(3 AS INT) AS height FROM gen " +
        "UNION ALL SELECT media_id, payload_hex, 'ppm', 3, 3 FROM bmp " +
        "UNION ALL SELECT 100, hex(encode('P6' || chr(10) || '6 6' || chr(10) || '255' || chr(10))) || '00010203040506070809', " +
        "CAST(NULL AS VARCHAR), CAST(NULL AS INT), CAST(NULL AS INT) " +
        "UNION ALL SELECT 101, hex(encode('not an image')), NULL, NULL, NULL " +
        "ORDER BY media_id"),
    "q_mm_dhash" ->
      // grid gray g(x,y) = (x·fx·13 + y·fy·11 + d·3) % 256 (gray pixel
      // ⇒ luma (77+151+28)v >> 8 = v); bit b set iff g(x+1,y) > g(x,y),
      // x = b%8, y = b//8; bit 63 carries the sign of the BIGINT hash
      ("WITH d AS (SELECT range AS doc_id, 1 + range % 3 AS fx, " +
        "1 + range % 2 AS fy FROM range(500)), " +
        "g AS (SELECT doc_id, CAST(list_sum(list_transform(range(64), b -> " +
        "CASE WHEN (((b % 8) + 1) * fx * 13 + (b // 8) * fy * 11 + doc_id * 3) % 256 > " +
        "((b % 8) * fx * 13 + (b // 8) * fy * 11 + doc_id * 3) % 256 " +
        "THEN CASE WHEN b = 63 THEN -9223372036854775808 " +
        "ELSE (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) END " +
        "ELSE 0 END)) AS BIGINT) AS dhash FROM d WHERE doc_id % 5 = 0) " +
        "SELECT d.doc_id, CASE WHEN d.doc_id % 5 = 0 THEN 'ppm' END AS format, " +
        "CAST(CASE WHEN d.doc_id % 5 = 0 THEN 9 * fx END AS INTEGER) AS width, " +
        "CAST(CASE WHEN d.doc_id % 5 = 0 THEN 8 * fy END AS INTEGER) AS height, " +
        "g.dhash FROM d LEFT JOIN g ON d.doc_id = g.doc_id ORDER BY d.doc_id"),
    "q_mm_image_dedup" ->
      // full-pipeline replay: per-doc 64-bit vector (base gray ramp +
      // the odd-doc corner bump at pixel (0,0), which only ever sits
      // under bit 0's RIGHT operand of g(1,0) > g(0,0)), 4×16-bit
      // band values, banded self-join,
      // Hamming <= 3 verify — identical shape to the Spark kernel
      (dhashPairCtes +
        "p2 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM bv a JOIN bv b ON a.bd = b.bd AND a.bv = b.bv AND a.doc_id < b.doc_id) " +
        "SELECT id_a, id_b, CAST(ham AS INTEGER) AS hamming FROM " +
        "(SELECT p2.id_a, p2.id_b, list_sum(list_transform(range(64), i -> " +
        "CASE WHEN x.ba[i + 1] != y.ba[i + 1] THEN 1 ELSE 0 END)) AS ham " +
        "FROM p2 JOIN bits x ON x.doc_id = p2.id_a JOIN bits y ON y.doc_id = p2.id_b) " +
        "WHERE ham <= 3 ORDER BY id_a, id_b"),
    "q_mm_dhash_indexed" ->
      // asymmetric replay: odd-id batch vs even-id index, same band
      // join + Hamming verify as the in-memory pair gate
      (dhashPairCtes +
        "p2 AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS index_id " +
        "FROM bv a JOIN bv b ON a.bd = b.bd AND a.bv = b.bv " +
        "AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0) " +
        "SELECT batch_id, index_id, CAST(ham AS INTEGER) AS hamming FROM " +
        "(SELECT p2.batch_id, p2.index_id, list_sum(list_transform(range(64), i -> " +
        "CASE WHEN x.ba[i + 1] != y.ba[i + 1] THEN 1 ELSE 0 END)) AS ham " +
        "FROM p2 JOIN bits x ON x.doc_id = p2.batch_id JOIN bits y ON y.doc_id = p2.index_id) " +
        "WHERE ham <= 3 ORDER BY batch_id, index_id"),
    "q_mm_dhash_index_deleted" ->
      // delete == rebuild: the twin simply drops the tombstoned ids
      // from the index side of the same replay
      (dhashPairCtes +
        "p2 AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS index_id " +
        "FROM bv a JOIN bv b ON a.bd = b.bd AND a.bv = b.bv " +
        "AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND b.doc_id % 4 != 0) " +
        "SELECT batch_id, index_id, CAST(ham AS INTEGER) AS hamming FROM " +
        "(SELECT p2.batch_id, p2.index_id, list_sum(list_transform(range(64), i -> " +
        "CASE WHEN x.ba[i + 1] != y.ba[i + 1] THEN 1 ELSE 0 END)) AS ham " +
        "FROM p2 JOIN bits x ON x.doc_id = p2.batch_id JOIN bits y ON y.doc_id = p2.index_id) " +
        "WHERE ham <= 3 ORDER BY batch_id, index_id"),
    "q_mm_audio_dedup" ->
      // full-pipeline replay from the generating formula: canonical
      // samples → lag-band energies → sign bits → bands → banded
      // self-join → Hamming verify (the q_mm_image_dedup shape over
      // sound); the even/odd volume+rate twins reduce to the same
      // canonical sequence up to an exact factor of 2, so every pair
      // verifies at Hamming 0
      (audioPairCtes +
        "p2 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM bv a JOIN bv b ON a.bd = b.bd AND a.bv = b.bv AND a.doc_id < b.doc_id) " +
        "SELECT id_a, id_b, CAST(ham AS INTEGER) AS hamming FROM " +
        "(SELECT p2.id_a, p2.id_b, list_sum(list_transform(range(64), i -> " +
        "CASE WHEN x.ba[i + 1] != y.ba[i + 1] THEN 1 ELSE 0 END)) AS ham " +
        "FROM p2 JOIN bits x ON x.doc_id = p2.id_a JOIN bits y ON y.doc_id = p2.id_b) " +
        "WHERE ham <= 3 ORDER BY id_a, id_b"),
    "q_mm_audio_dedup_indexed" ->
      // asymmetric replay: odd-id batch vs even-id persisted index,
      // same band join + Hamming verify
      (audioPairCtes +
        "p2 AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS index_id " +
        "FROM bv a JOIN bv b ON a.bd = b.bd AND a.bv = b.bv " +
        "AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0) " +
        "SELECT batch_id, index_id, CAST(ham AS INTEGER) AS hamming FROM " +
        "(SELECT p2.batch_id, p2.index_id, list_sum(list_transform(range(64), i -> " +
        "CASE WHEN x.ba[i + 1] != y.ba[i + 1] THEN 1 ELSE 0 END)) AS ham " +
        "FROM p2 JOIN bits x ON x.doc_id = p2.batch_id JOIN bits y ON y.doc_id = p2.index_id) " +
        "WHERE ham <= 3 ORDER BY batch_id, index_id"),
    "q_mm_dhash_filtered" ->
      // restriction replay: the asymmetric band join with the index
      // side limited to cam='a' ids (doc_id % 3 = 0) — exactly what an
      // index rebuilt over that sub-corpus would emit
      (dhashPairCtes +
        "p2 AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS index_id " +
        "FROM bv a JOIN bv b ON a.bd = b.bd AND a.bv = b.bv " +
        "AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND b.doc_id % 3 = 0) " +
        "SELECT batch_id, index_id, CAST(ham AS INTEGER) AS hamming, 'a' AS cam FROM " +
        "(SELECT p2.batch_id, p2.index_id, list_sum(list_transform(range(64), i -> " +
        "CASE WHEN x.ba[i + 1] != y.ba[i + 1] THEN 1 ELSE 0 END)) AS ham " +
        "FROM p2 JOIN bits x ON x.doc_id = p2.batch_id JOIN bits y ON y.doc_id = p2.index_id) " +
        "WHERE ham <= 3 ORDER BY batch_id, index_id"),
    "q_mm_audio_dedup_filtered" ->
      // same restriction replay over the audio fingerprint chain
      (audioPairCtes +
        "p2 AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS index_id " +
        "FROM bv a JOIN bv b ON a.bd = b.bd AND a.bv = b.bv " +
        "AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND b.doc_id % 3 = 0) " +
        "SELECT batch_id, index_id, CAST(ham AS INTEGER) AS hamming, 'a' AS cam FROM " +
        "(SELECT p2.batch_id, p2.index_id, list_sum(list_transform(range(64), i -> " +
        "CASE WHEN x.ba[i + 1] != y.ba[i + 1] THEN 1 ELSE 0 END)) AS ham " +
        "FROM p2 JOIN bits x ON x.doc_id = p2.batch_id JOIN bits y ON y.doc_id = p2.index_id) " +
        "WHERE ham <= 3 ORDER BY batch_id, index_id"),
    // audio segment-dedup replay: planted segment windows → per-
    // segment canonical sample lists (exact halving for odd ids) →
    // slice-local lag-energy grids → adjacent-compare bits → bands →
    // struct-ordered banded join → Hamming verify
    "q_mm_audio_segment_dedup" ->
      ("WITH d0 AS (SELECT range AS doc_id FROM range(60)), " +
        "d AS (SELECT doc_id, doc_id // 2 AS base, 1 + doc_id % 2 AS dv " +
        "FROM d0 WHERE doc_id % 10 <> 9), " +
        "p AS (SELECT doc_id, base, dv, 2 + base % 3 AS g1, 25 + base % 4 AS b, " +
        "3 + base % 2 AS g2 FROM d), " +
        "sg AS (SELECT doc_id, base, dv, s.s AS seg, " +
        "CASE s.s WHEN 0 THEN 0 WHEN 1 THEN (8 + g1) * 160 ELSE (b + g2) * 160 END AS lo, " +
        "CASE s.s WHEN 0 THEN 1280 WHEN 1 THEN b * 160 ELSE 8000 END AS hi " +
        "FROM p CROSS JOIN range(0, 3) s(s)), " +
        "xs AS (SELECT doc_id, seg, hi - lo AS n, list_transform(range(lo, hi), i -> " +
        "CASE WHEN seg = 0 THEN (2 * ((i*i*11 + i*29 + 7) % 6000 - 3000)) // dv " +
        "ELSE (2 * ((i*i*13 + i*31 + base*131) % 6000 - 3000)) // dv END) AS x FROM sg), " +
        "e AS (SELECT doc_id, seg, t.ti, bi.bi, COALESCE(list_sum(list_transform(" +
        "range((t.ti*n)//8 + bi.bi + 1, ((t.ti+1)*n)//8), " +
        "j -> CAST(x[j+1] - x[j - bi.bi] AS BIGINT) * (x[j+1] - x[j - bi.bi]))), 0) AS en " +
        "FROM xs, range(0,8) t(ti), range(0,9) bi(bi)), " +
        "bits AS (SELECT a.doc_id, a.seg, list(CASE WHEN nx.en > a.en THEN 1 ELSE 0 END " +
        "ORDER BY a.ti*8 + a.bi) AS ba " +
        "FROM e a JOIN e nx ON nx.doc_id = a.doc_id AND nx.seg = a.seg " +
        "AND nx.ti = a.ti AND nx.bi = a.bi + 1 WHERE a.bi < 8 GROUP BY a.doc_id, a.seg), " +
        "bnd AS (SELECT doc_id, seg, ba, unnest([0, 1, 2, 3]) AS bd FROM bits), " +
        "bv AS (SELECT doc_id, seg, bd, CAST(list_sum(list_transform(range(16), j -> " +
        "ba[bd * 16 + j + 1] * (CAST(1 AS BIGINT) << CAST(j AS INTEGER)))) AS BIGINT) AS bv FROM bnd), " +
        "p2 AS (SELECT DISTINCT a.doc_id AS id_a, a.seg AS seg_a, " +
        "c.doc_id AS id_b, c.seg AS seg_b FROM bv a JOIN bv c " +
        "ON a.bd = c.bd AND a.bv = c.bv AND " +
        "(a.doc_id < c.doc_id OR (a.doc_id = c.doc_id AND a.seg < c.seg))), " +
        "hm AS (SELECT p2.id_a, p2.seg_a, p2.id_b, p2.seg_b, " +
        "list_sum(list_transform(range(64), i -> " +
        "CASE WHEN x.ba[i + 1] != y.ba[i + 1] THEN 1 ELSE 0 END)) AS hm " +
        "FROM p2 JOIN bits x ON x.doc_id = p2.id_a AND x.seg = p2.seg_a " +
        "JOIN bits y ON y.doc_id = p2.id_b AND y.seg = p2.seg_b) " +
        "SELECT id_a, CAST(seg_a AS INTEGER) AS seg_a, id_b, " +
        "CAST(seg_b AS INTEGER) AS seg_b, CAST(hm AS INTEGER) AS hamming " +
        "FROM hm WHERE hm <= 3 ORDER BY id_a, seg_a, id_b, seg_b"),
    // audio-segmentation replay: per-sample formula (planted silent
    // windows exact zero), window energies, integer mean, the
    // strict-inequality relative threshold, gaps-and-islands runs;
    // all-silent docs (mean 0) and non-audio ids fall out naturally
    "q_mm_audio_segments" ->
      ("WITH d0 AS (SELECT range AS doc_id FROM range(240)), " +
        "d AS (SELECT doc_id, 8 + doc_id % 5 AS a, 2 + doc_id % 3 AS g1, " +
        "25 + doc_id % 4 AS b, 3 + doc_id % 2 AS g2 FROM d0 WHERE doc_id % 10 <> 9), " +
        "sm AS (SELECT d.doc_id, i.i // 160 AS w, " +
        "CASE WHEN d.doc_id % 7 = 3 OR (i.i // 160 >= a AND i.i // 160 < a + g1) " +
        "OR (i.i // 160 >= b AND i.i // 160 < b + g2) THEN 0 " +
        "ELSE 2 * (((i.i * i.i * 13 + i.i * 31 + d.doc_id * 131) % 6000) - 3000) END AS v " +
        "FROM d CROSS JOIN range(0, 8000) i(i)), " +
        "en AS (SELECT doc_id, w, SUM(v * v) AS e FROM sm GROUP BY doc_id, w), " +
        "mn AS (SELECT doc_id, SUM(e) // 50 AS mean FROM en GROUP BY doc_id), " +
        "vw AS (SELECT en.doc_id, en.w FROM en JOIN mn USING (doc_id) " +
        "WHERE en.e * 1000 > 100 * mn.mean), " +
        "isl AS (SELECT doc_id, w, w - row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY w) AS grp FROM vw), " +
        "seg AS (SELECT doc_id, grp, min(w) AS w0, count(*) AS nw " +
        "FROM isl GROUP BY doc_id, grp) " +
        "SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY w0) - 1 " +
        "AS INTEGER) AS segment, CAST(w0 * 160 AS INTEGER) AS start_frame, " +
        "CAST(nw AS INTEGER) AS n_windows, CAST(nw * 160 AS INTEGER) AS n_frames " +
        "FROM seg ORDER BY doc_id, segment"),
    // shot-dedup replay: avalanche pixel hash → per-frame bits →
    // per-shot (t div 3 — boundaries verified 22+ bits over the cut
    // threshold) strict majority → 4×16-bit bands → banded join over
    // (video, shot) entities → Hamming verify; the drift terms cancel
    // inside a shot, the odd-id bump moves at most fingerprint bit 0
    "q_mm_video_shot_dedup" ->
      ("WITH d0 AS (SELECT range AS doc_id FROM range(40)), " +
        "d AS (SELECT doc_id, doc_id // 2 AS base, doc_id % 2 AS odd " +
        "FROM d0 WHERE doc_id % 10 <> 9), " +
        "ks AS (SELECT DISTINCT CASE WHEN s.s = 0 THEN 9999 " +
        "ELSE 1 + base * 2 + (s.s - 1) END AS key FROM d CROSS JOIN range(0, 3) s(s)), " +
        "px0 AS (SELECT key, x, y, (m * 2654435761) % 4294967296 AS h1 FROM " +
        "(SELECT ks.key AS key, x.x AS x, y.y AS y, ks.key * 4096 + x.x * 64 + y.y AS m " +
        "FROM ks CROSS JOIN range(0, 9) x(x) CROSS JOIN range(0, 8) y(y))), " +
        "px AS (SELECT key, x, y, " +
        "((xor(h1, h1 // 65536) * 40503) % 4294967296) // 32768 % 128 AS p FROM px0), " +
        "fr AS (SELECT d.doc_id, d.odd, t.t AS t, CASE WHEN t.t < 3 THEN 9999 " +
        "ELSE 1 + d.base * 2 + (t.t // 3 - 1) END AS key FROM d CROSS JOIN range(0, 9) t(t)), " +
        "fb AS (SELECT fr.doc_id, fr.t, b.b AS b, CASE WHEN " +
        "pr.p + (CASE WHEN b.b // 8 = 0 THEN 0 ELSE fr.t * 11 END) > " +
        "pl.p + (CASE WHEN b.b // 8 = 0 THEN 0 ELSE fr.t * 11 END) + " +
        "(CASE WHEN b.b = 0 AND fr.odd = 1 AND fr.t % 2 = 1 THEN 40 ELSE 0 END) " +
        "THEN 1 ELSE 0 END AS bit " +
        "FROM fr CROSS JOIN range(0, 64) b(b) " +
        "JOIN px pr ON pr.key = fr.key AND pr.x = b.b % 8 + 1 AND pr.y = b.b // 8 " +
        "JOIN px pl ON pl.key = fr.key AND pl.x = b.b % 8 AND pl.y = b.b // 8), " +
        "mj AS (SELECT doc_id, t // 3 AS shot, b, CASE WHEN 2 * sum(bit) > count(*) " +
        "THEN 1 ELSE 0 END AS mb FROM fb GROUP BY doc_id, t // 3, b), " +
        "bits AS (SELECT doc_id, shot, list(mb ORDER BY b) AS ba FROM mj GROUP BY doc_id, shot), " +
        "bnd AS (SELECT doc_id, shot, ba, unnest([0, 1, 2, 3]) AS bd FROM bits), " +
        "bv AS (SELECT doc_id, shot, bd, CAST(list_sum(list_transform(range(16), j -> " +
        "ba[bd * 16 + j + 1] * (CAST(1 AS BIGINT) << CAST(j AS INTEGER)))) AS BIGINT) AS bv FROM bnd), " +
        "p2 AS (SELECT DISTINCT a.doc_id AS id_a, a.shot AS shot_a, " +
        "c.doc_id AS id_b, c.shot AS shot_b FROM bv a JOIN bv c " +
        "ON a.bd = c.bd AND a.bv = c.bv AND " +
        "(a.doc_id < c.doc_id OR (a.doc_id = c.doc_id AND a.shot < c.shot))), " +
        "hm AS (SELECT p2.id_a, p2.shot_a, p2.id_b, p2.shot_b, " +
        "list_sum(list_transform(range(64), i -> " +
        "CASE WHEN x.ba[i + 1] != y.ba[i + 1] THEN 1 ELSE 0 END)) AS hm " +
        "FROM p2 JOIN bits x ON x.doc_id = p2.id_a AND x.shot = p2.shot_a " +
        "JOIN bits y ON y.doc_id = p2.id_b AND y.shot = p2.shot_b) " +
        "SELECT id_a, CAST(shot_a AS INTEGER) AS shot_a, id_b, " +
        "CAST(shot_b AS INTEGER) AS shot_b, CAST(hm AS INTEGER) AS hamming " +
        "FROM hm WHERE hm <= 3 ORDER BY id_a, shot_a, id_b, shot_b"),
    // shot-segmentation replay from the generating formula: per-frame
    // dHash bits (garbage frame t=4 of d%4==2 docs excluded, like the
    // failed raster decode drops it), lag over the DECODED sequence,
    // cut where Hamming > 8, shot = running cut count, then per-shot
    // (min frame, count); the odd-frame (0,0) bump moves ≤ 1 bit so
    // it never opens a false cut
    "q_mm_video_scenes" ->
      (videoSceneCtes +
        "SELECT doc_id, CAST(shot AS INTEGER) AS shot, " +
        "CAST(min(t) AS INTEGER) AS start_frame_no, CAST(count(*) AS INTEGER) AS n_frames " +
        "FROM sh GROUP BY doc_id, shot ORDER BY doc_id, shot"),
    // keyframe replay: within each replayed shot, the MIDDLE decoded
    // member (offset n div 2 in movi order) is the keyframe
    "q_mm_video_keyframes" ->
      (videoSceneCtes +
        ", mem AS (SELECT doc_id, shot, t, row_number() OVER " +
        "(PARTITION BY doc_id, shot ORDER BY t) - 1 AS o, " +
        "count(*) OVER (PARTITION BY doc_id, shot) AS n FROM sh) " +
        "SELECT doc_id, CAST(shot AS INTEGER) AS shot, " +
        "CAST(t AS INTEGER) AS frame_no, CAST(n AS INTEGER) AS n_frames " +
        "FROM mem WHERE o = n // 2 ORDER BY doc_id, shot"),
    "q_mm_video_dedup" ->
      // full-pipeline replay from the generating formula: per-frame
      // dHash bit vectors → per-bit strict majority → bands → banded
      // self-join → Hamming verify (the q_mm_audio_dedup shape over
      // moving pictures); the odd id's minority-frame corner bumps
      // are absorbed by the majority, so every pair lands at Hamming 0
      (videoPairCtes +
        "p2 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM bv a JOIN bv b ON a.bd = b.bd AND a.bv = b.bv AND a.doc_id < b.doc_id) " +
        "SELECT id_a, id_b, CAST(ham AS INTEGER) AS hamming FROM " +
        "(SELECT p2.id_a, p2.id_b, list_sum(list_transform(range(64), i -> " +
        "CASE WHEN x.ba[i + 1] != y.ba[i + 1] THEN 1 ELSE 0 END)) AS ham " +
        "FROM p2 JOIN bits x ON x.doc_id = p2.id_a JOIN bits y ON y.doc_id = p2.id_b) " +
        "WHERE ham <= 3 ORDER BY id_a, id_b"),
    "q_mm_video_dedup_indexed" ->
      // asymmetric replay: odd-id batch vs even-id persisted index,
      // same band join + Hamming verify
      (videoPairCtes +
        "p2 AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS index_id " +
        "FROM bv a JOIN bv b ON a.bd = b.bd AND a.bv = b.bv " +
        "AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0) " +
        "SELECT batch_id, index_id, CAST(ham AS INTEGER) AS hamming FROM " +
        "(SELECT p2.batch_id, p2.index_id, list_sum(list_transform(range(64), i -> " +
        "CASE WHEN x.ba[i + 1] != y.ba[i + 1] THEN 1 ELSE 0 END)) AS ham " +
        "FROM p2 JOIN bits x ON x.doc_id = p2.batch_id JOIN bits y ON y.doc_id = p2.index_id) " +
        "WHERE ham <= 3 ORDER BY batch_id, index_id"),
    "q_mm_video_dedup_filtered" ->
      // restriction replay: the asymmetric band join with the index
      // side limited to cam='a' ids (doc_id % 3 = 0)
      (videoPairCtes +
        "p2 AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS index_id " +
        "FROM bv a JOIN bv b ON a.bd = b.bd AND a.bv = b.bv " +
        "AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND b.doc_id % 3 = 0) " +
        "SELECT batch_id, index_id, CAST(ham AS INTEGER) AS hamming, 'a' AS cam FROM " +
        "(SELECT p2.batch_id, p2.index_id, list_sum(list_transform(range(64), i -> " +
        "CASE WHEN x.ba[i + 1] != y.ba[i + 1] THEN 1 ELSE 0 END)) AS ham " +
        "FROM p2 JOIN bits x ON x.doc_id = p2.batch_id JOIN bits y ON y.doc_id = p2.index_id) " +
        "WHERE ham <= 3 ORDER BY batch_id, index_id"),
    "q_corpus_domain_cap" ->
      ("SELECT doc_id, source FROM (SELECT doc_id, source, " +
        "row_number() OVER (PARTITION BY source ORDER BY " +
        "((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 + 4294967296) % 4294967296, doc_id) AS r " +
        "FROM documents) WHERE r <= 15 ORDER BY doc_id"),
    "q_corpus_temperature" ->
      // √(c_min/c_g) micro-unit rate + the exact-integer hash lottery,
      // all correctly-rounded IEEE ops — same clamp as probabilitySample
      ("WITH c AS (SELECT lang, COUNT(*) AS cg FROM documents GROUP BY lang), " +
        "m AS (SELECT MIN(cg) AS cmin FROM c), " +
        "r AS (SELECT lang, CAST(FLOOR(SQRT(CAST(cmin AS DOUBLE) / CAST(cg AS DOUBLE)) * 1000000.0) AS BIGINT) AS ppm FROM c, m) " +
        // null-safe rate join: a NULL stratum is a stratum (it rightly
        // sets c_min when smallest) — parity with the Spark side's <=>
        "SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang " +
        "WHERE (CAST(d.doc_id AS HUGEINT) * 2654435761) % 4294967296 * 1000000 < " +
        "LEAST(GREATEST(ppm, 0), 1000000) * 4294967296 " +
        "ORDER BY doc_id"),
    "q_sim_ivf_sq_topk" ->
      (ivfSqOracleCtes +
        """ SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id FROM rr WHERE "rank" <= 5 """ +
        "ORDER BY query_id, \"rank\""),
    "q_sim_hashed_ann" ->
      // the shared IVF-SQ replay chain over hash-derived vectors
      (ivfSqOracleCtesFrom(hashedVecE0Ctes) +
        """ SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id FROM rr WHERE "rank" <= 5 """ +
        "ORDER BY query_id, \"rank\""),
    "q_sim_ann_filtered" ->
      // the shared replay chain with the label predicate applied to
      // phase-1 candidates — qualifying sub-corpus, full-corpus quantizer
      (ivfSqOracleCtesFrom(
        "e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        " AND (SELECT e2.label FROM embeddings e2 WHERE e2.vec_id = c.vec_id) = 2") +
        """ SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id FROM rr WHERE "rank" <= 5 """ +
        "ORDER BY query_id, \"rank\""),
    "q_sim_ann_deleted" ->
      // the shared replay chain with the tombstoned ids dropped from
      // phase-1 candidates — full-corpus quantizer, deleted vectors
      // unreachable (the delete == rebuild contract)
      (ivfSqOracleCtesFrom(
        "e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        " AND c.vec_id % 3 <> 0") +
        """ SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id FROM rr WHERE "rank" <= 5 """ +
        "ORDER BY query_id, \"rank\""),
    "q_sim_knn_label_ivf" ->
      // the same IVF-SQ chain, k = 7 neighbors, then the knn vote tail
      // (votes DESC, smaller label) — identical to q_sim_knn_label's
      // vote over the exact neighbor set
      (ivfSqOracleCtes +
        """, nn AS (SELECT query_id, neighbor_id FROM rr WHERE "rank" <= 7), """ +
        "v AS (SELECT nn.query_id, e.label AS lbl, count(*) AS votes " +
        "FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id " +
        "WHERE e.label IS NOT NULL GROUP BY nn.query_id, e.label) " +
        "SELECT query_id, CAST(lbl AS BIGINT) AS label, votes FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, lbl) AS rv FROM v) " +
        "WHERE rv = 1 ORDER BY query_id"),
    "q_text_pmi" -> {
      // same association order as the Spark side: ((c_ab*N1)*N1) /
      // ((N2*c_a)*c_b), one division, one ln, one micro-unit quantize
      "WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "t2 AS (SELECT unnest(w) AS term FROM tk), " +
        "t3 AS (SELECT term FROM t2 WHERE length(term) > 0), " +
        "n1t AS (SELECT count(*) AS n1 FROM t3), " +
        "ug AS (SELECT term, count(*) AS c FROM t3 GROUP BY term), " +
        "bgl AS (SELECT unnest(list_transform(range(1, len(w)), i -> {'w1': w[i], 'w2': w[i+1]})) AS u FROM tk), " +
        "bg AS (SELECT u.w1 AS w1, u.w2 AS w2 FROM bgl), " +
        "n2t AS (SELECT count(*) AS n2 FROM bg), " +
        "bgc AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY w1, w2 HAVING count(*) >= 5) " +
        "SELECT w1, w2, c_ab, a.c AS c_a, b.c AS c_b, " +
        "CAST(floor(ln((CAST(c_ab AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)) / " +
        "(CAST(n2 AS DOUBLE) * CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS pmi_fx " +
        "FROM bgc JOIN ug a ON a.term = w1 JOIN ug b ON b.term = w2 CROSS JOIN n1t CROSS JOIN n2t " +
        "ORDER BY pmi_fx DESC, w1, w2 LIMIT 20"
    },
    "q_corpus_vocab" -> {
      // coverage in exact integer ppm: cum_cnt*10^6 // N, no floats
      "WITH tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token FROM documents), " +
        "c AS (SELECT token, count(*) AS cnt FROM tk WHERE length(token) > 0 GROUP BY token), " +
        "n AS (SELECT sum(cnt) AS n_total FROM c), " +
        "top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 100), " +
        """r AS (SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS "rank", """ +
        "sum(cnt) OVER (ORDER BY cnt DESC, token ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt FROM top) " +
        """SELECT CAST("rank" AS BIGINT) AS "rank", token, CAST(cnt AS BIGINT) AS cnt, """ +
        "CAST(cum_cnt AS BIGINT) AS cum_cnt, CAST((cum_cnt * 1000000) // n_total AS BIGINT) AS cum_ppm " +
        """FROM r CROSS JOIN n ORDER BY "rank""""
    },
    "q_profile_columns" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map { c =>
        s"SELECT '$c' AS column_name, count(*) AS n_rows, " +
          s"count(*) - count($c) AS n_nulls, " +
          s"count(DISTINCT $c) AS n_distinct FROM orders"
      }.mkString("", " UNION ALL ", " ORDER BY column_name")
    },
    "q_profile_diff" -> {
      val srcCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val destCols = srcCols.filterNot(_ == "o_orderstatus")
      def prof(cols: Seq[String], from: String) = cols.map { c =>
        s"SELECT '$c' AS column_name, count(*) AS n_rows, " +
          s"count(*) - count($c) AS n_nulls, " +
          s"count(DISTINCT $c) AS n_distinct FROM $from"
      }.mkString(" UNION ALL ")
      "WITH dest AS (SELECT o_orderkey, o_custkey, " +
        "CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE 'X' END AS o_orderpriority, " +
        "o_totalprice, o_orderdate FROM orders), " +
        s"sp AS (${prof(srcCols, "orders")}), " +
        s"dp AS (${prof(destCols, "dest")}) " +
        "SELECT column_name, " +
        "sp.n_rows AS src_rows, sp.n_nulls AS src_nulls, sp.n_distinct AS src_distinct, " +
        "dp.n_rows AS dest_rows, dp.n_nulls AS dest_nulls, dp.n_distinct AS dest_distinct, " +
        "CASE WHEN sp.n_rows = dp.n_rows AND sp.n_nulls = dp.n_nulls " +
        "AND sp.n_distinct = dp.n_distinct THEN 'YES' ELSE 'NO' END AS is_ok " +
        "FROM sp FULL OUTER JOIN dp USING (column_name) ORDER BY column_name"
    },
    "q_verify_checksum" -> {
      // the destination-engine recomputation of portableChecksum: the
      // double-reduced Knuth mix keeps every product inside BIGINT; the
      // string fold runs over hex(utf8_bytes) — pure ASCII, so unicode()
      // per hex char equals Spark's ascii() and the fold is byte-exact
      // for non-ASCII text (the planted o_uni column proves it)
      def mix(v: String) =
        s"(((($v) % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296"
      def krHex(h: String) =
        s"(SELECT CASE WHEN length(h) = 0 THEN 0 ELSE " +
          s"list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, length(h)+1), " +
          s"i -> CAST(unicode(h[i:i]) AS BIGINT)), (a,b) -> (a*31+b) % 1000000007) END " +
          s"FROM (SELECT $h AS h))"
      def kr(c: String) = krHex(s"hex(encode($c))")
      def sums(c: String, v: String) =
        s"CAST(SUM(CASE WHEN $c IS NULL THEN 0 ELSE ${mix(v)} END) AS BIGINT) AS ${c}__sum, " +
          s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}__nulls"
      "WITH src AS (SELECT *, CASE WHEN o_orderkey % 7 = 0 THEN '' " +
        "ELSE o_orderpriority || ' — café 𝄞' END AS o_uni, " +
        // signed decimal in exact arithmetic (bigint × decimal literal),
        // NULL stripe every 11th key; unscaled units are o_dec·10³
        "CASE WHEN o_orderkey % 11 = 0 THEN NULL " +
        "ELSE CAST((o_orderkey % 97) * 1.001 - 50.5 AS DECIMAL(18,3)) END AS o_dec, " +
        "CASE WHEN o_orderkey % 13 = 0 THEN NULL " +
        "ELSE encode(CASE WHEN o_orderkey % 7 = 0 THEN '' " +
        "ELSE o_orderpriority || ' — café 𝄞' END) END AS o_bin FROM orders) " +
        """SELECT count(*) AS "rows", """ +
        sums("o_orderkey", "o_orderkey") + ", " +
        sums("o_custkey", "o_custkey") + ", " +
        sums("o_orderstatus", kr("o_orderstatus")) + ", " +
        sums("o_totalprice", "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)") + ", " +
        sums("o_orderdate", "epoch_us(o_orderdate)") + ", " +
        sums("o_orderpriority", kr("o_orderpriority")) + ", " +
        sums("o_uni", kr("o_uni")) + ", " +
        sums("o_dec", "CAST(o_dec * 1000 AS BIGINT)") + ", " +
        sums("o_bin", krHex("hex(o_bin)")) +
        " FROM src"
    },
    "q_dedup_incremental" -> minhashIncrementalOracleSql,
    // identical contract to q_dedup_incremental: querying the
    // materialized signature index must reproduce the in-memory
    // batch-vs-history result exactly
    "q_dedup_incremental_indexed" -> minhashIncrementalOracleSql,
    // the normalized-index gate: same incremental replay, text source
    // = nfc_normalize(parity-picked composed/decomposed marker || text)
    // — after NFC both parities carry the identical prefix, so the
    // planted near-dup pairs survive with their exact signature values
    "q_dedup_incremental_normalized" -> minhashIncrementalOracle("",
      minhashSigCtesFrom(
        "nfc_normalize(CASE WHEN doc_id % 2 = 0 THEN 'caf' || chr(233) " +
          "ELSE 'cafe' || chr(769) END || ' nrm ' || text)")),
    "q_dedup_deleted_index" ->
      // the shared incremental replay with the tombstoned ids dropped
      // from the INDEX side — a deleted doc must stop colliding
      minhashIncrementalOracle(" AND b.doc_id % 4 <> 0"),
    "q_dedup_filtered" ->
      // restriction oracle: the shared incremental replay with the
      // index side filtered to lang = 'en' — identical to a brute
      // batch-vs-subcorpus pass over just the English history
      (s"$minhashSigCtes " +
        s"SELECT a.doc_id AS batch_id, b.doc_id AS index_id, " +
        s"CAST($minhashMatchSum AS DOUBLE)/8 AS minhash_est, d.lang AS lang " +
        "FROM sig a JOIN sig b ON a.sig_0 = b.sig_0 " +
        "JOIN documents d ON d.doc_id = b.doc_id " +
        "WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND d.lang = 'en' " +
        s"AND CAST($minhashMatchSum AS DOUBLE)/8 >= 0.5 " +
        "ORDER BY batch_id, index_id"),
    "q_dedup_minhash_portable" -> {
      val k = 8
      val sigs = (0 until k).map(j =>
        s"MIN((${2 * j + 3}*hv+${97 * j + 1})%1000000007) AS sig_$j").mkString(", ")
      val matchSum = (1 until k).map(j =>
        s"CASE WHEN a.sig_$j = b.sig_$j THEN 1 ELSE 0 END").mkString("1 + ", " + ", "")
      "WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "sh AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')] " +
        "ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END AS s FROM toks), " +
        "e AS (SELECT doc_id, unnest(s) AS sg FROM sh), " +
        "hv AS (SELECT doc_id, list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) AS hv " +
        "FROM (SELECT doc_id, regexp_replace(lower(sg), '[^a-z0-9 ]', '', 'g') AS t FROM e)), " +
        s"sig AS (SELECT doc_id, $sigs FROM hv GROUP BY doc_id) " +
        s"SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST($matchSum AS DOUBLE)/8 AS minhash_est " +
        "FROM sig a JOIN sig b ON a.sig_0 = b.sig_0 AND a.doc_id < b.doc_id " +
        s"WHERE CAST($matchSum AS DOUBLE)/8 >= 0.5 " +
        "ORDER BY id_a, id_b"
    },
    "q_tpch_q1" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price, " +
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price, " +
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_price, " +
        "CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc, " +
        "count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q_tpch_q3" ->
      ("SELECT l_orderkey, " +
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue, " +
        "o_orderdate " +
        "FROM customer, orders, lineitem " +
        "WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY l_orderkey, o_orderdate " +
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"),
    "q_tpch_q5" ->
      ("SELECT n_name, " +
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue " +
        "FROM customer, orders, lineitem, supplier, nation, region " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey " +
        "AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
        "AND r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name"),
    "q_tpch_q16" ->
      ("SELECT p_brand, p_type, count(DISTINCT p_size) AS size_cnt, count(*) AS n_parts " +
        "FROM part GROUP BY p_brand, p_type ORDER BY p_brand, p_type"),
    "q_tpch_q18" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice, total_qty FROM orders JOIN " +
        "(SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty " +
        "FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150) ON o_orderkey = l_orderkey " +
        "ORDER BY o_orderkey"),
    "q_tpch_q4" ->
      ("SELECT o_orderpriority, count(*) AS order_count FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_a_cube" ->
      ("SELECT COALESCE(l_returnflag, 'ALL') AS returnflag, COALESCE(l_linestatus, 'ALL') AS linestatus, " +
        "count(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY returnflag, linestatus"),
    "q_tpch_q6" ->
      ("SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"),
    "q_tpch_q14" ->
      ("SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' " +
        "THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) " +
        "ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) / " +
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue " +
        "FROM lineitem, part WHERE l_partkey = p_partkey " +
        "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'"),
    "q_j6_row_diff" ->
      ("WITH dest AS (" +
        "SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 97 <> 0 " +
        "UNION ALL SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority " +
        "FROM orders WHERE o_orderkey % 103 = 0), " +
        "j AS (SELECT COALESCE(s.o_orderkey, d.o_orderkey) AS o_orderkey, " +
        "CASE WHEN d.o_orderkey IS NULL THEN 'missing_in_dest' " +
        "WHEN s.o_orderkey IS NULL THEN 'missing_in_src' " +
        "WHEN s.o_custkey IS DISTINCT FROM d.o_custkey OR s.o_orderstatus IS DISTINCT FROM d.o_orderstatus " +
        "OR s.o_totalprice IS DISTINCT FROM d.o_totalprice OR s.o_orderdate IS DISTINCT FROM d.o_orderdate " +
        "OR s.o_orderpriority IS DISTINCT FROM d.o_orderpriority THEN 'value_mismatch' END AS diff_status " +
        "FROM orders s FULL OUTER JOIN dest d ON s.o_orderkey = d.o_orderkey) " +
        "SELECT o_orderkey, diff_status FROM j WHERE diff_status IS NOT NULL " +
        "ORDER BY o_orderkey, diff_status"),
    "q_text_gopher" ->
      ("WITH t AS (SELECT doc_id, text, " +
        "string_split_regex(lower(trim(text)), '\\s+') AS ltoks, " +
        "string_split_regex(trim(text), '\\s+') AS toks, " +
        "list_filter(string_split(text, chr(10)), x -> x <> '') AS lines " +
        "FROM documents) " +
        "SELECT doc_id, " +
        "CASE WHEN len(ltoks) > 0 THEN 1.0 - CAST(len(list_distinct(ltoks)) AS DOUBLE) / len(ltoks) ELSE 0.0 END AS word_rep, " +
        "CASE WHEN len(lines) > 0 THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines) ELSE 0.0 END AS line_rep, " +
        "CASE WHEN len(toks) > 0 THEN ((length(text) - length(replace(text, '#', ''))) + " +
        "CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3) / len(toks) ELSE 0.0 END AS symbol_ratio, " +
        "CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS digit_ratio " +
        "FROM t ORDER BY doc_id"),
    "q_corpus_sample" ->
      ("SELECT doc_id, lang FROM documents " +
        "WHERE (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 < " +
        "CAST(4294967296 * (CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'de' THEN 1.0 ELSE 0.25 END) AS BIGINT) " +
        "ORDER BY doc_id"),
    "q_corpus_pack" ->
      ("WITH w AS (SELECT doc_id, lang, n_chars, " +
        "CAST(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens " +
        "FROM documents) " +
        "SELECT doc_id, lang, n_chars, cum_tokens, " +
        "CAST((cum_tokens - n_chars) // 2048 AS BIGINT) AS pack_id " +
        "FROM w ORDER BY doc_id"),
    "q_corpus_mix" ->
      ("WITH r AS (SELECT doc_id, source, " +
        "row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM documents " +
        "WHERE source IN ('src0','src1','src2')) " +
        "SELECT doc_id, source, CAST(rn AS DOUBLE) / " +
        "(CASE WHEN source = 'src0' THEN 1.0 WHEN source = 'src1' THEN 0.5 ELSE 0.25 END) AS mix_pos " +
        "FROM r ORDER BY mix_pos, source, doc_id"),
    "q_corpus_redact" ->
      ("SELECT doc_id, " +
        "regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g'), " +
        "'\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g') AS redacted " +
        "FROM documents ORDER BY doc_id"),
    "q_corpus_prepare" -> {
      val sw = TextAnalysis.EN_STOPWORDS.map(s => s"'$s'").mkString(", ")
      "WITH t AS (SELECT doc_id, lang, text, string_split_regex(trim(text), '\\s+') AS toks, " +
        "string_split_regex(lower(trim(text)), '\\s+') AS ltoks FROM documents), " +
        "m AS (SELECT doc_id, lang, text, len(toks) AS n_tokens, " +
        "LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score, " +
        "CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS pr, " +
        s"CASE WHEN len(ltoks) > 0 THEN CAST(len(list_filter(ltoks, x -> x IN ($sw))) AS DOUBLE) / len(ltoks) ELSE 0.0 END AS swr, " +
        "CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS mtl, " +
        "CASE WHEN len(ltoks) > 0 THEN 1.0 - CAST(len(list_distinct(ltoks)) AS DOUBLE) / len(ltoks) ELSE 0.0 END AS wr " +
        "FROM t), " +
        "q AS (SELECT doc_id, lang, text, n_tokens, " +
        "FLOOR((len_score + (1.0 - LEAST(pr * 5.0, 1.0)) + (1.0 - LEAST(abs(swr - 0.4) * 2.5, 1.0)) + (1.0 - LEAST(abs(mtl - 5.0) / 5.0, 1.0))) / 4.0 * 1000000 + 0.5) / 1000000.0 AS quality, wr FROM m), " +
        "f AS (SELECT * FROM q WHERE quality >= 0.3 AND wr <= 0.3), " +
        "d AS (SELECT * FROM f WHERE doc_id IN (SELECT MIN(doc_id) FROM f GROUP BY regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))), " +
        "s AS (SELECT * FROM d WHERE (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 < 2147483648), " +
        "w AS (SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM s) " +
        "SELECT doc_id, lang, n_tokens, cum_tokens, " +
        "CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS pack_id " +
        "FROM w ORDER BY doc_id"
    },
    "q_corpus_c4_filter" ->
      // identical construction (same CRLF plants), identical
      // line-shape rules: split on \r?\n, >= 3 whitespace tokens AND a
      // terminal-punctuation tail, survivors rejoined in order
      ("WITH c AS (SELECT doc_id, text || '.' || chr(10) || 'Click here' || chr(10) || " +
        "'Accept all cookies now' || chr(13) || chr(10) || " +
        "CASE WHEN doc_id % 2 = 0 THEN 'A proper sentence stays here.' " +
        "ELSE 'short.' END || chr(13) || chr(10) || 'Menu' || chr(10) || " +
        "'Ends with a question mark?' AS text FROM documents), " +
        "f AS (SELECT doc_id, text, list_filter(string_split_regex(text, '\\r?\\n'), l -> " +
        "len(list_filter(string_split_regex(trim(l), '[ \\t]+'), t -> length(t) > 0)) >= 3 " +
        "AND regexp_matches(trim(l), '[.!?\"]$')) AS kept FROM c) " +
        "SELECT doc_id, array_to_string(kept, chr(10)) AS kept, " +
        "CASE WHEN length(text) > 0 THEN CAST(len(string_split_regex(text, '\\r?\\n')) AS BIGINT) " +
        "ELSE 0 END AS lines_in, " +
        "CASE WHEN length(text) > 0 THEN CAST(len(kept) AS BIGINT) ELSE 0 END AS lines_kept " +
        "FROM f ORDER BY doc_id"),
    "q_corpus_nfc" ->
      // same planted decomposed prefix built from chr() codepoints
      // (769=U+0301 combining acute, 64257=U+FB01 ﬁ, 778=U+030A ring,
      // 776=U+0308 diaeresis); DuckDB's nfc_normalize is the oracle
      // for the engine's canonical-composition arm, and both sides
      // count codepoints for the shrink proof
      ("WITH c AS (SELECT doc_id, 'Cafe' || chr(769) || ' ' || chr(64257) || " +
        "'n A' || chr(778) || 'ngstro' || chr(776) || 'm: ' || text AS text " +
        "FROM documents) " +
        "SELECT doc_id, nfc_normalize(text) AS nfc_text, " +
        "CAST(length(nfc_normalize(text)) AS BIGINT) AS nfc_len, " +
        "CAST(length(text) AS BIGINT) AS raw_len " +
        "FROM c ORDER BY doc_id"),
    "q_corpus_nfc_fingerprint" ->
      // nfc_normalize FIRST (the composed é leaves the kept alphabet),
      // then the identical rolling-hash kernel as q_text_fingerprint —
      // the twin diverges on every row if the engine skips the
      // normalization stage
      ("WITH c AS (SELECT doc_id, nfc_normalize('Cafe' || chr(769) || " +
        "' nfc pins this ' || text) AS text FROM documents), " +
        "n AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t FROM c) " +
        "SELECT doc_id, " +
        "list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) AS fp " +
        "FROM n ORDER BY doc_id"),
    "q_corpus_confusable_fold" ->
      // identical planted prefix; the twin IS the table — translate
      // over the lowercased text with the 59 post-fold homoglyph
      // mappings (19 Cyrillic + 14 Greek + 4 Armenian + 19 Cherokee +
      // 3 digit lookalikes), 1:1 so codepoint counts are preserved on
      // both sides (DuckDB's lower() agrees with Java on the Cherokee
      // U+13A0-block -> U+AB70-block case mapping, spec-pinned)
      ("WITH c AS (SELECT doc_id, 'аеорсухѕіјһԁԛԝ вкмнт ВКМНТ АЕОРСУХЅІЈ " +
        "αβεζηικμνορτυχ ΑΒΕΖΗΙΚΜΝΟΡΤΥΧ " +
        "հոսօ ՀՈՍՕ ꭰꭱꭲꭺꭻꭼꮃꮇꮋꮍꮐꮓꮩꮪꮮꮯꮲꮶᏼ ᎠᎡᎢᎪᎫᎬᎳᎷᎻᎽᏀᏃᏙᏚᏞᏟᏢᏦᏴ зчб ЗЧБ" +
        " Mixed CASE ' || text AS text FROM documents), " +
        "f AS (SELECT doc_id, translate(lower(text), " +
        "'аеорсухѕіјһԁԛԝвкмнтαβεζηικμνορτυχհոսօꭰꭱꭲꭺꭻꭼꮃꮇꮋꮍꮐꮓꮩꮪꮮꮯꮲꮶᏼзчб', " +
        "'aeopcyxsijhdqwbkmhtabezhikmvoptyx" + "hnuodrtajewmhygzvslcpkb346') AS folded, text FROM c) " +
        "SELECT doc_id, folded, CAST(length(folded) AS BIGINT) AS folded_len, " +
        "CAST(length(text) AS BIGINT) AS raw_len FROM f ORDER BY doc_id"),
    "q_corpus_confusable_dedup" ->
      // same twins (a/e/o → Cyrillic а/е/о), same fold (the translate
      // twin above), keep-first over the whitespace-normalized folded
      // key (Dedup.exact's token-join identity), then the identical
      // rolling-hash kernel as q_corpus_nfc_fingerprint over survivors
      ("WITH a AS (SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT doc_id + 1000000 AS doc_id, translate(text, 'aeo', 'аео') AS text " +
        "FROM documents), " +
        "f AS (SELECT doc_id, translate(lower(text), " +
        "'аеорсухѕіјһԁԛԝвкмнтαβεζηικμνορτυχհոսօꭰꭱꭲꭺꭻꭼꮃꮇꮋꮍꮐꮓꮩꮪꮮꮯꮲꮶᏼзчб', " +
        "'aeopcyxsijhdqwbkmhtabezhikmvoptyx" + "hnuodrtajewmhygzvslcpkb346') AS folded FROM a), " +
        "k AS (SELECT doc_id, folded, row_number() OVER (PARTITION BY " +
        "array_to_string(string_split_regex(trim(folded), '[ \\t\\n\\f\\r]+'), ' ') " +
        "ORDER BY doc_id) AS rn FROM f), " +
        "n AS (SELECT doc_id, regexp_replace(folded, '[^a-z0-9 ]', '', 'g') AS t " +
        "FROM k WHERE rn = 1) " +
        "SELECT doc_id, list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, len(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) AS fp FROM n ORDER BY doc_id"),
    "q_text_mojibake" ->
      // same planted suffixes, same regexes (RE2 and Java agree on
      // this alternation; '.' excludes newline in both), same exact
      // integer ppm division
      ("WITH c AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' naÃ¯ve â€œquote Â· bad�' ELSE '' END || " +
        "CASE WHEN doc_id % 7 = 0 THEN chr(7) || 'x' || chr(27) || chr(127) " +
        "ELSE '' END AS text FROM documents) " +
        "SELECT doc_id, " +
        "CASE WHEN length(text) > 0 THEN (length(text) - " +
        "length(regexp_replace(text, '(Ã.|Â.|â€.|�)', '', 'g'))) " +
        "* 1000000 // length(text) ELSE 0 END AS moji_ppm, " +
        "CASE WHEN length(text) > 0 THEN (length(text) - " +
        "length(regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'))) " +
        "* 1000000 // length(text) ELSE 0 END AS ctl_ppm " +
        "FROM c ORDER BY doc_id"),
    // verdict replay: the prepare twin's quality formula over the
    // planted fixture, the decontam twin's shingle overlap against
    // the ORIGINAL benchmark slice, fingerprint keep-first among
    // clean docs only, stage-ordered CASE
    "q_corpus_curation_verdicts" -> {
      val sw = TextAnalysis.EN_STOPWORDS.map(s => s"'$s'").mkString(", ")
      "WITH fx0 AS (SELECT d.doc_id, s.text FROM documents d " +
        "JOIN documents s ON s.doc_id = d.doc_id - d.doc_id % 3), " +
        "fx AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0 " +
        "THEN trim(repeat('spam ', 12)) ELSE text END AS text FROM fx0), " +
        "t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks, " +
        "string_split_regex(lower(trim(text)), '\\s+') AS ltoks FROM fx), " +
        "m AS (SELECT doc_id, text, " +
        "LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score, " +
        "CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS pr, " +
        s"CASE WHEN len(ltoks) > 0 THEN CAST(len(list_filter(ltoks, x -> x IN ($sw))) AS DOUBLE) / len(ltoks) ELSE 0.0 END AS swr, " +
        "CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS mtl, " +
        "CASE WHEN len(ltoks) > 0 THEN 1.0 - CAST(len(list_distinct(ltoks)) AS DOUBLE) / len(ltoks) ELSE 0.0 END AS wr " +
        "FROM t), " +
        "qq AS (SELECT doc_id, text, " +
        "(FLOOR((len_score + (1.0 - LEAST(pr * 5.0, 1.0)) + (1.0 - LEAST(abs(swr - 0.4) * 2.5, 1.0)) + (1.0 - LEAST(abs(mtl - 5.0) / 5.0, 1.0))) / 4.0 * 1000000 + 0.5) / 1000000.0 >= 0.2 " +
        "AND wr <= 0.9) AS q FROM m), " +
        "dw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM fx), " +
        "ds AS (SELECT DISTINCT doc_id, array_to_string(w[i : i + 7], ' ') AS s " +
        "FROM dw, unnest(range(1, len(w) - 6)) AS u(i)), " +
        "bw AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS w " +
        "FROM documents WHERE doc_id % 97 = 0), " +
        "b AS (SELECT DISTINCT array_to_string(w[i : i + 7], ' ') AS s " +
        "FROM bw, unnest(range(1, len(w) - 6)) AS u(i)), " +
        "cont AS (SELECT DISTINCT doc_id FROM ds JOIN b USING (s)), " +
        "v0 AS (SELECT qq.doc_id, qq.q, (cont.doc_id IS NOT NULL) AS c, " +
        "regexp_replace(trim(lower(qq.text)), '\\s+', ' ', 'g') AS fp " +
        "FROM qq LEFT JOIN cont USING (doc_id)), " +
        "k AS (SELECT fp, MIN(CASE WHEN q AND NOT c THEN doc_id END) AS keeper " +
        "FROM v0 GROUP BY fp) " +
        "SELECT v0.doc_id, CASE WHEN NOT q THEN 'low_quality' " +
        "WHEN c THEN 'contaminated' WHEN v0.doc_id <> k.keeper THEN 'duplicate' " +
        "ELSE 'accepted' END AS verdict " +
        "FROM v0 JOIN k USING (fp) ORDER BY v0.doc_id"
    },
    // policy replay: host from the generating CASE (these URLs are
    // canonical by construction), domain = exact-or-".d"-suffix,
    // pattern on the URL, blocked = either
    "q_corpus_url_policy" ->
      ("WITH u AS (SELECT doc_id, CASE CAST(doc_id % 7 AS INTEGER) " +
        "WHEN 0 THEN 'ok.example.com' WHEN 1 THEN 'spam.example' " +
        "WHEN 2 THEN 'sub.spam.example' WHEN 3 THEN 'ads.example' " +
        "WHEN 4 THEN 'notspam.example' WHEN 5 THEN 'ok2.example.com' " +
        "ELSE 'cdn.ads.example' END AS host, " +
        "CASE WHEN doc_id % 11 = 0 THEN '?download=setup.exe' ELSE '' END AS q FROM documents) " +
        "SELECT doc_id, host, " +
        "(host = 'spam.example' OR ends_with(host, '.spam.example') OR " +
        "host = 'ads.example' OR ends_with(host, '.ads.example')) AS blocked_domain, " +
        "(q <> '') AS blocked_pattern, " +
        "(host = 'spam.example' OR ends_with(host, '.spam.example') OR " +
        "host = 'ads.example' OR ends_with(host, '.ads.example') OR q <> '') AS blocked " +
        "FROM u ORDER BY doc_id"),
    // line-blocklist replay: same construction, list_filter on the
    // lowercase contains tests, count accounting
    "q_corpus_line_blocklist" ->
      ("WITH fx AS (SELECT doc_id, text || chr(10) || CASE WHEN doc_id % 5 = 0 " +
        "THEN 'Please Enable JavaScript to continue.' ELSE 'A fine closing sentence.' END " +
        "|| chr(10) || CASE WHEN doc_id % 7 = 0 THEN 'Lorem Ipsum dolor sit amet.' " +
        "ELSE 'Another good line.' END AS text FROM documents), " +
        "sp AS (SELECT doc_id, string_split_regex(text, '\\r?\\n') AS ls, length(text) > 0 AS ne FROM fx), " +
        "ft AS (SELECT doc_id, ne, ls, list_filter(ls, l -> NOT (" +
        "contains(lower(l), 'enable javascript') OR contains(lower(l), 'lorem ipsum'))) AS kept FROM sp) " +
        "SELECT doc_id, array_to_string(kept, chr(10)) AS cleaned, " +
        "CASE WHEN ne THEN CAST(len(ls) AS BIGINT) ELSE 0 END AS lines_in, " +
        "CASE WHEN ne THEN CAST(len(kept) AS BIGINT) ELSE 0 END AS lines_kept " +
        "FROM ft ORDER BY doc_id"),
    "q_corpus_url_canon" ->
      // identical construction + identical regexes: fragment via first
      // '#', query via first '?', "scheme://host[:port]" by the SAME
      // regexp the engine uses, default ports stripped, tracking
      // params dropped, survivors byte-sorted
      ("WITH u AS (SELECT doc_id, 'HTTP' || CASE WHEN doc_id % 2 = 0 THEN '' ELSE 'S' END || " +
        "'://' || CASE WHEN doc_id % 13 = 0 THEN 'UserInfo:Secret@' ELSE '' END || " +
        "'ExAmple' || CAST(doc_id % 7 AS VARCHAR) || '.COM' || " +
        "CASE WHEN doc_id % 2 = 0 THEN ':80' WHEN doc_id % 5 = 0 THEN ':443' ELSE ':8080' END || " +
        "CASE WHEN doc_id % 11 = 0 THEN '' ELSE '/Path/' || CAST(doc_id % 5 AS VARCHAR) END || " +
        "CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&b=2&a=1' " +
        "WHEN doc_id % 3 = 1 THEN '?z=9&utm_campaign=c&a=1&fbclid=f' ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS url FROM documents), " +
        "nf AS (SELECT doc_id, url, split_part(url, '#', 1) AS u0 FROM u), " +
        "pq AS (SELECT doc_id, url, split_part(u0, '?', 1) AS base, " +
        "CASE WHEN position('?' IN u0) > 0 THEN substr(u0, position('?' IN u0) + 1) " +
        "ELSE '' END AS q FROM nf), " +
        "hp AS (SELECT *, regexp_extract(base, '^[^/]*//[^/]*', 0) AS hostpart FROM pq), " +
        "pp AS (SELECT *, CASE WHEN length(hostpart) > 0 AND " +
        "length(substr(base, length(hostpart) + 1)) = 0 THEN '/' " +
        "ELSE substr(base, length(hostpart) + 1) END AS p, " +
        "regexp_replace(regexp_replace(lower(" +
        "regexp_replace(hostpart, '^([^/]*//)[^/@]*@', '\\1')), " +
        "'^(http://.*):80$', '\\1'), " +
        "'^(https://.*):443$', '\\1') AS hc FROM hp), " +
        "qq AS (SELECT doc_id, url, hc, p, " +
        "list_sort(list_filter(string_split(q, '&'), x -> length(x) > 0 AND " +
        "NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|msclkid|ref_src)(=|$)'))) AS ks FROM pp) " +
        "SELECT doc_id, url, hc || p || CASE WHEN len(ks) > 0 " +
        "THEN '?' || array_to_string(ks, '&') ELSE '' END AS url_canon, " +
        "regexp_extract(lower(split_part(split_part(url, '#', 1), '?', 1)), " +
        "'^[a-z0-9+.-]+://(?:[^/@]*@)?([^/:@]+)', 1) AS host " +
        "FROM qq ORDER BY doc_id"),
    "q_corpus_nb_score" -> NbOracleSql,
    // the persisted-model path promises the identical result — one
    // twin serves both gates
    "q_corpus_nb_indexed" -> NbOracleSql,
    "q_corpus_lm_score" ->
      ("WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "e AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM toks, unnest(range(1, len(w))) AS t(i)), " +
        "bc AS (SELECT w1, w2, count(*) AS c12 FROM e GROUP BY 1, 2), " +
        "lc AS (SELECT w1, count(*) AS c1 FROM e GROUP BY 1), " +
        "v AS (SELECT count(*) AS v FROM lc), " +
        "s AS (SELECT e.doc_id, CAST(FLOOR(ln(CAST(bc.c12 + 1 AS DOUBLE) / (lc.c1 + v.v)) * 1e15 + 0.5) AS BIGINT) AS term " +
        "FROM e JOIN bc USING (w1, w2) JOIN lc USING (w1) CROSS JOIN v), " +
        "p AS (SELECT doc_id, count(*) AS n_bigrams, SUM(term) AS sm FROM s GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(p.n_bigrams, 0) AS n_bigrams, " +
        "COALESCE(FLOOR(CAST(p.sm AS DOUBLE) / (p.n_bigrams * 1e15) * 1000000 + 0.5) / 1000000.0, 0.0) AS mean_logprob " +
        "FROM documents d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id"),
    "q_j7_asof_join" ->
      ("WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value AS l_value " +
        "FROM events WHERE event_type = 'purchase'), " +
        "r AS (SELECT user_id, epoch_us(ts) AS r_ts, max(value) AS r_value " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2) " +
        "SELECT l.event_id, l.user_id, l.ts_us, l.l_value, " +
        "r.r_ts AS asof_r_ts, r.r_value AS asof_r_value " +
        "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.r_ts " +
        "ORDER BY event_id"),
    "q_j7b_asof_forward" ->
      ("WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value AS l_value " +
        "FROM events WHERE event_type = 'purchase'), " +
        "r AS (SELECT user_id, epoch_us(ts) AS r_ts, max(value) AS r_value " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2) " +
        "SELECT l.event_id, l.user_id, l.ts_us, l.l_value, " +
        "r.r_ts AS asof_r_ts, r.r_value AS asof_r_value " +
        "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us <= r.r_ts " +
        "ORDER BY event_id"),
    // grid twin: integer floor-div bucket alignment (non-negative μs),
    // range() is end-exclusive so hi lands via +1, ASOF LEFT JOIN
    // carries the latest observation at-or-before each instant
    "q_j9_gapfill" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS us, max(value) AS value " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), " +
        "b AS (SELECT user_id, (min(us) // 3600000000) * 3600000000 AS lo_b, " +
        "(max(us) // 3600000000) * 3600000000 AS hi_b FROM e GROUP BY 1), " +
        "g AS (SELECT user_id, unnest(range(lo_b, hi_b + 1, 3600000000)) AS bucket_us FROM b) " +
        "SELECT g.user_id AS user_id, g.bucket_us AS bucket_us, " +
        "e.us AS fill_us, e.value AS fill_value " +
        "FROM g ASOF LEFT JOIN e ON g.user_id = e.user_id AND g.bucket_us >= e.us " +
        "ORDER BY 1, 2"),
    "q_j8_range_join" ->
      ("WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_ts " +
        "FROM events WHERE event_type = 'purchase'), " +
        "w AS (SELECT event_id AS e_id, user_id, epoch_us(ts) AS s_ts, " +
        "epoch_us(ts) + 3600000000 AS e_ts FROM events WHERE event_type = 'error') " +
        "SELECT p_id, e_id, p.user_id AS user_id, p_ts, s_ts FROM p JOIN w " +
        "ON p.user_id = w.user_id AND p_ts >= s_ts AND p_ts <= e_ts " +
        "ORDER BY p_id, e_id"),
    // skew-salted twin: the sketch only tunes the partitioning, so the
    // oracle is the PLAIN join — any divergence means salting touched
    // semantics (a lost row, a double-counted replica)
    "q_join_skew_salted" ->
      ("SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, count(*) AS n_rows, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    "q_join_adaptive" ->
      // same twin as the salted gate: whatever arm the planner picks,
      // the join IS the plain join
      ("SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, count(*) AS n_rows, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    "q_join_bloom" ->
      // the prefilter has no false negatives and false positives drop
      // in the join — the result is the plain (restricted) join
      ("SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, count(*) AS n_rows, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE s_suppkey % 3 = 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    "q_corpus_delete" ->
      ("SELECT doc_id, text, lang, source FROM documents " +
        "WHERE doc_id % 3 <> 0 ORDER BY doc_id"),
    "q_link_fuzzy_join" ->
      ("SELECT a.s_suppkey AS id_l, b.s_suppkey AS id_r, " +
        "CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist " +
        "FROM supplier a, supplier b " +
        "WHERE a.s_suppkey % 2 = 0 AND b.s_suppkey % 2 = 1 " +
        "AND levenshtein(a.s_name, b.s_name) <= 1 ORDER BY id_l, id_r"),
    "q_link_fuzzy_pairs" ->
      ("SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b, " +
        "CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist " +
        "FROM supplier a, supplier b " +
        "WHERE a.s_suppkey % 2 = 0 AND b.s_suppkey % 2 = 0 " +
        "AND a.s_suppkey < b.s_suppkey " +
        "AND levenshtein(a.s_name, b.s_name) <= 2 ORDER BY id_a, id_b"),
    "q_corpus_upsert" ->
      // survivors of the anti-join, the revised rows, the inserted rows
      ("SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 7 <> 0 " +
        "UNION ALL SELECT doc_id, 'REVISED ' || doc_id, lang, source " +
        "FROM documents WHERE doc_id % 7 = 0 " +
        "UNION ALL SELECT doc_id + 1000000, text, 'xx', source " +
        "FROM documents WHERE doc_id % 13 = 0 " +
        "ORDER BY doc_id"),
    "q_corpus_time_travel" ->
      // v1 = the original corpus, v2 = post-delete, live = post-upsert
      ("WITH v2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0), " +
        "live AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 " +
        "THEN 'REVISED ' || doc_id ELSE text END AS text FROM v2) " +
        "SELECT 1 AS version, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_id, " +
        "CAST(sum(length(text)) AS BIGINT) AS sum_len FROM documents " +
        "UNION ALL SELECT 2, count(*), CAST(sum(doc_id) AS BIGINT), " +
        "CAST(sum(length(text)) AS BIGINT) FROM v2 " +
        "UNION ALL SELECT 3, count(*), CAST(sum(doc_id) AS BIGINT), " +
        "CAST(sum(length(text)) AS BIGINT) FROM live " +
        "ORDER BY version"),
    "q_corpus_rollback" ->
      // delete then rollback: the live dataset is the original again
      "SELECT doc_id, text, lang, source FROM documents ORDER BY doc_id",
    "q_verify_takedown_sweep" ->
      // expected per-id counts per surface after the one-verb sweep,
      // recomputed from the raw corpus and the predicates alone: the
      // %7 takedown ids read 0 on EVERY registered surface (live, all
      // six index families + the BM25 roster and norms sidecars, both
      // retained versions); survivors read each surface's expected
      // membership — media and vector families only ever held
      // id < 120, embeddings membership bounds the IVF column
      ("SELECT doc_id + 9000000 AS id, " +
        "CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS BIGINT) AS live_rows, " +
        "CAST(CASE WHEN doc_id % 7 = 0 OR doc_id >= 120 THEN 0 ELSE 1 END AS BIGINT) AS audio_rows, " +
        "CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS BIGINT) AS bm25_rows, " +
        "CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS BIGINT) AS bm25_roster_rows, " +
        "CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS BIGINT) AS bm25_norm_rows, " +
        "CAST(CASE WHEN doc_id % 7 = 0 OR doc_id >= 120 THEN 0 ELSE 1 END AS BIGINT) AS dhash_rows, " +
        "CAST(CASE WHEN doc_id % 7 = 0 OR doc_id >= 120 OR " +
        "doc_id NOT IN (SELECT vec_id FROM embeddings) THEN 0 ELSE 1 END AS BIGINT) AS ivfsq_rows, " +
        "CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS BIGINT) AS minhash_rows, " +
        "CAST(CASE WHEN doc_id % 7 = 0 OR doc_id >= 120 THEN 0 ELSE 1 END AS BIGINT) AS video_rows, " +
        "CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS BIGINT) AS v1_rows, " +
        "CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS BIGINT) AS v2_rows " +
        "FROM documents WHERE doc_id < 140 ORDER BY id"),
    // both provenance arms replayed bit-exact: roster bits from the
    // %13 survivors, benchmark bits from the %97 suite — see the
    // builder's doc for why each direction of failure flags
    "q_verify_takedown_bloom" -> takedownBloomOracleSql,
    "q_verify_deletion_versioned" ->
      // expected per-id counts per surface, recomputed from the raw
      // corpus and the predicates alone: v1 = original, v2 = minus %3,
      // v3 = minus %3 and %5 (the pre-takedown live), live = minus all
      // three — and the %7 takedown ids must read 0 on EVERY surface
      // after the version sweep
      ("WITH d AS (SELECT doc_id, count(*) AS n FROM documents " +
        "WHERE doc_id < 60 GROUP BY doc_id) " +
        "SELECT CAST(doc_id AS BIGINT) AS id, " +
        "CAST(CASE WHEN doc_id % 3 <> 0 AND doc_id % 5 <> 0 AND doc_id % 7 <> 0 " +
        "THEN n ELSE 0 END AS BIGINT) AS live_rows, " +
        "CAST(CASE WHEN doc_id % 7 <> 0 THEN n ELSE 0 END AS BIGINT) AS v1_rows, " +
        "CAST(CASE WHEN doc_id % 3 <> 0 AND doc_id % 7 <> 0 " +
        "THEN n ELSE 0 END AS BIGINT) AS v2_rows, " +
        "CAST(CASE WHEN doc_id % 3 <> 0 AND doc_id % 5 <> 0 AND doc_id % 7 <> 0 " +
        "THEN n ELSE 0 END AS BIGINT) AS v3_rows " +
        "FROM d ORDER BY id"),
    "q_corpus_version_diff" ->
      // v1 → live: %3 rows deleted, surviving %5 rows revised, %50
      // rows inserted under shifted ids
      ("SELECT doc_id, 'deleted' AS diff_status FROM documents WHERE doc_id % 3 = 0 " +
        "UNION ALL SELECT doc_id, 'updated' FROM documents " +
        "WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0 " +
        "UNION ALL SELECT doc_id + 1000000, 'inserted' FROM documents " +
        "WHERE doc_id % 50 = 0 ORDER BY doc_id"),
    "q_corpus_split" -> {
      val valCut = math.round(0.1 * 4294967296.0)
      val testCut = math.round(0.2 * 4294967296.0)
      "SELECT doc_id, CASE WHEN h < " + valCut + " THEN 'val' WHEN h < " + testCut +
        " THEN 'test' ELSE 'train' END AS split FROM (SELECT doc_id, " +
        "((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 + 4294967296) % 4294967296 AS h " +
        "FROM documents) ORDER BY doc_id"
    },
    "q_corpus_shuffle" ->
      ("SELECT doc_id, CAST(((CAST(xor(doc_id, 7) AS HUGEINT) * 2654435761) % 4294967296 + 4294967296) % 4294967296 AS BIGINT) AS shuffle_key " +
        "FROM documents ORDER BY shuffle_key, doc_id"),
    "q_corpus_leak_split" -> {
      // the portable-minhash CTE chain (same as q_dedup_minhash_portable)
      // feeding cluster-level split hygiene: transitive closure over the
      // pair graph (recursive CTE — the q_dedup_clusters replay), then
      // every non-train member of a split-straddling cluster demotes
      val k = 8
      val sigs = (0 until k).map(j =>
        s"MIN((${2 * j + 3}*hv+${97 * j + 1})%1000000007) AS sig_$j").mkString(", ")
      val matchSum = (1 until k).map(j =>
        s"CASE WHEN a.sig_$j = b.sig_$j THEN 1 ELSE 0 END").mkString("1 + ", " + ", "")
      val valCut = math.round(0.2 * 4294967296.0)
      val testCut = math.round(0.4 * 4294967296.0)
      "WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "sh AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')] " +
        "ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END AS s FROM toks), " +
        "e AS (SELECT doc_id, unnest(s) AS sg FROM sh), " +
        "hv AS (SELECT doc_id, list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
        "(a,c) -> (a*31+c) % 1000000007) AS hv " +
        "FROM (SELECT doc_id, regexp_replace(lower(sg), '[^a-z0-9 ]', '', 'g') AS t FROM e)), " +
        s"sig AS (SELECT doc_id, $sigs FROM hv GROUP BY doc_id), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b " +
        s"ON a.sig_0 = b.sig_0 AND a.doc_id < b.doc_id WHERE CAST($matchSum AS DOUBLE)/8 >= 0.5), " +
        "edges(src, dst) AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "reach(a, b) AS (SELECT src, src FROM edges " +
        "UNION SELECT r.a, e2.dst FROM reach r JOIN edges e2 ON r.b = e2.src), " +
        "clus AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a), " +
        s"spl AS (SELECT doc_id, CASE WHEN h < $valCut THEN 'val' WHEN h < $testCut THEN 'test' " +
        "ELSE 'train' END AS split FROM (SELECT doc_id, " +
        "((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 + 4294967296) % 4294967296 AS h " +
        "FROM documents)), " +
        "mem AS (SELECT c.id, c.cluster, s.split FROM clus c JOIN spl s ON c.id = s.doc_id), " +
        "mixed AS (SELECT cluster FROM mem GROUP BY cluster HAVING count(DISTINCT split) > 1), " +
        "demote AS (SELECT DISTINCT id FROM mem JOIN mixed USING (cluster) WHERE split <> 'train') " +
        "SELECT s.doc_id, CASE WHEN d.id IS NOT NULL THEN 'train' ELSE s.split END AS split " +
        "FROM spl s LEFT JOIN demote d ON s.doc_id = d.id ORDER BY doc_id"
    },
    "q_corpus_bloom_decontam" -> bloomDecontamOracle("doc_id % 97 = 0"),
    // the persisted index serves the SAME flags as the in-memory bloom:
    // identical twin, bench predicate = the suite the index was built from
    "q_corpus_decontam_indexed" -> bloomDecontamOracle("doc_id % 97 = 0"),
    // append == rebuild: querying after appending suite B must equal a
    // filter built from A ∪ B directly
    "q_corpus_decontam_appended" ->
      bloomDecontamOracle("doc_id % 97 = 0 OR doc_id % 89 = 0"),
    "q_corpus_shards" -> {
      def mix(v: String) =
        s"(((($v) % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296"
      // same hex-of-utf8-bytes string fold as q_verify_checksum — shard
      // sums must stay addable to the whole-table fingerprint
      def kr(c: String) =
        s"(SELECT CASE WHEN length(h) = 0 THEN 0 ELSE " +
          s"list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, length(h)+1), " +
          s"i -> CAST(unicode(h[i:i]) AS BIGINT)), (a,b) -> (a*31+b) % 1000000007) END " +
          s"FROM (SELECT hex(encode($c)) AS h))"
      "WITH b AS (SELECT CAST(((CAST(o_orderkey AS HUGEINT) * 2654435761) % 4294967296 + 4294967296) % 4294967296 % 16 AS BIGINT) AS shard, " +
        "o_orderkey, o_orderstatus FROM orders) " +
        "SELECT shard, count(*) AS n_rows, " +
        s"CAST(SUM(${mix("o_orderkey")}) AS BIGINT) AS o_orderkey__sum, " +
        "CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderkey__nulls, " +
        s"CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 0 ELSE ${mix(kr("o_orderstatus"))} END) AS BIGINT) AS o_orderstatus__sum, " +
        "CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderstatus__nulls " +
        "FROM b GROUP BY shard ORDER BY shard"
    },
    "q_corpus_overlap" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i : i + 4], ' ') AS s " +
        "FROM t, unnest(range(1, len(w) - 3)) AS u(i)), " +
        "ns AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id), " +
        "b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0), " +
        "h AS (SELECT doc_id, count(*) AS n_hits FROM sh JOIN b USING (s) GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(ns.n_shingles, 0) AS n_shingles, COALESCE(h.n_hits, 0) AS n_hits, " +
        "CASE WHEN COALESCE(ns.n_shingles, 0) > 0 " +
        "THEN (COALESCE(h.n_hits, 0) * 1000000) // ns.n_shingles ELSE 0 END AS ratio_ppm, " +
        "(CASE WHEN COALESCE(ns.n_shingles, 0) > 0 " +
        "THEN (COALESCE(h.n_hits, 0) * 1000000) // ns.n_shingles ELSE 0 END) >= 150000 AS contaminated " +
        "FROM documents d LEFT JOIN ns USING (doc_id) LEFT JOIN h USING (doc_id) ORDER BY d.doc_id"),
    "q_corpus_decontam" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i : i + 7], ' ') AS s " +
        "FROM t, unnest(range(1, len(w) - 6)) AS u(i)), " +
        "b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0), " +
        "h AS (SELECT doc_id, count(*) AS n_hits FROM sh JOIN b USING (s) GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits, COALESCE(h.n_hits, 0) > 0 AS contaminated " +
        "FROM documents d LEFT JOIN h USING (doc_id) ORDER BY d.doc_id"),
    // one oracle body for BOTH semantic-decontam arms (brute + banded):
    // the 0.8 threshold decision has a ≥ 0.199 margin on every fixture
    // (copies ≈ 1.0, max non-dup cosine 0.601), and the banded arm's
    // exact verify makes its output equal the brute arm's here
    "q_corpus_decontam_embedding" -> EmbeddingDecontamOracle,
    "q_corpus_decontam_embedding_banded" -> EmbeddingDecontamOracle,
    "q_corpus_decontam_embedding_indexed" -> EmbeddingDecontamOracle,
    // after retiring B, the index must answer exactly as an A-only
    // build — the A-only oracle IS the delete==rebuild contract
    "q_corpus_embband_delete" -> EmbeddingDecontamOracle,
    "q_corpus_chunk" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents), " +
        "c AS (SELECT doc_id, i AS chunk_id, list_slice(w, i * 24 + 1, i * 24 + 32) AS ck " +
        "FROM t, unnest(range(0, 1 + CAST(FLOOR((GREATEST(len(w) - 32, 0) + 23) / 24) AS BIGINT))) AS u(i)) " +
        "SELECT doc_id, chunk_id, len(ck) AS n_tokens, array_to_string(ck, ' ') AS chunk_text " +
        "FROM c ORDER BY doc_id, chunk_id"),
    "q_corpus_domain_fit" ->
      ("WITH toks AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "e AS (SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2 FROM toks, unnest(range(1, len(w))) AS t(i)), " +
        "db AS (SELECT lang, w1, w2, count(*) AS cd12 FROM e GROUP BY 1, 2, 3), " +
        "dl AS (SELECT lang, w1, count(*) AS cd1 FROM e GROUP BY 1, 2), " +
        "dv AS (SELECT lang, count(*) AS vd FROM dl GROUP BY 1), " +
        "gb AS (SELECT w1, w2, count(*) AS cg12 FROM e GROUP BY 1, 2), " +
        "gl AS (SELECT w1, count(*) AS cg1 FROM e GROUP BY 1), " +
        "gv AS (SELECT count(*) AS vg FROM gl), " +
        "s AS (SELECT e.doc_id, e.lang, " +
        "CAST(FLOOR(ln(CAST(db.cd12 + 1 AS DOUBLE) / (dl.cd1 + dv.vd)) * 1e15 + 0.5) AS BIGINT) - " +
        "CAST(FLOOR(ln(CAST(gb.cg12 + 1 AS DOUBLE) / (gl.cg1 + gv.vg)) * 1e15 + 0.5) AS BIGINT) AS term " +
        "FROM e JOIN db USING (lang, w1, w2) JOIN dl USING (lang, w1) JOIN dv USING (lang) " +
        "JOIN gb USING (w1, w2) JOIN gl USING (w1) CROSS JOIN gv), " +
        "p AS (SELECT doc_id, lang, count(*) AS n_bigrams, SUM(term) AS sm FROM s GROUP BY 1, 2) " +
        "SELECT d.doc_id, d.lang, COALESCE(p.n_bigrams, 0) AS n_bigrams, " +
        "COALESCE(FLOOR(CAST(p.sm AS DOUBLE) / (p.n_bigrams * 1e15) * 1000000 + 0.5) / 1000000.0, 0.0) AS domain_fit " +
        "FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id AND d.lang = p.lang " +
        "ORDER BY d.doc_id"),
    // DSIR replay: hashed unigram+bigram buckets (KR fold + Knuth
    // mix, the q_text_hash_features hash), target/raw add-one bucket
    // multinomials, each ln floored to micro-units BEFORE the
    // difference and the per-doc sum — logw_fx is an exact integer
    "q_corpus_dsir_weight" ->
      (dsirOracleCtes +
        "SELECT doc_id, n_feats, logw_fx FROM wts ORDER BY doc_id"),
    // the persisted model promises inline-identical scores: one twin
    "q_corpus_dsir_indexed" ->
      (dsirOracleCtes +
        "SELECT doc_id, n_feats, logw_fx FROM wts ORDER BY doc_id"),
    // Gumbel top-k replay: uniform from the doc id's own KR hash,
    // key = logw_fx + floor(-ln(-ln u)·1e6 + 0.5) — the sample is
    // integer-decided, so selection AND ties replay exactly
    "q_corpus_dsir_sample" ->
      (dsirOracleCtes +
        ", hid AS (SELECT doc_id, (list_reduce([CAST(0 AS BIGINT)] || " +
        "list_transform(range(1, length(t) + 1), i -> CAST(unicode(t[i:i]) AS BIGINT)), " +
        "(a, c) -> (a * 31 + c) % 1000000007) * 2654435761) % 4294967296 AS h " +
        "FROM (SELECT doc_id, regexp_replace(CAST(doc_id AS VARCHAR), '[^a-z0-9 ]', '', 'g') AS t FROM wts)), " +
        "keyed AS (SELECT w.doc_id, w.n_feats, w.logw_fx, w.logw_fx + " +
        "CAST(floor(-ln(-ln((CAST(h.h AS DOUBLE) + 0.5) / 4294967296)) * 1e6 + 0.5) AS BIGINT) AS key_fx " +
        "FROM wts w JOIN hid h USING (doc_id)), " +
        "sel AS (SELECT * FROM keyed ORDER BY key_fx DESC, doc_id LIMIT 120) " +
        "SELECT doc_id, n_feats, logw_fx, key_fx FROM sel ORDER BY doc_id"),
    // diversity twin: the q_text_topgram gram construction rolled up
    // per language — totals, exact distinct, integer-ppm ratio
    "q_corpus_distinct_ngrams" ->
      ("WITH tk AS (SELECT lang, string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS toks FROM documents), " +
        "g AS (SELECT lang, CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')] " +
        "ELSE list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) END AS grams FROM tk), " +
        "e AS (SELECT lang, unnest(grams) AS gram FROM g) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_grams, " +
        "CAST(count(DISTINCT gram) AS BIGINT) AS distinct_grams, " +
        "count(DISTINCT gram) * 1000000 // count(*) AS distinct_ppm " +
        "FROM e GROUP BY lang ORDER BY lang"),
    "q_corpus_lm3_score" ->
      ("WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "tri AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3 " +
        "FROM toks, unnest(range(1, len(w) - 1)) AS t(i)), " +
        "fit AS (SELECT * FROM tri WHERE (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 < 2147483648), " +
        "c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM fit GROUP BY 1, 2, 3), " +
        "c2 AS (SELECT w1, w2, count(*) AS c2ctx FROM fit GROUP BY 1, 2), " +
        "bg AS (SELECT w2, w3, count(*) AS b3 FROM fit GROUP BY 1, 2), " +
        "b2 AS (SELECT w2, count(*) AS b2ctx FROM fit GROUP BY 1), " +
        "un AS (SELECT w3, count(*) AS u FROM fit GROUP BY 1), " +
        "nv AS (SELECT count(*) AS n_fit, count(DISTINCT w3) AS v_fit FROM fit), " +
        "s AS (SELECT tri.doc_id, CAST(FLOOR(ln(" +
        "CASE WHEN c3.c3 IS NOT NULL THEN CAST(c3.c3 AS DOUBLE) / CAST(c2.c2ctx AS DOUBLE) " +
        "WHEN bg.b3 IS NOT NULL THEN CAST(0.4 AS DOUBLE) * CAST(bg.b3 AS DOUBLE) / CAST(b2.b2ctx AS DOUBLE) " +
        "ELSE (CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)) * CAST(COALESCE(un.u, 0) + 1 AS DOUBLE) / CAST(GREATEST(nv.n_fit + nv.v_fit, 1) AS DOUBLE) END" +
        ") * 1e15 + 0.5) AS BIGINT) AS term " +
        "FROM tri LEFT JOIN c3 USING (w1, w2, w3) LEFT JOIN c2 USING (w1, w2) " +
        "LEFT JOIN bg USING (w2, w3) LEFT JOIN b2 USING (w2) LEFT JOIN un USING (w3) CROSS JOIN nv), " +
        "p AS (SELECT doc_id, count(*) AS n_trigrams, SUM(term) AS sm FROM s GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(p.n_trigrams, 0) AS n_trigrams, " +
        "COALESCE(FLOOR(CAST(p.sm AS DOUBLE) / (p.n_trigrams * 1e15) * 1000000 + 0.5) / 1000000.0, 0.0) AS mean_logprob " +
        "FROM documents d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id"),
    "q_corpus_stats" ->
      ("SELECT lang, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_len, " +
        "CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mean_len, " +
        "CAST(median(n_chars) AS DOUBLE) AS median_len " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    "q_s7_custom_sql" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_orderstatus = 'O' AND o_totalprice > 100000 ORDER BY o_orderkey"),
    "q_s11_fbi_ddl" ->
      ("WITH idx(index_name, table_name, index_type) AS (VALUES " +
        "('idx_fn_upper','t_users','FUNCTION-BASED NORMAL'), " +
        "('ix_plain','t_users','NORMAL'), " +
        "('idx_fn_trunc','t_orders','FUNCTION-BASED NORMAL')), " +
        "d(index_name, ddl_text) AS (VALUES " +
        "('idx_fn_upper', chr(10) || '  CREATE INDEX \"Scott\".\"IDX_FN_UPPER\" ON \"Scott\".\"T_USERS\" (UPPER(\"NAME\")) ' || chr(10) || '  PCTFREE 10 INITRANS 2 MAXTRANS 255 COMPUTE STATISTICS'), " +
        "('idx_fn_trunc', 'CREATE INDEX \"Scott\".\"IDX_FN_TRUNC\" ON \"Scott\".\"T_ORDERS\" (TRUNC(\"ORDER_DATE\"))'), " +
        "('ix_plain', 'CREATE INDEX \"Scott\".\"IX_PLAIN\" ON \"Scott\".\"T_USERS\" (\"A\") PCTFREE 10')), " +
        "j AS (SELECT i.table_name, upper(d.ddl_text) AS up FROM idx i JOIN d ON d.index_name = i.index_name " +
        "WHERE i.index_type = 'FUNCTION-BASED NORMAL'), " +
        "c AS (SELECT table_name, CASE WHEN strpos(up, ' PCTFREE') > 0 " +
        "THEN substr(up, 1, strpos(up, ' PCTFREE') - 1) ELSE up END AS h FROM j) " +
        "SELECT table_name, trim(replace(replace(replace(h, '\"', ''), 'SCOTT.', ''), chr(10), '')) || ';' AS sql_cmd " +
        "FROM c ORDER BY sql_cmd"),
    "q_s9_seq_ddl" ->
      ("WITH trg(table_name, trigger_body) AS (VALUES " +
        "('t_users', 'BEGIN SELECT seq_users.nextval INTO:new.id FROM sys.dual; END;'), " +
        "('t_logs', 'BEGIN SELECT s2.NEXTVAL INTO :NEW.log_id FROM DUAL; END;'), " +
        "('t_noise', 'BEGIN :NEW.x := 1; END;')), " +
        "n AS (SELECT table_name, regexp_replace(regexp_replace(regexp_replace(upper(trigger_body), " +
        "'INTO:', 'INTO :', 'g'), 'SYS\\.DUAL', 'DUAL', 'g'), '\n', '', 'g') AS body FROM trg), " +
        "f AS (SELECT table_name, regexp_extract(body, ':NEW\\.(\\w+)', 1) AS auto_col FROM n " +
        "WHERE regexp_matches(body, 'SELECT\\s+(.*?)\\.NEXTVAL\\s+INTO\\s+:NEW\\.') " +
        "AND regexp_extract(body, ':NEW\\.(\\w+)', 1) <> ''), " +
        "w AS (SELECT *, row_number() OVER (PARTITION BY table_name ORDER BY auto_col) AS seq_idx FROM f) " +
        "SELECT table_name, sql_cmd FROM w, unnest([" +
        "'create index ids_' || table_name || '_' || auto_col || '_' || seq_idx || ' on ' || table_name || '(' || auto_col || ');', " +
        "'alter table ' || table_name || ' modify ' || auto_col || ' bigint auto_increment;']) AS t(sql_cmd) " +
        "ORDER BY sql_cmd"),
    "q_s14_proc_dump" ->
      ("WITH objs(object_name, object_type, ddl_text) AS (VALUES " +
        "('calc_tax', 'FUNCTION', 'function calc_tax(p number) return number is begin return p*0.2; end;'), " +
        "('pkg_util', 'PACKAGE', 'package pkg_util is procedure p1; end;'), " +
        "('do_sync', 'PROCEDURE', 'procedure do_sync is begin null; end;')) " +
        "SELECT object_type, object_name, " +
        "'-- ' || object_type || ' ' || object_name || chr(10) || ddl_text AS dump_text " +
        "FROM objs ORDER BY object_type, object_name"),
    "q_s10_fk_ddl" ->
      ("WITH cons(constraint_name, table_name, constraint_type, r_constraint_name) AS " +
        "(VALUES ('fk_o_c','orders','R','pk_cust'), ('pk_cust','customer','P',NULL), ('pk_o','orders','P',NULL)), " +
        "ccols(constraint_name, column_name, position) AS " +
        "(VALUES ('fk_o_c','custkey',1), ('pk_cust','c_custkey',1), ('pk_o','o_orderkey',1)), " +
        "lists AS (SELECT constraint_name, string_agg(column_name, ',' ORDER BY position) AS cols FROM ccols GROUP BY constraint_name) " +
        "SELECT b.table_name, 'ALTER TABLE ' || b.table_name || ' ADD CONSTRAINT ' || b.constraint_name || " +
        "' FOREIGN KEY (' || l1.cols || ') REFERENCES ' || r.table_name || '(' || l2.cols || ');' AS sql_cmd " +
        "FROM cons b JOIN lists l1 ON l1.constraint_name = b.constraint_name " +
        "JOIN lists l2 ON l2.constraint_name = b.r_constraint_name " +
        "JOIN cons r ON r.constraint_name = b.r_constraint_name " +
        "WHERE b.constraint_type = 'R' ORDER BY sql_cmd"),
    "q_s12_comment_ddl" ->
      ("WITH c(table_name, comments) AS (VALUES ('t1','user''s table'), ('t2',NULL), ('t3','plain')) " +
        "SELECT table_name, 'alter table ' || table_name || ' comment ''' || replace(comments, '''', '''''') || ''';' AS sql_cmd " +
        "FROM c WHERE comments IS NOT NULL ORDER BY sql_cmd"),
    "q_s13_view_ddl" ->
      ("WITH v(view_name, text) AS (VALUES " +
        "('v1', 'select nvl(\"a\", 0) from t -- note'), " +
        "('v2', 'select x from y where z = nvl(\"w\", 1)')) " +
        "SELECT view_name, 'create or replace view ' || view_name || ' as ' || " +
        "replace(replace(replace(replace(upper(text), '--', '-- -- '), '\"', '`'), 'NVL(', 'IFNULL('), 'UNISTR(''0'')', '0') || ';' AS sql_cmd " +
        "FROM v ORDER BY view_name")
  ) ++ graft.analytics.Tpch.oracleSql
}
