package perfbench

import java.util.SplittableRandom

/** Running SHA-256 over everything a generator emits: two inputs with
  * the same fingerprint are the same input.
  */
final class Fingerprint {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(v: Any): Unit = {
    md.update(String.valueOf(v).getBytes("UTF-8"))
    md.update(0.toByte)
  }
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
}

/** Seeded building blocks shared by the three workload generators. */
object Gen {

  /** Independent stream `salt` of seed `seed`. */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** `n` distinct lowercase words of 3 to 9 letters. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.nextInt(7)
      seen += (0 until len).map(_ => Letters.charAt(r.nextInt(26))).mkString
    }
    seen.toArray
  }

  /** A document of `len` Zipf-drawn words. */
  def doc(r: SplittableRandom, vocab: Array[String], zipf: Zipf, len: Int): Array[String] =
    Array.fill(len)(vocab(zipf.sample(r)))

  /** A near-duplicate: each word replaced with probability `p`, at least
    * one word always replaced.
    */
  def nearCopy(r: SplittableRandom, words: Array[String], vocab: Array[String],
      zipf: Zipf, p: Double): Array[String] = {
    val out = words.clone()
    val forced = r.nextInt(out.length)
    out.indices.foreach { i =>
      if (i == forced || r.nextDouble() < p) out(i) = vocab(zipf.sample(r))
    }
    if (out.sameElements(words)) out(forced) = out(forced) + "x"
    out
  }

  /** Unit vector near one of the `centers`. */
  def clustered(r: SplittableRandom, centers: Array[Array[Double]], noise: Double): Array[Float] = {
    val c = centers(r.nextInt(centers.length))
    unit(c.map(x => x + noise * r.nextGaussian()))
  }

  def centers(r: SplittableRandom, n: Int, dim: Int): Array[Array[Double]] =
    Array.fill(n)(Array.fill(dim)(r.nextGaussian()))

  def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** Punctuation-heavy short text: what a quality filter must drop. */
  def junk(r: SplittableRandom): String =
    Array.fill(4 + r.nextInt(4))(Seq("!!!", "??", "#$%", "...", "@@", "&&")(r.nextInt(6)))
      .mkString(" ")
}
