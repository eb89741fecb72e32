package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

/** Deterministic input generator. Every input a workload hands the engine
  * comes from here, as a pure function of the workload seed: the same seed
  * gives byte-identical inputs (the [[Digest]] over them is printed with
  * every result) and a different seed gives different ones. The engine
  * never sees the seed, only the generated rows, messages and requests. */
object Gen {

  /** SHA-256 over a canonical serialization of generated values. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): this.type = {
      buf.clear(); buf.putLong(v); md.update(buf.array()); this
    }
    def double(v: Double): this.type = long(java.lang.Double.doubleToLongBits(v))
    def str(s: String): this.type = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      long(b.length.toLong); md.update(b); this
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Fixed vocabulary (independent of the seed, like a language): 4,096
    * distinct lowercase words of 3 to 9 letters. Large enough that word
    * 3-grams of independently drawn documents almost never collide, so
    * the only near-duplicates in a corpus are the planted ones. */
  val vocab: Array[String] = {
    val r = new SplittableRandom(0x5eedL)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 4096) {
      val n = 3 + r.nextInt(7)
      seen += (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  /** Languages with a skewed share: `en` holds 30% of points, the ~30%
    * selectivity filter of the serve workload. */
  val langs: Array[String] = Array("en", "de", "fr", "es", "zh")
  def drawLang(r: SplittableRandom): String = {
    val u = r.nextDouble()
    if (u < 0.30) "en" else langs(1 + ((u - 0.30) / 0.175).toInt.min(3))
  }

  /** Labels are uniform over 100 values: one label is the ~1% filter. */
  val Labels = 100

  /** Zipf(1.0) sampler over the vocabulary ranks. */
  private val zipfCdf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / (i + 1)).toArray
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def zipfWord(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    vocab(((if (i >= 0) i else -i - 1)).min(vocab.length - 1))
  }

  /** A document of `lo` to `hi` tokens: half Zipf-drawn (so term queries
    * have frequent and rare terms), half uniform (so documents stay
    * distinct). */
  def tokens(r: SplittableRandom, lo: Int, hi: Int): Array[String] =
    Array.fill(lo + r.nextInt(hi - lo + 1)) {
      if (r.nextBoolean()) zipfWord(r) else vocab(r.nextInt(vocab.length))
    }

  /** Topics of [[topicText]]: 256 fixed sets of 24 vocabulary words. */
  val Topics = 256
  private val topicWords: Array[Array[String]] = {
    val r = new SplittableRandom(0x70b1cL)
    Array.fill(Topics)(Array.fill(24)(vocab(r.nextInt(vocab.length))))
  }

  /** A document about one topic: 70% of its `lo` to `hi` tokens come from
    * the topic's words, the rest from [[tokens]]'s mix. Documents of one
    * topic share words, so their feature-hash embeddings are close and a
    * top-10 list is mostly same-topic neighbours. */
  def topicText(r: SplittableRandom, lo: Int, hi: Int): String = {
    val t = topicWords(r.nextInt(Topics))
    tokens(r, lo, hi).map(w =>
      if (r.nextDouble() < 0.7) t(r.nextInt(t.length)) else w).mkString(" ")
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on two uniforms in (0, 1]
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** A vector rounded to 6 decimals, so its parquet round trip and every
    * printed score are exact. */
  def round6(v: Array[Double]): Array[Double] =
    v.map(x => math.floor(x * 1e6 + 0.5) / 1e6)

  /** Clustered dense vectors: `clusters` Gaussian centres, each point its
    * centre plus isotropic noise, so points of one cluster are close but
    * distinct (the perturbed-copy shape of a blown-up corpus). */
  final class VectorSpace(r: SplittableRandom, dim: Int, clusters: Int,
                          noise: Double) {
    val centres: Array[Array[Double]] =
      Array.fill(clusters)(Array.fill(dim)(gaussian(r)))
    def draw(r: SplittableRandom): Array[Double] = {
      val c = centres(r.nextInt(clusters))
      round6(c.map(x => x + noise * gaussian(r)))
    }
  }
}
