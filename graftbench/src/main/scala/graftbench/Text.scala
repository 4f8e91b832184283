package graftbench

import java.util.SplittableRandom

/** Seeded text over the same vocabulary as `graft.GenData`: 48 common
  * English head words, then synthetic `w<k>` ranks up to 5,000, drawn
  * Zipf(1)-like (log-uniform rank). Query texts come from here; the
  * corpus comes from `GenData.documents` itself. */
object Text {
  private val VocabSize = 5000
  private val HeadWords: Array[String] =
    ("the and of to in is it that for on with as was at by from have not " +
      "this but are or an be they which you all we more can said there use " +
      "each how their if will up other about out many then them these so").split(' ')
  val Langs: Array[String] = Array("en", "de", "es", "fr", "zh")

  /** Log-uniform index in [0, n): index i is drawn with probability
    * roughly proportional to 1/(i+1). */
  def zipfIndex(r: SplittableRandom, n: Int): Int =
    math.max(0, math.min(n - 1, math.exp(r.nextDouble() * math.log(n.toDouble)).toInt - 1))

  def word(r: SplittableRandom): String = {
    val k = zipfIndex(r, VocabSize)
    if (k < HeadWords.length) HeadWords(k) else "w" + k
  }

  def words(r: SplittableRandom, lo: Int, hi: Int): String =
    Array.fill(lo + r.nextInt(hi - lo + 1))(word(r)).mkString(" ")

  /** The seeded pool of query texts, 3 to 8 words each. */
  def queryPool(seed: Long, n: Int = 1000): IndexedSeq[String] = {
    val r = new SplittableRandom(seed ^ 0x51ab1eL)
    IndexedSeq.fill(n)(words(r, 3, 8))
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
