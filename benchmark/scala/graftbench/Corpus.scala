package graftbench

import java.util.Random

import scala.collection.mutable.ArrayBuffer

/** One generated document, in the shape of the `documents` table:
  * (doc_id, text, lang, source, n_chars). */
final case class Doc(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)

/** Seeded corpus generator. The same seed gives the same corpus.
  *
  * Shape: a Zipf(1.0) vocabulary, 20 sources whose boilerplate header
  * and footer phrases recur across many documents (the boilerplate
  * stage's target), a few short and url-soup documents (the quality
  * gate's target), and planted re-crawls: exact copies under new ids
  * and near copies with a few tokens edited (the dedup stages'
  * targets). Planted copies always carry ids above every original, so
  * keep-min-id dedup keeps the original. */
object Corpus {
  val Langs: Array[String] = Array("en", "en", "en", "en", "zh", "zh",
    "es", "es", "fr", "fr", "de")
  val Sources = 20

  final case class Generated(docs: Vector[Doc], exactCopyIds: Set[Long],
      nearCopyIds: Set[Long])

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "to",
    "vi", "be", "da", "fe", "gu", "ha", "ji", "po", "qu", "re", "zo")

  final class Vocab(size: Int, rng: Random) {
    val words: Array[String] = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < size) {
        val n = 1 + rng.nextInt(3)
        seen += (0 until n).map(_ => Syllables(rng.nextInt(Syllables.length))).mkString
      }
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(r: Random): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(size - 1, if (i >= 0) i else -i - 1))
    }
  }

  /** `base` original documents plus `plantedPermille` exact and the
    * same share of near re-crawls. */
  def generate(seed: Long, base: Int, plantedPermille: Int = 100): Generated = {
    val rng = new Random(seed * 0x9E3779B97F4A7C15L + 17L)
    val vocab = new Vocab(4000, rng)
    val phrases = Array.fill(Sources)(
      (Array.fill(6)(vocab.draw(rng)), Array.fill(6)(vocab.draw(rng))))
    val docs = ArrayBuffer[Doc]()
    var i = 0
    while (i < base) {
      val src = rng.nextInt(Sources)
      val lang = Langs(rng.nextInt(Langs.length))
      val roll = rng.nextInt(100)
      val toks = ArrayBuffer[String]()
      if (roll < 5) {
        // too short for the quality gate
        (0 until 5 + rng.nextInt(10)).foreach(_ => toks += vocab.draw(rng))
      } else if (roll < 8) {
        // url soup: mean token length far above the gate's 12
        (0 until 30 + rng.nextInt(30)).foreach(_ =>
          toks += "http" + (0 until 8).map(_ => vocab.draw(rng)).mkString)
      } else {
        val boiler = rng.nextInt(100) < 60
        if (boiler) toks ++= phrases(src)._1
        (0 until 20 + rng.nextInt(80)).foreach(_ => toks += vocab.draw(rng))
        if (boiler) toks ++= phrases(src)._2
      }
      docs += mk(i.toLong, toks, lang, src)
      i += 1
    }
    val originals = docs.toVector
    val nPlant = (base.toLong * plantedPermille / 1000).toInt
    var nextId = base.toLong
    val exact = ArrayBuffer[Long]()
    val near = ArrayBuffer[Long]()
    (0 until nPlant).foreach { _ =>
      val o = originals(rng.nextInt(base))
      docs += o.copy(doc_id = nextId)
      exact += nextId
      nextId += 1
    }
    (0 until nPlant).foreach { _ =>
      val o = originals(rng.nextInt(base))
      val toks = o.text.split(" ").toBuffer
      (0 until 2).foreach { _ =>
        toks(rng.nextInt(toks.size)) = vocab.draw(rng)
      }
      docs += mk(nextId, toks, o.lang, o.source.drop(3).toInt)
      near += nextId
      nextId += 1
    }
    Generated(docs.toVector, exact.toSet, near.toSet)
  }

  def mk(id: Long, toks: collection.Seq[String], lang: String, src: Int): Doc = {
    val text = toks.mkString(" ")
    Doc(id, text, lang, s"src$src", text.length.toLong)
  }

  /** A fresh document for table writes. */
  def fresh(id: Long, rng: Random, vocab: Vocab): Doc = {
    val toks = (0 until 20 + rng.nextInt(60)).map(_ => vocab.draw(rng))
    mk(id, toks, Langs(rng.nextInt(Langs.length)), rng.nextInt(Sources))
  }
}
