package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

/** A seeded text corpus with a Zipfian vocabulary and planted
  * redundancy, written as JSON lines `{doc_id, source, text}`.
  *
  * Sentences are 6 to 14 words drawn from a Zipf(1.1) law over `vocab`
  * pronounceable words and joined with ". ". Of the documents after the
  * first [[EvalDocs]] (the held-out eval set):
  *  - [[Shares]]`.exact` repeat an earlier document verbatim;
  *  - `near` repeat one with two words of every sentence redrawn;
  *  - `paragraph` include a sentence of an earlier document;
  *  - `span` include a run of 12 to 18 consecutive words of one;
  *  - `contaminated` include a 10-word passage of an eval document. */
object CorpusGen {
  val EvalDocs = 10
  val Sources = Seq("web", "news", "forum", "books")

  final case class Shares(exact: Double = 0.05, near: Double = 0.05, paragraph: Double = 0.05,
      span: Double = 0.05, contaminated: Double = 0.02)

  final case class Doc(id: Long, source: String, text: String)

  private val syllables = Seq("ka", "lo", "mi", "ra", "te", "su", "po", "ne", "di", "va",
    "ro", "li", "sa", "tu", "me", "zo", "ga", "fi", "be", "no", "ha", "ju", "ke", "wa")

  def words(rnd: Random, n: Int): IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      seen += (1 to 2 + rnd.nextInt(3)).map(_ => syllables(rnd.nextInt(syllables.size))).mkString
    }
    seen.toIndexedSeq
  }

  /** Inverse-CDF sampler of Zipf(s) ranks over `n` items. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(rnd: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def generate(seed: Long, nDocs: Int, vocab: Int, shares: Shares = Shares()): IndexedSeq[Doc] = {
    val rnd = new Random(seed)
    val dict = words(rnd, vocab)
    val zipf = new Zipf(vocab, 1.1)
    def sentence(): String = (1 to 6 + rnd.nextInt(9)).map(_ => dict(zipf.draw(rnd))).mkString(" ")
    def fresh(): String = (1 to 3 + rnd.nextInt(6)).map(_ => sentence()).mkString(". ")
    val docs = mutable.ArrayBuffer.empty[Doc]
    def earlier(): String = docs(EvalDocs + rnd.nextInt(math.max(1, docs.size - EvalDocs))).text
    (0 until nDocs).foreach { i =>
      val u = rnd.nextDouble()
      val text =
        if (i < EvalDocs + 20) fresh()
        else if (u < shares.exact) earlier()
        else if (u < shares.exact + shares.near) {
          // two common words swapped in per sentence: no sentence and no
          // 12-word run survives verbatim, but the word set barely moves
          earlier().split("\\. ").map { s =>
            val w = s.split(" ")
            Seq(w.length / 3, 2 * w.length / 3).foreach(k => w(k) = dict(zipf.draw(rnd)))
            w.mkString(" ")
          }.mkString(". ")
        } else if (u < shares.exact + shares.near + shares.paragraph) {
          val s = earlier().split("\\. ")
          fresh() + ". " + s(rnd.nextInt(s.length))
        } else if (u < shares.exact + shares.near + shares.paragraph + shares.span) {
          val w = earlier().split(" ")
          val len = math.min(w.length, 12 + rnd.nextInt(7))
          val at = rnd.nextInt(w.length - len + 1)
          fresh() + " " + w.slice(at, at + len).mkString(" ") + " " + sentence()
        } else if (u < shares.exact + shares.near + shares.paragraph + shares.span +
            shares.contaminated) {
          val w = docs(rnd.nextInt(EvalDocs)).text.split(" ")
          val at = rnd.nextInt(math.max(1, w.length - 10))
          fresh() + " " + w.slice(at, at + 10).mkString(" ") + " " + sentence()
        } else fresh()
      docs += Doc(i.toLong, Sources(rnd.nextInt(Sources.size)), text)
    }
    docs.toIndexedSeq
  }

  def writeJsonLines(path: Path, docs: Seq[Doc]): Unit = {
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try docs.foreach { d =>
      w.write(s"""{"doc_id":${d.id},"source":"${d.source}","text":"${escape(d.text)}"}""")
      w.write('\n')
    } finally w.close()
  }

  private def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c => c.toString
  }
}
