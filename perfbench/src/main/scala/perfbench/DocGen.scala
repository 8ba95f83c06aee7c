package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded curation corpus in the shape of the `documents` fixture
  * (doc_id, text, lang, source, n_chars): lowercase word texts of 12-90
  * words over a small vocabulary, with stated shares of
  *  - exact duplicates (5%): the text of an earlier doc under a new id;
  *  - near duplicates (5%): an earlier doc's text with one late word
  *    replaced;
  *  - benchmark contamination (1%): a 6-word run copied from one of the
  *    benchmark docs (doc_id < 10, the q177 split).
  * Random texts also share 4-grams with the benchmark by chance; the
  * generator computes the full contaminated set exactly, the way
  * `Decontaminate` does (lowercased whitespace tokens, word 4-grams). */
object DocGen {

  final case class Doc(id: Long, text: String, lang: String, source: String, nChars: Long)

  final case class Corpus(docs: Seq[Doc], contaminated: Set[Long],
      exactDups: Int, nearDups: Int, planted: Int)

  private val vocab = Array("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "join", "vector",
    "customer", "the", "a", "index", "cache", "shard", "token", "plan", "page", "log",
    "node", "task", "stage", "file", "block", "record", "field", "schema", "cube")
  private val langs = Array("en", "en", "en", "en", "zh", "zh", "de", "de", "fr", "fr", "es", "es",
    "en", "fr")

  val BenchmarkIds: Long = 10L
  val Gram: Int = 4

  def generate(seed: Long, n: Int): Corpus = {
    val r = new SplittableRandom(seed)
    val docs = new mutable.ArrayBuffer[Doc](n)
    var exact = 0; var near = 0; var planted = 0
    def fresh(): Array[String] =
      Array.fill(12 + r.nextInt(79))(vocab(r.nextInt(vocab.length)))
    var i = 0
    while (i < n) {
      val roll = r.nextInt(100)
      val words: Array[String] =
        if (i >= 100 && roll < 5) {
          exact += 1
          docs(r.nextInt(i)).text.split(" ")
        } else if (i >= 100 && roll < 10) {
          near += 1
          val w = docs(r.nextInt(i)).text.split(" ").clone()
          val k = w.length - 1 - r.nextInt(math.min(3, w.length))
          w(k) = vocab((vocab.indexOf(w(k)) + 1) % vocab.length)
          w
        } else if (i >= BenchmarkIds && roll == 10) {
          planted += 1
          val src = docs(r.nextInt(BenchmarkIds.toInt)).text.split(" ")
          val at = r.nextInt(src.length - 6)
          val w = fresh()
          val pos = r.nextInt(w.length - 6)
          System.arraycopy(src, at, w, pos, 6)
          w
        } else fresh()
      val text = words.mkString(" ")
      docs += Doc(i.toLong, text, langs(r.nextInt(langs.length)), s"src${i % 7}", text.length.toLong)
      i += 1
    }
    val benchGrams = docs.take(BenchmarkIds.toInt).flatMap(d => grams(d.text)).toSet
    val contaminated = docs.drop(BenchmarkIds.toInt)
      .filter(d => grams(d.text).exists(benchGrams.contains)).map(_.id).toSet
    Corpus(docs.toSeq, contaminated, exact, near, planted)
  }

  private def grams(text: String): Iterator[String] = {
    val w = text.split(" ")
    if (w.length < Gram) Iterator(w.mkString(" "))
    else w.sliding(Gram).map(_.mkString(" "))
  }
}
