package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import graft.codec.JsonCodec
import graft.core._

/** Zipf(s) sampler over ranks 0 until n; rank 0 is the most frequent. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** One generated document `r<n>`: a title, 3 distinct Zipf tags out of 500
  * and a 20-word body over a 2 000-word vocabulary. */
final case class Doc(title: String, tags: Vector[String], body: Vector[String], n: Long) {
  def value: PoValue = PoObj(
    "title" -> PoStr(title),
    "tags" -> PoArr(tags.map(PoStr(_))),
    "body" -> PoStr(body.mkString(" ")),
    "n" -> PoInt(n))
}

/** Seeded document generator. The engine only ever sees its output. */
final class Corpus(seed: Long) {
  val TagCount = 500
  val VocabSize = 2000
  val TagsPerDoc = 3
  val WordsPerDoc = 20

  private val rnd = new SplittableRandom(seed)
  private val syllables = Vector("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "pe", "da", "gu", "fi", "zo", "be", "ha", "ju")
  /** 2 000 distinct lowercase words (3 syllables each, from 16^3 = 4096). */
  val vocab: Vector[String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < VocabSize)
      seen += (0 until 3).map(_ => syllables(r.nextInt(syllables.size))).mkString
    seen.toVector
  }
  val tagNames: Vector[String] = Vector.tabulate(TagCount)(i => f"t$i%03d")
  private val tagZipf = new Zipf(TagCount, 1.0)
  private val wordZipf = new Zipf(VocabSize, 1.0)

  private def tags(): Vector[String] = {
    val out = mutable.LinkedHashSet[String]()
    while (out.size < TagsPerDoc) out += tagNames(tagZipf.sample(rnd))
    out.toVector
  }

  /** The next document from the corpus stream. */
  def doc(n: Long): Doc = Doc(
    s"document $n ${vocab(rnd.nextInt(VocabSize))}",
    tags(),
    Vector.fill(WordsPerDoc)(vocab(wordZipf.sample(rnd))),
    n)

  def nextInt(bound: Int): Int = rnd.nextInt(bound)
}

object Corpus {
  def id(n: Long): String = s"r$n"

  /** The `[id, value]`-per-line entries file `Import.entriesFile` reads. */
  def jsonl(docs: collection.Seq[(String, Doc)]): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    docs.foreach { case (id, d) =>
      sb.append(JsonCodec.encodeString(PoArr(Vector(PoStr(id), d.value)))).append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }
}

/** Bench-side model of `bench:docs` and of what each lens must hold,
  * computed independently of the engine. */
final class DocModel {
  val docs = mutable.LinkedHashMap[String, Doc]()

  def put(id: String, d: Doc): Unit = docs(id) = d
  def remove(id: String): Unit = docs -= id

  /** tags lens: tag -> set of record ids. */
  def tagIndex: Map[String, Set[String]] = {
    val m = mutable.HashMap[String, mutable.Set[String]]()
    docs.foreach { case (id, d) => d.tags.foreach(t => m.getOrElseUpdate(t, mutable.Set()) += id) }
    m.map { case (k, v) => k -> v.toSet }.toMap
  }

  /** words lens: word -> number of occurrences across all bodies. */
  def wordCounts: Map[String, Long] = {
    val m = mutable.HashMap[String, Long]()
    docs.valuesIterator.foreach(_.body.foreach(w => m(w) = m.getOrElse(w, 0L) + 1L))
    m.toMap
  }
}

object DocModel {
  /** tag_sizes lens over the tags output: String(size) -> set of tags. */
  def sizesOf(index: Map[String, Set[String]]): Map[String, Set[String]] =
    index.toSeq.groupBy(_._2.size.toString).map { case (k, v) => k -> v.map(_._1).toSet }

  def setValue(ids: Set[String]): PoValue = PoSet.fromSeq(ids.toSeq.map(PoStr(_)))
}
