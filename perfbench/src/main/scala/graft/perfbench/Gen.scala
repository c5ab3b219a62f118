package graft.perfbench

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.corpus.SourceFile

/** Seeded corpus generator for the benchmark workloads.
  *
  * Every document is a pure function of (seed, document index), so the
  * driver can regenerate any document to pick query terms that are known
  * to occur, and Spark can generate the corpus in parallel. Content has
  * three vocabularies:
  *  - head: `HeadWords` words drawn Zipf-Mandelbrot (q = 10), so the top
  *    terms occur in roughly half the documents;
  *  - mid: `MidWords` words drawn Zipf (q = 1), a long tail of rare
  *    terms with document frequencies from hundreds down to one;
  *  - unique: `uniquePerDoc` identifiers per document (hashes, literals),
  *    each in exactly one document.
  */
final case class CorpusSpec(seed: Long, nDocs: Int, uniquePerDoc: Int) {

  import CorpusSpec._
  import Gen._

  /** Head word of Zipf rank `r` (4-8 letters). */
  def head(r: Int): String = word(seed ^ 0x4ead, r, 4 + (r % 5))

  /** Mid word of Zipf rank `r` (6-10 letters; disjoint from head words
    * by its leading syllable set). */
  def mid(r: Int): String = "m" + word(seed ^ 0x31d, r, 5 + (r % 5))

  /** The j-th unique identifier of document i (13 letters). */
  def unique(i: Long, j: Int): String =
    "u" + word(seed ^ 0x0417, i * 1024 + j, 12)

  /** Token ranks of document i: (head ranks, mid ranks). */
  def ranks(i: Long): (Array[Int], Array[Int]) = {
    val h = Array.tabulate(HeadPerDoc)(j =>
      zipf(unit(mix(seed ^ (i * 7919 + j))), HeadWords, 10.0))
    val m = Array.tabulate(MidPerDoc)(j =>
      zipf(unit(mix(seed ^ (i * 104729 + j + 0x5eed))), MidWords, 1.0))
    (h, m)
  }

  val langs: Array[String] = Array("scala", "rust", "py", "js", "java", "go")

  def lang(i: Long): String = langs((mix(seed ^ (i + 1)) >>> 1).toInt.abs % langs.length)

  def file(i: Long): SourceFile = {
    val (h, m) = ranks(i)
    val sb = new java.lang.StringBuilder(HeadPerDoc * 9 + MidPerDoc * 10 + uniquePerDoc * 15)
    var hi = 0; var mi = 0; var ui = 0; var line = 0
    // lines of 6-9 tokens: head words with mid words and identifiers
    // interleaved, the way identifiers sit among keywords in code
    while (hi < h.length || mi < m.length || ui < uniquePerDoc) {
      val width = 6 + line % 4
      var t = 0
      while (t < width && (hi < h.length || mi < m.length || ui < uniquePerDoc)) {
        if (t > 0) sb.append(' ')
        val pickUnique = ui < uniquePerDoc && (t % 2 == 1 || (hi >= h.length && mi >= m.length))
        if (pickUnique) { sb.append(unique(i, ui)); ui += 1 }
        else if (mi < m.length && (t == 3 || hi >= h.length)) { sb.append(mid(m(mi))); mi += 1 }
        else if (hi < h.length) { sb.append(head(h(hi))); hi += 1 }
        else { sb.append(mid(m(mi))); mi += 1 }
        t += 1
      }
      sb.append(if (line % 3 == 2) ";\n" else "\n")
      line += 1
    }
    val l = lang(i)
    SourceFile(
      repo = f"org-${(mix(seed ^ i ^ 0x7e90) >>> 1) % 97}%02d/proj-${i % 211}",
      path = s"src/${head((i % 50).toInt)}/${mid((i % 997).toInt)}$i.$l",
      commit = f"${mix(seed ^ i ^ 0xc0ffee)}%016x",
      lang = l,
      content = sb.toString)
  }

  /** Files [from, until) as a Dataset (generated by the executors). */
  def files(spark: SparkSession, from: Long, until: Long, partitions: Int): Dataset[SourceFile] = {
    import spark.implicits._
    val spec = this
    spark.range(from, until, 1, partitions).map(i => spec.file(i))
  }
}

object CorpusSpec {
  final val HeadPerDoc = 40
  final val MidPerDoc = 10
  final val HeadWords = 2000
  final val MidWords = 150000
}

object Gen {
  /** splitmix64 finalizer: the per-draw PRNG. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** uniform in [0, 1) */
  def unit(r: Long): Double = (r >>> 11) * (1.0 / (1L << 53))

  /** Zipf-Mandelbrot rank in [0, n) with P(r) ∝ 1 / (r + q), by the
    * continuous inverse CDF. */
  def zipf(u: Double, n: Int, q: Double): Int = {
    val r = math.pow(n + q, u) * math.pow(q, 1 - u) - q
    math.min(n - 1, math.max(0, r.toInt))
  }

  /** P(zipf(u, n, q) = r) for u uniform in [0, 1). */
  def zipfProb(r: Int, n: Int, q: Double): Double =
    if (r == n - 1) 1 - math.log((r + q) / q) / math.log((n + q) / q)
    else math.log((r + 1 + q) / (r + q)) / math.log((n + q) / q)

  private val Cons = "bcdfghjklmnprstvz"
  private val Vows = "aeiou"

  /** Pronounceable lowercase word of `len` letters for id `id`: a
    * consonant-vowel sequence, so the tokenizer keeps it whole. */
  def word(salt: Long, id: Long, len: Int): String = {
    val sb = new java.lang.StringBuilder(len)
    var r = mix(salt * 31 + id)
    var k = 0
    while (k < len) {
      if (k % 2 == 0) sb.append(Cons.charAt(((r >>> 1) % Cons.length).toInt))
      else sb.append(Vows.charAt(((r >>> 1) % Vows.length).toInt))
      r = if (k % 6 == 5) mix(r) else r / 17
      k += 1
    }
    sb.toString
  }
}
