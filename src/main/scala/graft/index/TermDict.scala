package graft.index

import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Query-side dictionary access: every read is a pruned parquet read on
  * the driver, with no Spark job and no whole-dictionary map, so a
  * 31-term test index and a 10^9-term vocabulary take one route (the
  * reference streams the key ranges a query needs from one words FST,
  * crates/milli/src/index.rs:62, compute_derivations.rs:45-165).
  * [[IndexBuild.writeTerms]] partitions dict/ and prefix_dict/ by term
  * length ([[lenOf]]) and sorts each file by term in small row groups:
  *  - `lookup` reads, in the `len=|t|` directory, the files and row
  *    groups whose term range covers `t` ([[LocalParquet.KeyIndex]]);
  *  - `lengthBand` reads the band's `len=` directories whole (the typo
  *    walk needs every term with |len(t) − len(w)| ≤ budget);
  *  - `withPrefix` reads each `len ≥ |p|` directory over the prefix's
  *    range, at most `cap` rows per file (the reference's
  *    MAX_PREFIX_COUNT guard, compute_derivations.rs:215).
  * Answers sit in one synchronized LRU bounded in terms held. The
  * listing and footers are read once, so the owner must be a snapshot
  * of the index (a [[graft.search.SearchEngine]]). */
final class TermDict(spark: SparkSession, dictPath: String,
                     cacheTerms: Int = TermDict.DefaultCacheTerms) extends Serializable {
  import TermDict._

  /** The benchmark harness's constructor (perfbench SearchLayers is its
    * only caller): there is one read path, so the threshold is ignored. */
  def this(spark: SparkSession, dictPath: String, collectThreshold: Long) = this(spark, dictPath)

  @transient private lazy val conf = spark.sparkContext.hadoopConfiguration

  /** length → footer index of its `len=` directory. */
  @transient private lazy val byLen: Map[Int, LocalParquet.KeyIndex[String]] =
    LocalParquet.dataFiles(conf, dictPath).map(_.getPath.getParent.getName).distinct.collect {
      case s"len=$n" => n.toInt -> new LocalParquet.KeyIndex[String](conf, s"$dictPath/len=$n", "term")
    }.toMap

  @transient private lazy val cache = new Lru[Read, Terms](cacheTerms, _._1.length.max(1))

  private def cached(k: Read)(load: => Terms): Terms = cache.get(k).getOrElse(cache.put(k, load))

  /** Term count: dict/ and prefix_dict/ hold one row per term, so it is
    * the sum of the parquet footers' row counts. */
  lazy val size: Long = LocalParquet.rowCount(conf, dictPath)

  /** Terms held by the cache (specs assert its bound). */
  def cachedTerms: Long = cache.held

  /** term → df for the given terms that are in the dictionary. */
  def lookup(ts: Seq[String]): Map[String, Long] = {
    val known = ts.distinct.map(t => t -> cache.get(Term(t)))
    val read = known.collect { case (t, None) => t }.groupBy(lenOf).flatMap { case (n, want) =>
      val found = byLen.get(n).fold(Map.empty[String, Row])(_.rows(want, Schema))
      want.foreach(t => cache.put(Term(t), sorted(found.get(t).toSeq)))
      found.map { case (t, r) => t -> r.getLong(1) }
    }
    known.flatMap { case (t, c) => c.flatMap(_._2.headOption).map(t -> _) }.toMap ++ read
  }

  def contains(term: String): Boolean = lookup(Seq(term)).contains(term)

  /** All terms with length in [lo, hi], sorted ascending, with their
    * dfs (parallel arrays). */
  def lengthBand(lo: Int, hi: Int): (Array[String], Array[Long]) =
    cached(Band(lo, hi))(sorted(byLen.keys.filter(n => lo <= n && n <= hi).toSeq
      .flatMap(n => LocalParquet.readAll(conf, s"$dictPath/len=$n", Schema))))

  /** (term, df) pairs with the given prefix, sorted ascending: the `cap`
    * smallest in code-point order, the files' order. The range ends at
    * `p` + U+10FFFF (U+FFFF would stop below every supplementary
    * character). */
  def withPrefix(p: String, cap: Int = Int.MaxValue): Array[(String, Long)] = {
    val (ts, dfs) = cached(Prefix(p, cap)) {
      val rows = byLen.toSeq.flatMap { case (n, ix) =>
        if (n < lenOf(p)) Nil else ix.range(p, p + MaxCodePoint, Schema, cap)
      }
      sorted(if (rows.size <= cap) rows
        else rows.sortBy(r => Binary.fromString(r.getString(0))).take(cap))
    }
    ts.zip(dfs)
  }
}

object TermDict {
  /** A term's length as dict/'s `len` stores it and every length band
    * bounds it: UTF-16 units (`String.length`), the unit `LevWalk` and
    * the typo budgets count in. */
  def lenOf(term: String): Int = term.length

  private val MaxCodePoint = new String(Character.toChars(Character.MAX_CODE_POINT))

  /** The columns TermDict reads: dict/ and prefix_dict/ both carry them
    * (dict/'s `cf` is pruned). */
  final val SchemaDdl = "term STRING, df BIGINT"
  private val Schema = StructType.fromDDL(SchemaDdl)

  /** A cached answer, terms sorted, and what it answers. */
  private type Terms = (Array[String], Array[Long])
  private sealed trait Read
  private final case class Term(t: String) extends Read
  private final case class Band(lo: Int, hi: Int) extends Read
  private final case class Prefix(p: String, cap: Int) extends Read

  private def sorted(rows: Seq[Row]): Terms = {
    val s = rows.sortBy(_.getString(0))
    (s.map(_.getString(0)).toArray, s.map(_.getLong(1)).toArray)
  }

  /** Cache cap in terms held: about 64 MB of short terms. */
  final val DefaultCacheTerms: Int = 1 << 20

  /** Access-ordered, synchronized LRU bounded by the summed `weight` of
    * its values, so a long-lived serving process stays bounded. A value
    * heavier than the cap is returned but not kept. */
  private[graft] final class Lru[K, V](cap: Long, weight: V => Int) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
    private var total = 0L

    def held: Long = synchronized(total)
    def get(k: K): Option[V] = synchronized(Option(m.get(k)))
    def put(k: K, v: V): V = synchronized {
      val w = weight(v)
      if (w <= cap) {
        Option(m.put(k, v)).foreach(old => total -= weight(old))
        total += w
        val it = m.values.iterator
        while (total > cap) { total -= weight(it.next()); it.remove() }
      }
      v
    }
  }
}
