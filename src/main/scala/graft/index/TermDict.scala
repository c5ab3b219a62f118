package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Query-side dictionary access with a bounded driver footprint.
  *
  * The reference keeps an FST over all words in LMDB and streams the
  * relevant key ranges per query (crates/milli/src/index.rs:62 words
  * FST; compute_derivations.rs walks it). The Spark analogue must NOT
  * collect the dictionary to the driver: at web scale the vocabulary is
  * 10^8-10^9 terms. This class:
  *
  *  - small dictionaries (≤ `collectThreshold` terms): one driver-side
  *    read (no Spark job), all lookups served from an in-memory
  *    map/array — interactive-query fast, and exactly what a 60k-doc
  *    index wants;
  *  - large dictionaries: per-query *bucketed* loads with predicate
  *    pushdown on the dict parquet — exact-term lookups push an `IN`
  *    filter, typo expansion loads only the query word's length band
  *    (|len(t)−len(w)| ≤ budget is a necessary edit-distance condition),
  *    prefix expansion pushes a startsWith range with an optional row
  *    cap (TakeOrdered, never an unbounded collect). Loaded bands are
  *    cached in a size-capped LRU, so a long-lived serving process over
  *    a changing workload stays bounded.
  */
final class TermDict(spark: SparkSession, dictPath: String,
                     collectThreshold: Long = TermDict.DefaultCollectThreshold,
                     cacheEntries: Int = TermDict.DefaultCacheEntries)
    extends Serializable {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  /** The one dict/ (or prefix_dict/) relation, read with the writers'
    * fixed schema: no schema-inference job. */
  @transient private lazy val dictDf =
    spark.read.schema(TermDict.SchemaDdl).parquet(dictPath)

  /** Term count without a Spark job: dict/ and prefix_dict/ hold one
    * row per term, so it is the sum of the parquet footers' row counts,
    * read on the driver. */
  lazy val size: Long = LocalParquet.rowCount(spark.sparkContext.hadoopConfiguration, dictPath)

  /** Small-mode full map (None above the threshold — callers must use
    * the bucketed APIs), read on the driver without a Spark job. */
  lazy val fullMap: Option[Map[String, Long]] =
    if (size <= collectThreshold)
      Some(LocalParquet.readAll(spark.sparkContext.hadoopConfiguration, dictPath,
        StructType.fromDDL("term STRING, df BIGINT")).iterator
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    else None

  private val bandCache = TermDict.lru[(Int, Int), (Array[String], Array[Long])](cacheEntries)
  private val prefixCache = TermDict.lru[(String, Int), Array[(String, Long)]](cacheEntries)

  /** current cached-entry counts (specs assert the cap holds) */
  def cacheSizes: (Int, Int) = (bandCache.size(), prefixCache.size())

  /** Batch df lookup (one pushed-down scan in large mode). */
  def lookup(terms: Seq[String]): Map[String, Long] = fullMap match {
    case Some(m) => terms.iterator.flatMap(t => m.get(t).map(t -> _)).toMap
    case None =>
      if (terms.isEmpty) Map.empty
      else dictDf.filter($"term".isin(terms.distinct: _*))
        .select($"term", $"df").as[(String, Long)].collect().toMap
  }

  def contains(term: String): Boolean = lookup(Seq(term)).contains(term)

  /** All terms with length in [lo, hi], sorted ascending, with their
    * dfs (parallel arrays). Cached per band (LRU). */
  def lengthBand(lo: Int, hi: Int): (Array[String], Array[Long]) = {
    val k = (lo, hi)
    val hit = bandCache.get(k)
    if (hit != null) hit
    else {
      val rows = fullMap match {
        case Some(m) => m.iterator
          .filter { case (t, _) => t.length >= lo && t.length <= hi }.toArray
        case None => dictDf.filter($"len".between(lo, hi))
          .select($"term", $"df").as[(String, Long)].collect()
      }
      val sorted = rows.sortBy(_._1)
      val v = (sorted.map(_._1), sorted.map(_._2))
      bandCache.put(k, v)
      v
    }
  }

  /** (term, df) pairs with the given prefix, sorted ascending, capped at
    * `cap` rows (the reference's MAX_PREFIX_COUNT guard,
    * compute_derivations.rs:215 — a 1-char prefix over a web-scale
    * vocabulary must not collect millions of terms to the driver; the
    * cap is pushed into the scan as TakeOrdered in large-dict mode). */
  def withPrefix(p: String, cap: Int = Int.MaxValue): Array[(String, Long)] = {
    val k = (p, cap)
    val hit = prefixCache.get(k)
    if (hit != null) hit
    else {
      val v = fullMap match {
        case Some(m) =>
          val all = m.iterator.filter(_._1.startsWith(p)).toArray.sortBy(_._1)
          if (cap < all.length) all.take(cap) else all
        case None =>
          val base = dictDf.filter($"term".startsWith(p)).select($"term", $"df")
          if (cap == Int.MaxValue)
            base.as[(String, Long)].collect().sortBy(_._1)
          else base.orderBy($"term").limit(cap).as[(String, Long)].collect()
      }
      prefixCache.put(k, v)
      v
    }
  }
}

object TermDict {
  /** Access-ordered, synchronized LRU with a hard entry cap: caches must
    * not grow monotonically in a long-lived serving process. */
  private[graft] def lru[K, V](cap: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          this.size() > cap
      })

  /** Above this many terms the dictionary is no longer collected whole;
    * ~2M terms ≈ tens of MB — comfortably a driver map, while real
    * web-scale vocabularies (10^8+) route to the bucketed path. */
  final val DefaultCollectThreshold: Long = 2L << 20

  /** The columns TermDict reads: dict/ and prefix_dict/ both carry
    * them (dict/'s termId and cf are pruned). */
  final val SchemaDdl = "term STRING, df BIGINT, len INT"

  /** LRU entry cap for the band/prefix caches. */
  final val DefaultCacheEntries: Int = 64
}
