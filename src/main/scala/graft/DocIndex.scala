package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.functions.Tokenizer
import graft.index.{IndexBuild, IndexConfig, Lineage, TermDict}
import graft.search.SearchEngine

/** Cached inverted index over a testdata `documents.parquet` table
  * (built once per (format stamp, sfDir) under /tmp; lineage-committed,
  * so repeated callers resume instead of rebuilding), and the one engine
  * cache: a bounded LRU keyed by (session, index dir) whose entry holds
  * the engine and the [[snapshot]] it was opened at. A lookup reuses the
  * engine only while the snapshot is unchanged, so after an append,
  * delete, facet or prefix rebuild it opens a fresh engine in place of
  * the old one. Engines hold index metadata and table readers, never
  * query results. A miss is single-flight per key. */
object DocIndex {

  /** One key's (snapshot, engine), guarded by the slot's lock. */
  private final class Slot { var entry: (String, SearchEngine) = null }

  private val slots = TermDict.lru[(SparkSession, String), Slot](32)

  /** /tmp home of the cached index `name` over `sfDir`, tagged with both
    * halves of the format stamp (Lineage.FormatStamp):
    * `graft-<name>-v<FormatVersion>n<NormalizerVersion>`. A layout or
    * normalizer bump moves every cached index to a fresh directory
    * instead of tripping the stamp, and the lookup deletes the name's
    * siblings under every other tag (including the untagged-normalizer
    * `-v<M>` form), so superseded copies do not pile up. */
  def cacheDir(name: String, sfDir: String): String = {
    val tag = s"v${IndexBuild.FormatVersion}n${Tokenizer.NormalizerVersion}"
    val Sibling = s"graft-${java.util.regex.Pattern.quote(name)}-(v\\d{1,9}(?:n\\d{1,9})?)".r
    Option(new java.io.File(CacheRoot).listFiles()).toSeq.flatten.foreach { f =>
      f.getName match {
        case Sibling(t) if t != tag => org.apache.hadoop.fs.FileUtil.fullyDelete(f): Unit
        case _ =>
      }
    }
    s"$CacheRoot/graft-$name-$tag/" + sfDir.replaceAll("[^a-zA-Z0-9.]+", "_")
  }

  private final val CacheRoot = "/tmp"

  def indexDir(sfDir: String): String = cacheDir("docindex", sfDir)

  /** The engine over the testdata index of `sfDir`, built on first use. */
  def engine(spark: SparkSession, sfDir: String): SearchEngine =
    cached(spark, indexDir(sfDir)) {
      val dir = indexDir(sfDir)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val cfg = IndexConfig(docsPerShard = 512, termBuckets = 4,
        blockSize = 128, numPartitions = 8, positions = true)
      IndexBuild.buildFromTable(spark, docs,
        docIdCol = "doc_id", contentCol = "text", langCol = "lang",
        sourceCol = "source", indexDir = dir, cfg = cfg)
      // facet value indexes (U4): adding a column here upgrades cached
      // indexes in place on next use
      IndexBuild.buildFacetIndex(spark, dir, Seq("len", "lang"))
      // precomputed prefix tables (U3)
      IndexBuild.buildPrefixIndex(spark, dir, cfg)
    }

  /** The cached engine over the built index at `dir`. */
  def open(spark: SparkSession, dir: String): SearchEngine = cached(spark, dir)(())

  /** The cached engine of (spark, dir) if its snapshot is current, else
    * `prepare` (idempotent build steps) and a new engine. The snapshot is
    * read before the open: a racing commit only makes the next lookup
    * reopen. */
  private def cached(spark: SparkSession, dir: String)(prepare: => Unit): SearchEngine = {
    val slot = slots.computeIfAbsent((spark, dir), _ => new Slot)
    slot.synchronized {
      if (slot.entry == null || snapshot(spark, dir) != slot.entry._1) {
        prepare
        slot.entry = (snapshot(spark, dir), new SearchEngine(spark, dir))
      }
      slot.entry._2
    }
  }

  /** [[Lineage.generation]] of `dir` plus the mtimes of its derived
    * tables' markers (a facet or prefix rebuild commits no stage but
    * rewrites tables an engine holds readers of). No Spark job. */
  private def snapshot(spark: SparkSession, dir: String): String = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = Seq("facets/*", "prefix_meta").flatMap { sub =>
      Option(fs.globStatus(new Path(s"$dir/$sub/${IndexBuild.FprFile}"))).toSeq.flatten
    }.map(m => s"${m.getPath.getParent.getName}:${m.getModificationTime}")
    (Lineage.generation(spark, dir) +: markers.sorted).mkString(",")
  }
}
