package graft

import org.apache.spark.sql.SparkSession

import graft.index.{IndexBuild, IndexConfig}
import graft.search.SearchEngine

/** Cached inverted index over a testdata `documents.parquet` table.
  * Built once per (format-version, sfDir) under /tmp; the build is
  * lineage-committed, so concurrent/repeated callers (each Verify /
  * Bench JVM) resume instead of rebuilding. */
object DocIndex {
  private val engines = scala.collection.concurrent.TrieMap.empty[String, SearchEngine]

  /** /tmp home of the cached index `name` over `sfDir`, versioned by
    * [[IndexBuild.FormatVersion]]: a format bump moves every cached
    * index to a fresh directory instead of tripping the format stamp. */
  def cacheDir(name: String, sfDir: String): String =
    s"/tmp/graft-$name-v${IndexBuild.FormatVersion}/" +
      sfDir.replaceAll("[^a-zA-Z0-9.]+", "_")

  def indexDir(sfDir: String): String = cacheDir("docindex", sfDir)

  def engine(spark: SparkSession, sfDir: String): SearchEngine =
    engines.getOrElseUpdate(sfDir, {
      val dir = indexDir(sfDir)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val cfg = IndexConfig(docsPerShard = 512, termBuckets = 4,
        blockSize = 128, numPartitions = 8, positions = true)
      IndexBuild.buildFromTable(spark, docs,
        docIdCol = "doc_id", contentCol = "text", langCol = "lang",
        sourceCol = "source", indexDir = dir, cfg = cfg)
      // facet value indexes (U4): lineage-committed, so adding a column
      // here upgrades cached indexes in place on next use
      IndexBuild.buildFacetIndex(spark, dir, Seq("len", "lang"))
      // precomputed prefix tables (U3): lineage-committed one-time stage
      IndexBuild.buildPrefixIndex(spark, dir, cfg)
      new SearchEngine(spark, dir)
    })
}
