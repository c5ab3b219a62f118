package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

import graft.corpus.SourceFile

/** Dump export / import (S5; reference crates/dump — a v6 dump is a
  * tarball of per-index `documents.jsonl` + `settings.json` +
  * metadata). The Spark-first re-expression keeps the same logical
  * layout but as a directory of distributed JSONL part files — at
  * 10^12 documents a dump is a parallel-written dataset, not a single
  * archive stream:
  *
  *   dumpDir/documents/     JSONL, one object per document (all external
  *                          fields + content — everything needed to
  *                          rebuild from scratch)
  *   dumpDir/manifest.json  the index's [[Manifest]] (its build settings:
  *                          termBuckets, blockSize, docsPerShard,
  *                          positions, stop words, tokenizer settings)
  *                          plus the dump's own keys: the writer's
  *                          `layout` ([[IndexBuild.FormatVersion]]) and
  *                          the derived tables to rebuild
  *                          (`facetColumns`, `hasPrefixTables`). Written
  *                          and read on the driver, no Spark job
  *
  * Re-export: `dumpDir/_FINGERPRINT` (source dir, its
  * [[Lineage.generation]] and [[Manifest.CodecTag]], written last) is
  * the dump's signature. It makes exporting an unchanged index a no-op;
  * after an append, delete or killed export, or over a dump written
  * under another manifest codec, the dump is rewritten. A dump without
  * `manifest.json`, or whose manifest has no `layout`, was not written
  * by this engine's export and is refused with "re-export".
  *
  * Import rebuilds through the standard lineage-committed pipeline and
  * records the dump's signature in `indexDir/_FINGERPRINT` before the
  * first stage. Importing the same signature again resumes: an
  * interrupted import finishes, a completed one writes nothing. A
  * directory holding committed stages of anything else (another
  * signature, or no import at all) is refused — a rewritten dump
  * imports into a fresh directory.
  */
object Dump {

  /** The signature of the finished dump at `dumpDir` (its
    * `_FINGERPRINT`, written last by [[exportDump]]). */
  def signature(spark: SparkSession, dumpDir: String): String =
    Lineage.readMarker(spark, s"$dumpDir/${IndexBuild.FprFile}").getOrElse(
      throw new IllegalArgumentException(s"dump at $dumpDir has no " +
        s"${IndexBuild.FprFile}: its export did not finish; re-export it"))

  def exportDump(spark: SparkSession, indexDir: String, dumpDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val m = Manifest.read(spark, indexDir)
    // multi-field indexes flatten to the concatenated content column in
    // this dump format — exporting one would silently lose the field
    // structure on import, so fail fast (reference dumps carry full
    // per-index settings; multi-field dump support is a format v2)
    require(m.fields.isEmpty,
      "exportDump does not support multi-field indexes: the documents.jsonl " +
        "format stores only the concatenated content column")
    val marker = s"$dumpDir/${IndexBuild.FprFile}"
    val sig = s"$indexDir:${Lineage.generation(spark, indexDir)}:${Manifest.CodecTag}"
    if (!Lineage.readMarker(spark, marker).contains(sig)) {
      // an old signature must not vouch for a half-rewritten dump
      new Path(marker).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new Path(marker), false)
      exportBody(spark, indexDir, dumpDir, m)
      Lineage.writeMarker(spark, marker, sig)
    }
  }

  private def exportBody(spark: SparkSession, indexDir: String, dumpDir: String,
                         m: Manifest): Unit = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    // LIVE documents only: a dump taken after delete() but before
    // compact() must not resurrect tombstoned docs on import
    IndexBuild.liveDocs(spark, indexDir, Nil)
      .select($"repo", $"path", $"commit", $"lang", $"content")
      .write.mode("overwrite").json(s"$dumpDir/documents")

    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // facet indexes are derived tables: record their columns so import
    // rebuilds them (the reference dump's settings capture filterable
    // attributes the same way)
    val facetCols: Seq[String] = {
      val fp = new Path(s"$indexDir/facets")
      if (fs.exists(fp)) fs.listStatus(fp).map(_.getPath.getName).toSeq.sorted
      else Nil
    }
    // precomputed prefix tables are a build artifact, not a setting —
    // but WHETHER they exist changes serving behavior (capped on-the-fly
    // fallback vs one pseudo-term read), so record it and rebuild on
    // import, like facetColumns
    Lineage.writeJson(spark, Manifest.path(dumpDir), m.toJson ++ Map(
      "layout" -> IndexBuild.FormatVersion, "facetColumns" -> facetCols,
      "hasPrefixTables" -> fs.exists(new Path(s"$indexDir/prefix_meta"))))
  }

  /** Rebuild an index from a dump into `indexDir` (see the import
    * contract above). Settings stored in the dump win; `numPartitions`
    * is execution-level (cluster-size dependent), so it comes from the
    * caller's cfg. Docids are assigned by (repo, path, commit) rank. */
  def importDump(spark: SparkSession, dumpDir: String, indexDir: String,
                 cfg: IndexConfig = IndexConfig()): Unit = {
    import spark.implicits._
    val sig = signature(spark, dumpDir)
    val settings = Lineage.readJson(spark, Manifest.path(dumpDir)).filter(_.has("layout"))
      .getOrElse(throw new IllegalArgumentException(s"dump at $dumpDir has no " +
        "manifest.json with a layout: it was written by an older engine; re-export it"))
    val restored = Manifest.fromJson(settings).config(cfg.numPartitions)
    val marker = s"$indexDir/${IndexBuild.FprFile}"
    Lineage.readMarker(spark, marker) match {
      case Some(`sig`) => ()
      case found =>
        require(found.isEmpty && !Lineage.hasCommits(spark, indexDir),
          s"index at $indexDir already holds committed stages of " +
            s"${found.fold("a non-import build")(f => s"dump $f")}, not of dump " +
            s"$sig: import into a fresh directory")
        Lineage.writeMarker(spark, marker, sig)
    }
    // explicit schema: the documents format is fixed (5 string fields),
    // and schema INFERENCE would scan every JSONL byte before the build
    // even starts — a full extra corpus pass per import call, paid even
    // when every build stage is already committed and resumes for free
    val docsSchema = StructType.fromDDL(
      "repo string, path string, commit string, lang string, content string")
    val docs = spark.read.schema(docsSchema).json(s"$dumpDir/documents")
      .select($"repo", $"path", $"commit", $"lang", $"content")
      .as[SourceFile]
    IndexBuild.build(spark, docs, indexDir, restored)
    // rebuild the derived facet indexes recorded in the dump settings
    val facetCols = Option(settings.get("facetColumns")).toSeq.flatMap(_.asScala).map(_.asText)
    if (facetCols.nonEmpty) IndexBuild.buildFacetIndex(spark, indexDir, facetCols)
    // the source index served prefixes from precomputed tables: rebuild
    // them so the import doesn't silently downgrade to the capped
    // on-the-fly path for hot prefixes
    if (Option(settings.get("hasPrefixTables")).exists(_.asBoolean))
      IndexBuild.buildPrefixIndex(spark, indexDir, restored)
  }
}
