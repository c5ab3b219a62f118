package graft.index

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.corpus.SourceFile

/** Dump export / import (S5; reference crates/dump — a v6 dump is a
  * tarball of per-index `documents.jsonl` + `settings.json` +
  * metadata). The Spark-first re-expression keeps the same logical
  * layout but as a directory of distributed JSONL part files — at
  * 10^12 documents a dump is a parallel-written dataset, not a single
  * archive stream:
  *
  *   dumpDir/documents/   JSONL, one object per document (all external
  *                        fields + content — everything needed to
  *                        rebuild from scratch)
  *   dumpDir/settings/    one-row JSON ([[SettingsSchemaDdl]]): the
  *                        writer's `layout` ([[IndexBuild.FormatVersion]]),
  *                        index parameters that affect build semantics
  *                        (termBuckets, blockSize, docsPerShard,
  *                        positions), stop words, tokenizer settings and
  *                        the derived tables to rebuild
  *
  * Re-export: `dumpDir/_FINGERPRINT` (source dir, its
  * [[Lineage.generation]] and a hash of [[SettingsSchemaDdl]], written
  * last) is the dump's signature. It makes exporting an unchanged index
  * a no-op; after an append, delete or killed export, or over a dump
  * written with other settings fields, the dump is rewritten.
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

  /** The settings row's fixed schema: the export writes it and the
    * import reads it (no inference job). A dump without `layout` was
    * written by an older engine and is refused with "re-export". */
  final val SettingsSchemaDdl =
    "layout INT, docsPerShard INT, termBuckets INT, blockSize INT, " +
      "positions BOOLEAN, stopWords ARRAY<STRING>, facetColumns ARRAY<STRING>, " +
      "separatorTokens ARRAY<STRING>, nonSeparatorTokens ARRAY<STRING>, " +
      "tokenizerDictionary ARRAY<STRING>, localizedAttributes ARRAY<STRING>, " +
      "cjkUnigrams STRING, hasPrefixTables BOOLEAN"

  /** The signature of the finished dump at `dumpDir` (its
    * `_FINGERPRINT`, written last by [[exportDump]]). */
  def signature(spark: SparkSession, dumpDir: String): String =
    Lineage.readMarker(spark, s"$dumpDir/${IndexBuild.FprFile}").getOrElse(
      throw new IllegalArgumentException(s"dump at $dumpDir has no " +
        s"${IndexBuild.FprFile}: its export did not finish; re-export it"))

  def exportDump(spark: SparkSession, indexDir: String, dumpDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    Lineage.requireFormat(spark, indexDir)
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // multi-field indexes flatten to the concatenated content column in
    // this dump format — exporting one would silently lose the field
    // structure on import, so fail fast (reference dumps carry full
    // per-index settings; multi-field dump support is a format v2)
    require(!fs.exists(new Path(s"$indexDir/fields")),
      "exportDump does not support multi-field indexes: the documents.jsonl " +
        "format stores only the concatenated content column")
    val marker = s"$dumpDir/${IndexBuild.FprFile}"
    val sig = s"$indexDir:${Lineage.generation(spark, indexDir)}:" +
      Sha.hex(SettingsSchemaDdl).take(8)
    if (!Lineage.readMarker(spark, marker).contains(sig)) {
      // an old signature must not vouch for a half-rewritten dump
      new Path(marker).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new Path(marker), false)
      exportBody(spark, indexDir, dumpDir, fs)
      Lineage.writeMarker(spark, marker, sig)
    }
  }

  private def exportBody(spark: SparkSession, indexDir: String, dumpDir: String,
                         fs: org.apache.hadoop.fs.FileSystem): Unit = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    // LIVE documents only: a dump taken after delete() but before
    // compact() must not resurrect tombstoned docs on import
    IndexBuild.liveDocs(spark, indexDir)
      .select($"repo", $"path", $"commit", $"lang", $"content")
      .write.mode("overwrite").json(s"$dumpDir/documents")

    val stats = IndexBuild.readStats(spark, indexDir)
    val stop: Seq[String] = IndexBuild.readStopWords(spark, indexDir).toSeq.sorted
    val positions = fs.exists(new Path(s"$indexDir/positions"))
    // facet indexes are derived tables: record their columns so import
    // rebuilds them (the reference dump's settings capture filterable
    // attributes the same way)
    val facetCols: Seq[String] = {
      val fp = new Path(s"$indexDir/facets")
      if (fs.exists(fp)) fs.listStatus(fp).map(_.getPath.getName).toSeq.sorted
      else Nil
    }
    // tokenizer settings travel with the dump (segmentation must match
    // on rebuild or indexed terms change); `separatorTokens` entries mix
    // single- and multi-char strings, like the reference's
    val (seps, nonSeps, tokDict, locales, cjk) =
      IndexBuild.tokSettingsRow(IndexBuild.readTokSettings(spark, indexDir))
    // precomputed prefix tables are a build artifact, not a setting —
    // but WHETHER they exist changes serving behavior (capped on-the-fly
    // fallback vs one pseudo-term read), so record it and rebuild on
    // import, like facetColumns
    val hasPrefixTables = fs.exists(new Path(s"$indexDir/prefix_meta"))
    spark.createDataFrame(java.util.List.of(Row(IndexBuild.FormatVersion,
        stats("docsPerShard").toInt, stats("termBuckets").toInt,
        stats("blockSize").toInt, positions, stop, facetCols,
        seps, nonSeps, tokDict, locales, cjk, hasPrefixTables)),
        StructType.fromDDL(SettingsSchemaDdl))
      .coalesce(1).write.mode("overwrite").json(s"$dumpDir/settings")
  }

  /** Rebuild an index from a dump into `indexDir` (see the import
    * contract above). Settings stored in the dump win; `numPartitions`
    * is execution-level (cluster-size dependent), so it comes from the
    * caller's cfg. Docids are assigned by (repo, path, commit) rank. */
  def importDump(spark: SparkSession, dumpDir: String, indexDir: String,
                 cfg: IndexConfig = IndexConfig()): Unit = {
    import spark.implicits._
    val sig = signature(spark, dumpDir)
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
    val st = spark.read.schema(SettingsSchemaDdl).json(s"$dumpDir/settings").collect()(0)
    require(!st.isNullAt(st.fieldIndex("layout")), s"dump at $dumpDir has no " +
      "settings layout: it was written by an older engine; re-export it")
    def strSeq(f: String): Seq[String] =
      Option(st.getAs[scala.collection.Seq[String]](f)).fold(Seq.empty[String])(_.toSeq)
    val restored = cfg.copy(
      docsPerShard = st.getAs[Int]("docsPerShard"),
      termBuckets = st.getAs[Int]("termBuckets"),
      blockSize = st.getAs[Int]("blockSize"),
      positions = st.getAs[Boolean]("positions"),
      stopWords = strSeq("stopWords").toSet,
      storageOrderIds = false,
      tokenizer = {
        // a hand-edited settings file can hold empty or malformed
        // entries — reject with a clear message, not a charAt(0) crash
        def validated(f: String): Seq[String] = {
          val es = strSeq(f)
          require(es.forall(_.nonEmpty), s"dump settings: empty entry in '$f'")
          es
        }
        val seps = validated("separatorTokens")
        val locs = validated("localizedAttributes")
        graft.functions.Tokenizer.TokSettings(
          seps.filter(_.length == 1).map(_.charAt(0)).toSet,
          validated("nonSeparatorTokens").map(_.charAt(0)).toSet,
          strSeq("tokenizerDictionary").toSet,
          separatorStrings = seps.filter(_.length > 1).toSet,
          localesByFid = locs
            .map(graft.functions.Tokenizer.TokSettings.parseFidLocale).toMap,
          cjkUnigrams = {
            val v = Option(st.getAs[String]("cjkUnigrams")).getOrElse("")
            require(v.isEmpty || v == "true" || v == "false",
              s"dump settings: cjkUnigrams must be ''/'true'/'false', got '$v'")
            if (v.isEmpty) None else Some(v.toBoolean)
          })
      })
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
    val facetCols = strSeq("facetColumns")
    if (facetCols.nonEmpty) IndexBuild.buildFacetIndex(spark, indexDir, facetCols)
    // the source index served prefixes from precomputed tables: rebuild
    // them so the import doesn't silently downgrade to the capped
    // on-the-fly path for hot prefixes
    if (st.getAs[Boolean]("hasPrefixTables"))
      IndexBuild.buildPrefixIndex(spark, indexDir, restored)
  }
}
