package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

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
  *   dumpDir/settings/    one-row JSON: index parameters that affect
  *                        build semantics (termBuckets, blockSize,
  *                        docsPerShard, positions) + stop words
  *
  * Import rebuilds through the standard lineage-committed pipeline, so
  * an interrupted import resumes like any build.
  *
  * Re-export: `dumpDir/_FINGERPRINT` (source dir and its
  * [[Lineage.generation]], written last) makes exporting an unchanged
  * index a no-op; after an append, delete or killed export, the dump is
  * rewritten with the current live corpus.
  */
object Dump {

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
    val sig = s"$indexDir:${Lineage.generation(spark, indexDir)}"
    if (!Lineage.readMarker(spark, marker).contains(sig)) {
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
    val stop: Seq[String] =
      if (fs.exists(new Path(s"$indexDir/stopwords")))
        spark.read.schema("term STRING").parquet(s"$indexDir/stopwords")
          .as[String].collect().toSeq.sorted
      else Nil
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
    Seq((stats("docsPerShard").toInt, stats("termBuckets").toInt,
        stats("blockSize").toInt, positions, stop, facetCols,
        seps, nonSeps, tokDict, locales, cjk, hasPrefixTables))
      .toDF("docsPerShard", "termBuckets", "blockSize", "positions",
        "stopWords", "facetColumns", "separatorTokens", "nonSeparatorTokens",
        "tokenizerDictionary", "localizedAttributes", "cjkUnigrams",
        "hasPrefixTables")
      .coalesce(1).write.mode("overwrite").json(s"$dumpDir/settings")
  }

  /** Rebuild an index from a dump. Settings stored in the dump win;
    * `numPartitions` is execution-level (cluster-size dependent), so it
    * comes from the caller's cfg. */
  def importDump(spark: SparkSession, dumpDir: String, indexDir: String,
                 cfg: IndexConfig = IndexConfig()): Unit = {
    import spark.implicits._
    val st = spark.read.json(s"$dumpDir/settings").collect()(0)
    def strSeq(f: String): Seq[String] =
      if (!st.schema.fieldNames.contains(f)) Nil
      else Option(st.getAs[scala.collection.Seq[String]](f)).fold(Seq.empty[String])(_.toSeq)
    val restored = cfg.copy(
      docsPerShard = st.getAs[Long]("docsPerShard").toInt,
      termBuckets = st.getAs[Long]("termBuckets").toInt,
      blockSize = st.getAs[Long]("blockSize").toInt,
      positions = st.getAs[Boolean]("positions"),
      stopWords = st.getAs[scala.collection.Seq[String]]("stopWords").toSet,
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
            val v = if (st.schema.fieldNames.contains("cjkUnigrams"))
              Option(st.getAs[String]("cjkUnigrams")).getOrElse("") else ""
            require(v.isEmpty || v == "true" || v == "false",
              s"dump settings: cjkUnigrams must be ''/'true'/'false', got '$v'")
            if (v.isEmpty) None else Some(v.toBoolean)
          })
      })
    // explicit schema: the documents format is fixed (5 string fields),
    // and schema INFERENCE would scan every JSONL byte before the build
    // even starts — a full extra corpus pass per import call, paid even
    // when every build stage is already committed and resumes for free
    val docsSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "repo string, path string, commit string, lang string, content string")
    val docs = spark.read.schema(docsSchema).json(s"$dumpDir/documents")
      .select($"repo", $"path", $"commit", $"lang", $"content")
      .as[SourceFile]
    IndexBuild.build(spark, docs, indexDir, restored)
    // rebuild derived facet indexes recorded in the dump settings
    // (older dumps have no facetColumns field)
    if (st.schema.fieldNames.contains("facetColumns")) {
      val cols = st.getAs[scala.collection.Seq[String]]("facetColumns")
      if (cols != null && cols.nonEmpty)
        IndexBuild.buildFacetIndex(spark, indexDir, cols.toSeq)
    }
    // the source index served prefixes from precomputed tables: rebuild
    // them so the import doesn't silently downgrade to the capped
    // on-the-fly path for hot prefixes
    if (st.schema.fieldNames.contains("hasPrefixTables") &&
        st.getAs[Boolean]("hasPrefixTables"))
      IndexBuild.buildPrefixIndex(spark, indexDir, restored)
  }
}
