package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path

import graft.SparkTestBase
import graft.corpus.SourceFile
import graft.search.SearchEngine

/** One on-disk format: every writer stamps `lineage/_FORMAT` and emits
  * the one doclen schema; every entry point refuses a directory with a
  * missing or different stamp, without touching it. */
class FormatSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val cfg = IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
    numPartitions = 2, positions = true)

  private def src(i: Int, content: String) =
    SourceFile(s"r$i", s"p$i.scala", f"c$i%04d", "scala", content)

  private val corpus = (0 until 12).map(i =>
    src(i, s"alpha merge buffer w$i ${if (i % 3 == 0) "zeta" else "omega"}"))

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive listing of a directory: path -> file bytes. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val f = fs(dir)
    val it = f.listFiles(new Path(dir), true)
    val out = Map.newBuilder[String, Seq[Byte]]
    while (it.hasNext) {
      val p = it.next().getPath
      val in = f.open(p)
      out += p.toString -> (try in.readAllBytes().toSeq finally in.close())
    }
    out.result()
  }

  private def writeStamp(dir: String, stamp: String): Unit = {
    val out = fs(dir).create(Lineage.formatPath(dir), true)
    try out.write(stamp.getBytes("UTF-8")) finally out.close()
  }

  private def assertRefused(what: String)(op: => Any): Unit = withClue(s"$what: ") {
    val e = intercept[IllegalArgumentException](op)
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }

  for ((variant, unstamp) <- Seq[(String, String => Unit)](
      "unstamped" -> (d => fs(d).delete(Lineage.formatPath(d), false)),
      // the layout before the LSH parameters became a key=value marker
      "older-stamp" -> (d => writeStamp(d,
        s"layout=10 normalizer=${graft.functions.Tokenizer.NormalizerVersion}")),
      // the layout whose posting blocks had no doc-length stream: ranked
      // search would find no lens to score with
      "v11-stamp" -> (d => writeStamp(d,
        s"layout=11 normalizer=${graft.functions.Tokenizer.NormalizerVersion}")),
      // the layout whose settings lived in stats/base and the tokenizer/,
      // stopwords/ and fields/ tables: it has no manifest
      "v12-stamp" -> { d =>
        writeStamp(d, s"layout=12 normalizer=${graft.functions.Tokenizer.NormalizerVersion}")
        fs(d).delete(new Path(Manifest.path(d)), false)
      })) {
    test(s"$variant index: every entry point refuses with a rebuild error, touching nothing") {
      val dir = tempDir(s"fmt-$variant")
      IndexBuild.build(spark, corpus.toDS(), dir, cfg)
      new SearchEngine(spark, dir) // the stamped index opens
      unstamp(dir)
      val before = snapshot(dir)
      val dumpDir = s"${tempDir("fmt-dump")}/out"

      assertRefused("SearchEngine")(new SearchEngine(spark, dir))
      assertRefused("append")(IndexBuild.append(spark,
        Seq(src(90, "delta words")).toDS(), dir, cfg, "b1"))
      assertRefused("delete")(IndexBuild.delete(spark, dir, Seq(1), "d1"))
      assertRefused("buildFacetIndex")(IndexBuild.buildFacetIndex(spark, dir, Seq("lang")))
      assertRefused("buildPrefixIndex")(IndexBuild.buildPrefixIndex(spark, dir, cfg))
      assertRefused("exportDump")(Dump.exportDump(spark, dir, dumpDir))

      assert(snapshot(dir) == before, "a refused directory must stay untouched")
      assert(!fs(dumpDir).exists(new Path(dumpDir)), "no dump written")
    }
  }

  test("compact carries an unstamped index into a fresh, stamped directory") {
    val dir = tempDir("fmt-compact-src")
    IndexBuild.build(spark, corpus.toDS(), dir, cfg)
    val queries = Seq("alpha", "zeta merge", "omega buffer w3")
    def rows(e: SearchEngine) =
      queries.map(q => e.searchDF(q, 20).as[(Int, Double)].collect().toSeq)
    val want = rows(new SearchEngine(spark, dir))
    // as an index written before the format stamp and the manifest
    fs(dir).delete(Lineage.formatPath(dir), false)
    fs(dir).delete(new Path(Manifest.path(dir)), false)

    val out = tempDir("fmt-compact-dst")
    IndexBuild.compact(spark, dir, out, cfg)
    Lineage.requireFormat(spark, out)
    assert(rows(new SearchEngine(spark, out)) == want)
  }

  test("append onto a multi-field index fails fast, touching nothing") {
    val dir = tempDir("fmt-mf-append")
    IndexBuild.buildMultiField(spark, mfTable, "doc_id",
      fields = Seq(("title", 0), ("body", 1)), langCol = "lang",
      sourceCol = "source", indexDir = dir, cfg = cfg)
    val before = snapshot(dir)
    val e = intercept[IllegalArgumentException](IndexBuild.append(spark,
      Seq(src(90, "delta words")).toDS(), dir, cfg, "b1"))
    assert(e.getMessage.contains("multi-field"), e.getMessage)
    assert(snapshot(dir) == before)
  }

  private def mfTable = Seq(
      (0L, "cooking pasta", "a long story about gardens"),
      (1L, "garden tools", "cooking pasta recipes"),
      (2L, "pasta", "pasta"))
    .toDF("doc_id", "title", "body")
    .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    .withColumn("source", org.apache.spark.sql.functions.lit("s"))

  private def plainTable = corpus.zipWithIndex
    .map { case (f, i) => (i.toLong, f.content) }
    .toDF("doc_id", "text")
    .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    .withColumn("source", org.apache.spark.sql.functions.lit("s"))

  test("every writer leaves a stamped directory whose doclen reads as (docId INT, tf INT), one row per doc") {
    val base = corpus.take(8).toDS()
    val delta = corpus.drop(8).toDS()
    val writers: Seq[(String, String => Unit)] =
      Seq(false, true).map(pos => s"build positions=$pos" -> { (d: String) =>
        IndexBuild.build(spark, corpus.toDS(), d, cfg.copy(positions = pos))
      }) ++ Seq(
        "buildFromTable" -> { (d: String) =>
          IndexBuild.buildFromTable(spark, plainTable, "doc_id", "text",
            "lang", "source", d, cfg)
        },
        "buildMultiField" -> { (d: String) =>
          IndexBuild.buildMultiField(spark, mfTable, "doc_id",
            Seq(("title", 0), ("body", 1)), "lang", "source", d, cfg)
        }) ++
      Seq(false, true).map(pos => s"append positions=$pos" -> { (d: String) =>
        val c = cfg.copy(positions = pos)
        IndexBuild.build(spark, base, d, c)
        IndexBuild.append(spark, delta, d, c, "b1")
      }) ++ Seq(
        "compact" -> { (d: String) =>
          val from = tempDir("fmt-w-compact-src")
          IndexBuild.build(spark, corpus.toDS(), from, cfg)
          IndexBuild.delete(spark, from, Seq(2, 5), "d1")
          IndexBuild.compact(spark, from, d, cfg)
        },
        "importDump" -> { (d: String) =>
          val from = tempDir("fmt-w-dump-src")
          val dump = tempDir("fmt-w-dump")
          IndexBuild.build(spark, corpus.toDS(), from, cfg)
          Dump.exportDump(spark, from, dump)
          Dump.importDump(spark, dump, d, cfg)
        })
    writers.foreach { case (name, write) =>
      val dir = tempDir("fmt-writer")
      write(dir)
      Lineage.requireFormat(spark, dir)
      val docIds = spark.read.parquet(s"$dir/docs").select($"docId")
        .as[Int].collect().sorted.toSeq
      val doclen = spark.read.schema("docId INT, tf INT").parquet(s"$dir/doclen")
        .as[(Int, Int)].collect().sortBy(_._1).toSeq
      assert(docIds.nonEmpty, name)
      assert(doclen.map(_._1) == docIds, s"$name: one doclen row per document")
      assert(doclen.forall(_._2 > 0), s"$name: every doc length read through tf")
    }
  }
}
