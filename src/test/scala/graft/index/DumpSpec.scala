package graft.index

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

import graft.SparkTestBase
import graft.corpus.SourceFile
import graft.search.SearchEngine

/** Dump export → import roundtrip (S5): the imported index must be
  * query-identical to the original, and the dump must carry the
  * settings that affect build semantics (stop words, positions, layout
  * params). */
class DumpSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def src(i: Int, content: String) =
    SourceFile(s"r${i % 3}", s"p$i.scala", f"c$i%04d", "scala", content)

  test("dump roundtrip: rebuilt index is query-identical, settings survive") {
    val dir = tempDir("dumpSrc")
    val dumpDir = tempDir("dump")
    val dir2 = tempDir("dumpDst")

    val corpus = (0 until 24).map { i =>
      src(i, s"alpha merge the buffer stream ${if (i % 2 == 0) "batchWriter" else "pageCursor"} w$i")
    }.toDS()
    val cfg = IndexConfig(docsPerShard = 8, termBuckets = 2, blockSize = 4,
      numPartitions = 2, positions = true, stopWords = Set("the"))
    IndexBuild.build(spark, corpus, dir, cfg)

    Dump.exportDump(spark, dir, dumpDir)
    // import with a DIFFERENT default cfg: dump settings must win
    Dump.importDump(spark, dumpDir, dir2,
      IndexConfig(docsPerShard = 999, termBuckets = 8, numPartitions = 2))

    val a = new SearchEngine(spark, dir)
    val b = new SearchEngine(spark, dir2)
    assert(b.docs.count() == a.docs.count())
    assert(b.nDocs == a.nDocs && math.abs(b.avgdl - a.avgdl) < 1e-9)
    assert(b.termBuckets == a.termBuckets && b.docsPerShard == a.docsPerShard)
    assert(b.stopWords == Set("the"))
    // dictionary identical
    val da = a.docs.sparkSession.read.parquet(s"$dir/dict")
      .select("term", "df", "cf").as[(String, Long, Long)].collect().toSet
    val db = b.docs.sparkSession.read.parquet(s"$dir2/dict")
      .select("term", "df", "cf").as[(String, Long, Long)].collect().toSet
    assert(da == db)
    // ranked results identical (docids dense-reassigned by the same
    // (repo, path, commit) order, so they line up exactly)
    val qa = a.searchDF("merge buffer", 10).collect().map(r => (r.getInt(0), r.getDouble(1)))
    val qb = b.searchDF("merge buffer", 10).collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(qa.sameElements(qb))
    // positions table rebuilt too: phrase search agrees (and is non-empty)
    val pa = a.phrase(Seq("buffer", "stream")).count()
    assert(pa > 0 && pa == b.phrase(Seq("buffer", "stream")).count())
  }

  test("dump after delete excludes tombstoned docs; facet columns survive") {
    val dir = tempDir("dumpDel")
    val dumpDir = tempDir("dumpDel2")
    val dir2 = tempDir("dumpDelDst")
    val corpus = (0 until 12).map(i => src(i, s"word$i shared merge")).toDS()
    val cfg = IndexConfig(docsPerShard = 8, termBuckets = 2, blockSize = 4,
      numPartitions = 2)
    IndexBuild.build(spark, corpus, dir, cfg)
    IndexBuild.buildFacetIndex(spark, dir, Seq("lang"))
    IndexBuild.delete(spark, dir, Seq(1, 3, 5), "d1")
    Dump.exportDump(spark, dir, dumpDir)
    Dump.importDump(spark, dumpDir, dir2, cfg)
    val a = new SearchEngine(spark, dir)
    val b = new SearchEngine(spark, dir2)
    // the import holds exactly the LIVE docs (no resurrection)
    assert(b.docs.count() == a.docs.count() && b.docs.count() == 9)
    // docids rank by (repo, path): id 1 = p3.scala (r0's second file)
    val pathsA = a.docs.select($"path").as[String].collect().toSet
    val pathsB = b.docs.select($"path").as[String].collect().toSet
    assert(pathsB == pathsA && !pathsB.contains("p3.scala"))
    // facet indexes rebuilt from the dump settings
    assert(b.facetRangeCount("lang",
      org.apache.spark.sql.functions.col("value") === "scala") == 9)
  }

  /** file name -> mtime of every file under `dir`. */
  private def mtimes(dir: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) { val f = it.next(); b += f.getPath.toString -> f.getModificationTime }
    b.result()
  }

  test("re-export after append writes the appended docs; unchanged re-export rewrites nothing") {
    val dir = tempDir("dumpRe")
    val dumpDir = tempDir("dumpReOut")
    val cfg = IndexConfig(docsPerShard = 8, termBuckets = 2, blockSize = 4,
      numPartitions = 2)
    IndexBuild.build(spark, (0 until 10).map(i => src(i, s"word$i shared")).toDS(), dir, cfg)
    Dump.exportDump(spark, dir, dumpDir)
    val first = mtimes(dumpDir)
    Thread.sleep(20) // a rewrite must land on a later mtime
    Dump.exportDump(spark, dir, dumpDir)
    assert(mtimes(dumpDir) == first, "unchanged index: the dump must not be rewritten")

    IndexBuild.append(spark, (10 until 14).map(i => src(i, s"word$i shared fresh")).toDS(),
      dir, cfg, "b1")
    Dump.exportDump(spark, dir, dumpDir)
    val imported = tempDir("dumpReDst")
    Dump.importDump(spark, dumpDir, imported, cfg)
    val e = new SearchEngine(spark, imported)
    assert(e.nDocs == 14, "the import must hold the appended docs")
    assert(e.searchDF("fresh", 20).count() == 4)
  }

  test("re-import of a rewritten dump into the same directory fails fast; a fresh directory holds the new dump") {
    val dir = tempDir("dumpReImp")
    val dumpDir = tempDir("dumpReImpOut")
    val imported = tempDir("dumpReImpDst")
    val cfg = IndexConfig(docsPerShard = 8, termBuckets = 2, blockSize = 4,
      numPartitions = 2)
    IndexBuild.build(spark, (0 until 10).map(i => src(i, s"word$i shared")).toDS(), dir, cfg)
    Dump.exportDump(spark, dir, dumpDir)
    Dump.importDump(spark, dumpDir, imported, cfg)
    assert(new SearchEngine(spark, imported).nDocs == 10)
    val first = mtimes(imported)
    Thread.sleep(20) // a rewrite must land on a later mtime
    Dump.importDump(spark, dumpDir, imported, cfg)
    assert(mtimes(imported) == first, "same dump: the import must write nothing")

    IndexBuild.append(spark, (10 until 14).map(i => src(i, s"word$i shared fresh")).toDS(),
      dir, cfg, "b1")
    val oldSig = Dump.signature(spark, dumpDir)
    Dump.exportDump(spark, dir, dumpDir)
    val newSig = Dump.signature(spark, dumpDir)
    assert(newSig != oldSig)
    val ex = intercept[IllegalArgumentException](
      Dump.importDump(spark, dumpDir, imported, cfg))
    assert(ex.getMessage.contains(oldSig) && ex.getMessage.contains(newSig) &&
      ex.getMessage.contains("fresh directory"), ex.getMessage)
    val fresh = tempDir("dumpReImpFresh")
    Dump.importDump(spark, dumpDir, fresh, cfg)
    assert(new SearchEngine(spark, fresh).nDocs == 14)
  }

  test("a dump without a settings layout is refused with re-export") {
    val dir = tempDir("dumpNoLayout")
    val dumpDir = tempDir("dumpNoLayoutOut")
    IndexBuild.build(spark, (0 until 4).map(i => src(i, s"word$i")).toDS(), dir,
      IndexConfig(docsPerShard = 8, termBuckets = 2, blockSize = 4, numPartitions = 2))
    Dump.exportDump(spark, dir, dumpDir)
    // an index's own manifest in place of the dump's: no dump keys
    val manifest = new java.io.File(s"$dumpDir/manifest.json").toPath
    Files.writeString(manifest,
      Files.readString(manifest).replaceFirst("\"layout\":\\d+,", ""))
    new java.io.File(s"$dumpDir/.manifest.json.crc").delete()
    val dst = tempDir("dumpNoLayoutDst")
    val ex = intercept[IllegalArgumentException](Dump.importDump(spark, dumpDir,
      dst, IndexConfig(numPartitions = 2)))
    assert(ex.getMessage.contains("re-export"), ex.getMessage)
    assert(new java.io.File(dst).list().isEmpty, "a refused import writes nothing")
  }

  test("a dump with settings/ but no manifest.json is refused with re-export") {
    val dir = tempDir("dumpOld")
    val dumpDir = tempDir("dumpOldOut")
    IndexBuild.build(spark, (0 until 4).map(i => src(i, s"word$i")).toDS(), dir,
      IndexConfig(docsPerShard = 8, termBuckets = 2, blockSize = 4, numPartitions = 2))
    Dump.exportDump(spark, dir, dumpDir)
    // the layout of a dump written before the manifest: a settings/ JSON
    // row beside documents/ and the signature
    new java.io.File(s"$dumpDir/manifest.json").delete()
    new java.io.File(s"$dumpDir/.manifest.json.crc").delete()
    Files.createDirectories(java.nio.file.Paths.get(dumpDir, "settings"))
    Files.writeString(java.nio.file.Paths.get(dumpDir, "settings", "part-00000.json"),
      """{"layout":12,"docsPerShard":8,"termBuckets":2,"blockSize":4,"positions":false}""")
    val dst = tempDir("dumpOldDst")
    val ex = intercept[IllegalArgumentException](Dump.importDump(spark, dumpDir,
      dst, IndexConfig(numPartitions = 2)))
    assert(ex.getMessage.contains("re-export") && ex.getMessage.contains("manifest.json"),
      ex.getMessage)
    assert(new java.io.File(dst).list().isEmpty, "a refused import writes nothing")
  }

  test("multi-field indexes fail fast on export (format cannot carry fields)") {
    val dir = tempDir("dumpMf")
    val df = Seq((0L, "t0", "b0"), (1L, "t1", "b1")).toDF("doc_id", "title", "body")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    IndexBuild.buildMultiField(spark, df, "doc_id",
      fields = Seq(("title", 0), ("body", 1)), langCol = "lang",
      sourceCol = "source", indexDir = dir,
      cfg = IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2))
    val ex = intercept[IllegalArgumentException] {
      Dump.exportDump(spark, dir, tempDir("dumpMfOut"))
    }
    assert(ex.getMessage.contains("multi-field"))
  }
}
