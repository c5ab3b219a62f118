package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path

import graft.SparkTestBase
import graft.corpus.SourceFile
import graft.search.SearchEngine

/** Regression specs for resume-safety of the incremental append path and
  * for WAND conjunctive semantics across shards (ADVICE round 1). */
class ResumeSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val cfg = IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
    numPartitions = 2, positions = true)

  private def src(i: Int, content: String) =
    SourceFile(s"r$i", s"p$i.scala", f"c$i%04d", "scala", content)

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("append resume after kill between stages indexes the delta docs") {
    val dir = tempDir("resumeA")
    val base = (0 until 8).map(i => src(i, "alpha common words")).toDS()
    val delta = (8 until 12).map(i => src(i, "zulu unique delta")).toDS()
    IndexBuild.build(spark, base, dir, cfg)
    IndexBuild.append(spark, delta, dir, cfg, "b1")

    // simulate a kill AFTER docs_delta committed but BEFORE
    // postings_delta committed: drop the postings commit marker and the
    // published delta posting files (the write never finished)
    val f = fs(dir)
    f.delete(Lineage.markerPath(dir, "postings_delta_b1"), false)
    (0 until cfg.termBuckets).foreach { b =>
      val d = new Path(s"$dir/postings/bucket=$b")
      if (f.exists(d)) f.listStatus(d).map(_.getPath)
        .filter(_.getName.startsWith("bb1-"))
        .foreach(p => f.delete(p, false))
    }

    // resumed append must NOT recompute base=max(docId)+1 (which now
    // includes the committed delta docs and would index nothing)
    IndexBuild.append(spark, delta, dir, cfg, "b1")
    val e = new SearchEngine(spark, dir)
    assert(e.docs.count() == 12, "docs not duplicated by resume")
    assert(e.nDocs == 12, "stats N reflects all docs")
    val hits = e.searchDF("zulu", 10).collect()
    assert(hits.length == 4, s"delta term must be searchable after resume, got ${hits.length}")
  }

  test("append resume after kill between publish and commit does not duplicate") {
    val dir = tempDir("resumeB")
    val base = (0 until 8).map(i => src(i, "alpha common words")).toDS()
    val delta = (8 until 12).map(i => src(i, "zulu unique delta")).toDS()
    IndexBuild.build(spark, base, dir, cfg)
    IndexBuild.append(spark, delta, dir, cfg, "b1")

    // simulate a kill AFTER the posting publish but BEFORE the lineage
    // commit: published files present, marker missing
    fs(dir).delete(Lineage.markerPath(dir, "postings_delta_b1"), false)
    IndexBuild.append(spark, delta, dir, cfg, "b1")

    val e = new SearchEngine(spark, dir)
    assert(e.td.lookup(Seq("zulu")) == Map("zulu" -> 4L), "delta term df counted exactly once")
    assert(e.nDocs == 12, "the batch's stats delta counted exactly once")
    assert(e.searchDF("zulu", 10).collect().length == 4)
  }

  test("append resume after kill before both commits assigns the clean run's docIds") {
    val base = (0 until 8).map(i => src(i, "alpha common words")).toDS()
    val delta = (8 until 12).map(i => src(i, "zulu unique delta")).toDS()
    def built(prefix: String): String = {
      val dir = tempDir(prefix)
      IndexBuild.build(spark, base, dir, cfg)
      IndexBuild.append(spark, delta, dir, cfg, "b1")
      dir
    }
    val clean = built("resumeClean")
    val dir = built("resumeC")
    // simulate a kill after docs/ got the batch's files but before
    // either delta stage committed: both markers and the published
    // postings/doclen files gone, the published docs files left behind
    val f = fs(dir)
    Seq("docs_delta_b1", "postings_delta_b1")
      .foreach(s => f.delete(Lineage.markerPath(dir, s), false))
    Seq("postings", "doclen").foreach { t =>
      val it = f.listFiles(new Path(s"$dir/$t"), true)
      val tagged = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.startsWith("bb1-")).toList
      assert(tagged.nonEmpty, s"$t has published batch files")
      tagged.foreach(p => f.delete(p, false))
    }
    IndexBuild.append(spark, delta, dir, cfg, "b1")

    def docIds(d: String) = spark.read.parquet(s"$d/docs")
      .select($"path", $"docId").as[(String, Int)].collect().sorted.toSeq
    def doclen(d: String) = spark.read.schema("docId INT, tf INT").parquet(s"$d/doclen")
      .as[(Int, Int)].collect().sorted.toSeq
    assert(docIds(dir) == docIds(clean), "resumed docIds must equal a clean run's")
    assert(docIds(dir).map(_._2).filter(_ >= 8) == (8 until 12))
    assert(doclen(dir) == doclen(clean))
    val e = new SearchEngine(spark, dir)
    assert(e.nDocs == 12 && e.searchDF("zulu", 10).collect().length == 4)
  }

  test("an empty buildFromTable opens with no docs and a later append starts at docId 0") {
    val dir = tempDir("emptyTable")
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    IndexBuild.buildFromTable(spark, empty, "doc_id", "text", "lang", "source", dir, cfg)
    assert(new SearchEngine(spark, dir).nDocs == 0)
    IndexBuild.append(spark, Seq(src(0, "zulu first"), src(1, "zulu second")).toDS(),
      dir, cfg, "b1")
    val e = new SearchEngine(spark, dir)
    assert(e.nDocs == 2)
    assert(e.docs.select($"docId").as[Int].collect().sorted.toSeq == Seq(0, 1))
    assert(e.searchDF("zulu", 10).count() == 2)
  }

  test("WAND conjunctive returns empty for shards missing a query term") {
    val dir = tempDir("wandShard")
    // docsPerShard=4: shard 0 = docs 0-3 (has beta), shard 1 = docs 4-7
    // (alpha only) — pre-fix, shard 1 padded results with alpha-only docs
    val docs = ((0 until 1).map(i => src(i, "alpha beta")) ++
      (1 until 8).map(i => src(i, "alpha only here"))).toDS()
    IndexBuild.build(spark, docs, dir, cfg)
    val e = new SearchEngine(spark, dir)
    val viaDf = e.searchDF("alpha beta", 10).as[(Int, Double)].collect().toSeq
    val viaWand = e.searchWand("alpha beta", 10).as[(Int, Double)].collect().toSeq
    assert(viaDf.map(_._1) == Seq(0))
    assert(viaWand.map(_._1) == viaDf.map(_._1),
      s"WAND must not pad with docs missing a term: $viaWand")
  }
}
