package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.corpus.SourceFile
import graft.search.SearchEngine

/** Storage-order docid assignment (IndexConfig.storageOrderIds): ids
  * follow (file path, row index) with ZERO corpus shuffle; retrieval is
  * id-permutation-equivalent to the sorted build. A corpus that is not
  * a bare parquet scan is refused, never silently given sorted ids. */
class StorageOrderSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val cfg = IndexConfig(docsPerShard = 8, termBuckets = 2, blockSize = 4,
    numPartitions = 2, positions = true)

  private def corpus(n: Int): Seq[SourceFile] =
    (0 until n).map(i => SourceFile(s"r${i % 3}", s"p$i.scala", f"c$i%04d",
      "scala", s"alpha beta w$i gamma ${if (i % 2 == 0) "even split" else "odd merge"}"))

  test("storage-order build: dense deterministic ids, no corpus shuffle, same retrieval") {
    val cdir = tempDir("soCorpus")
    corpus(40).toDS().repartition(3).write.mode("overwrite").parquet(cdir)
    val fileSrc = spark.read.parquet(cdir).as[SourceFile]

    val dirA = tempDir("soIdxA")
    IndexBuild.build(spark, fileSrc, dirA, cfg.copy(storageOrderIds = true))
    val dirB = tempDir("soIdxB")
    IndexBuild.build(spark, fileSrc, dirB, cfg) // sorted baseline

    val a = new SearchEngine(spark, dirA)
    val b = new SearchEngine(spark, dirB)

    // dense 0..N-1 ids on both; storage order = (file, row) order
    val idsA = a.docs.select($"docId").as[Int].collect().sorted
    assert(idsA.toSeq == (0 until 40))

    // ids are deterministic: rebuilding from the same files reproduces
    // the exact (docId -> path) mapping
    val dirA2 = tempDir("soIdxA2")
    IndexBuild.build(spark, fileSrc, dirA2, cfg.copy(storageOrderIds = true))
    val mapA = a.docs.select($"docId", $"path").as[(Int, String)].collect().toMap
    val mapA2 = new SearchEngine(spark, dirA2).docs
      .select($"docId", $"path").as[(Int, String)].collect().toMap
    assert(mapA == mapA2)

    // within one input file, ids ascend with row order
    val rows = spark.read.parquet(cdir)
      .select(org.apache.spark.sql.functions.col("_metadata.file_path").as("f"),
        org.apache.spark.sql.functions.col("_metadata.row_index").as("ri"),
        $"path")
      .as[(String, Long, String)].collect()
    val pathToId = mapA.map(_.swap)
    rows.groupBy(_._1).foreach { case (_, fr) =>
      val sorted = fr.sortBy(_._2).map(r => pathToId(r._3))
      assert(sorted.zip(sorted.tail).forall { case (x, y) => y == x + 1 },
        "ids must be contiguous ascending within a file")
    }

    // retrieval equivalence modulo the id permutation: same (path, score)
    // result sets for BM25 search and same doc lens per path
    val byPathA = a.searchDF("even split", 40).join(a.docs, Seq("docId"))
      .select($"path", $"score").as[(String, Double)].collect().toMap
    val byPathB = b.searchDF("even split", 40).join(b.docs, Seq("docId"))
      .select($"path", $"score").as[(String, Double)].collect().toMap
    assert(byPathA == byPathB)
    val lensA = a.docs.select($"path", $"len").as[(String, Int)].collect().toMap
    val lensB = b.docs.select($"path", $"len").as[(String, Int)].collect().toMap
    assert(lensA == lensB)

    // the storage-order docs stage must not range-shuffle the corpus:
    // its lineage partitioning is per input FILE (3 files, 3 rows)
    val lin = Lineage.read(spark, dirA).filter($"stage" === "docs").count()
    assert(lin == 3, s"expected one docs lineage row per input file, got $lin")
  }

  test("sorted-id build tolerates null metadata columns; null content fails with the contract") {
    val dir = tempDir("nullMeta")
    val rows = Seq(
      SourceFile("r0", "p0.scala", null, null, "alpha beta"),
      SourceFile(null, "p1.scala", "c1", "scala", "gamma delta"))
    IndexBuild.build(spark, rows.toDS(), dir, cfg)
    val docs = spark.read.parquet(s"$dir/docs").collect()
    assert(docs.length == 2)
    assert(docs.exists(r => r.isNullAt(r.fieldIndex("commit"))), "null commit passes through")
    assert(docs.exists(r => r.isNullAt(r.fieldIndex("repo"))), "null repo passes through")
    assert(docs.forall(!_.isNullAt(4 - 4)), "docIds assigned") // docId col 0
    val e = new SearchEngine(spark, dir)
    assert(e.searchDF("alpha", 5).count() == 1)
    // null content: a clear contract error, not an NPE inside Sha —
    // from a fresh build, an append and a table build alike
    val bad = Seq(SourceFile("r", "p", "c", "l", null)).toDS()
    val dir2 = tempDir("nullContent")
    val badTable = Seq((0L, "alpha beta"), (1L, null)).toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    val dir3 = tempDir("nullContentTable")
    for ((what, op) <- Seq[(String, () => Unit)](
        "build" -> (() => IndexBuild.build(spark, bad, dir2, cfg)),
        "append" -> (() => IndexBuild.append(spark, bad, dir, cfg, "b1")),
        "buildFromTable" -> (() => IndexBuild.buildFromTable(spark, badTable,
          "doc_id", "text", "lang", "source", dir3, cfg)))) {
      val ex = intercept[Throwable](op())
      val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(msgs.contains("content must be non-null"),
        s"$what: want the content contract in: $msgs")
    }
  }

  /** Builds `corpus` with storageOrderIds and expects the refusal
    * naming `reason`, then builds it with storageOrderIds = false:
    * dense ids by (repo, path, commit) rank. */
  private def assertRefusedThenSorted(corpus: org.apache.spark.sql.Dataset[SourceFile],
                                      n: Int, reason: String): Unit = {
    val ex = intercept[IllegalArgumentException](IndexBuild.build(spark, corpus,
      tempDir("soRefused"), cfg.copy(storageOrderIds = true)))
    assert(ex.getMessage.contains(reason) &&
      ex.getMessage.contains("storageOrderIds = false"), ex.getMessage)
    val dir = tempDir("soSorted")
    IndexBuild.build(spark, corpus, dir, cfg)
    val e = new SearchEngine(spark, dir)
    val byKey = e.docs.select($"repo", $"path", $"commit", $"docId")
      .as[(String, String, String, Int)].collect().sortBy(r => (r._1, r._2, r._3))
    assert(byKey.map(_._4).toSeq == (0 until n))
  }

  test("storage-order build of a non-file corpus fails fast") {
    // a local relation passes the plan check but has no file metadata
    assertRefusedThenSorted(corpus(12).toDS(), 12, "_metadata.row_index")
  }

  test("storage-order build of a FILTERED file corpus fails fast") {
    // row_index is physical: per-file counts of a filtered scan would
    // collide docids across files, so the plan is refused
    val cdir = tempDir("soFiltCorpus")
    corpus(40).toDS().repartition(3).write.mode("overwrite").parquet(cdir)
    val filtered = spark.read.parquet(cdir).as[SourceFile]
      .filter(f => f.path.drop(1).dropRight(6).toInt % 2 == 1)
    assertRefusedThenSorted(filtered, 20, "not a bare file scan")
  }
}
