package graft.search

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.corpus.SourceFile
import graft.index.{IndexBuild, IndexConfig, LocalParquet}

/** `SearchEngine.docRows` (parquet point lookups on the driver) against
  * the Spark scan it replaced, `docs.filter(docId IN ids)`, kept here
  * as the reference: same rows, same nulls, same absent-id drops, on
  * doc stores written in many row groups and pages. */
class DocFetchSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = IndexConfig(docsPerShard = 64, termBuckets = 2,
    blockSize = 16, numPartitions = 3)

  private val unicode = Seq("naïve café", "北京 上海", "😀 emoji", "Ünïcödé straße", "plain")

  private def corpus(ids: Range): Seq[SourceFile] = ids.map(i =>
    SourceFile(s"r${i % 7}", f"p$i%04d.scala", f"c$i%04d", Seq("scala", "java")(i % 2),
      s"alpha w$i ${unicode(i % unicode.size)} " + ("beta " * (i % 9))))

  /** Writes inside `body` use small row groups and pages, so every
    * docs/ file holds several of each. */
  private def smallPages[T](body: => T): T = {
    val keys = Map("parquet.block.size" -> "512", "parquet.page.size" -> "256",
      "parquet.page.row.count.limit" -> "8", "parquet.block.size.row.check.min" -> "4",
      "parquet.block.size.row.check.max" -> "4")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally keys.keys.foreach(spark.conf.unset)
  }

  private lazy val rankOrder: String = smallPages {
    val d = tempDir("docfetch-rank")
    IndexBuild.build(spark, corpus(0 until 600).toDS(), d, cfg)
    d
  }

  private lazy val storageOrder: String = smallPages {
    val src = tempDir("docfetch-corpus")
    corpus(0 until 600).toDS().repartition(3).write.mode("overwrite").parquet(src)
    val d = tempDir("docfetch-storage")
    IndexBuild.build(spark, spark.read.parquet(src).as[SourceFile], d,
      cfg.copy(storageOrderIds = true))
    d
  }

  private lazy val appended: String = smallPages {
    val d = tempDir("docfetch-append")
    val c = cfg.copy(numPartitions = 1) // batch files large enough to split
    IndexBuild.build(spark, corpus(0 until 300).toDS(), d, c)
    IndexBuild.append(spark, corpus(300 until 450).toDS(), d, c, "b1")
    IndexBuild.append(spark, corpus(450 until 600).toDS(), d, c, "b2")
    d
  }

  /** Multi-field, with null `repo` and `lang` on every third doc. */
  private lazy val multiField: String = smallPages {
    val d = tempDir("docfetch-mf")
    val df = (0 until 300).map { i =>
      (i.toLong, s"title $i ${unicode(i % unicode.size)}", s"body w$i " + ("gamma " * (i % 5)),
        if (i % 3 == 0) null else "en", if (i % 3 == 1) null else s"s${i % 4}")
    }.toDF("doc_id", "title", "body", "lang", "source").coalesce(1)
    IndexBuild.buildMultiField(spark, df, "doc_id", Seq(("title", 0), ("body", 1)),
      "lang", "source", d, cfg)
    d
  }

  /** The old page fetch: one Spark scan of docs/ with an IN filter. */
  private def reference(e: SearchEngine, ids: Seq[Int], cols: Seq[String]): Map[Int, Seq[Any]] =
    if (ids.isEmpty) Map.empty
    else spark.read.schema(IndexBuild.docsSchema(e.fields.map(_._2)))
      .parquet(s"${e.indexDir}/docs")
      .filter($"docId".isin(ids: _*)).select(("docId" +: cols).map(col): _*)
      .collect().map(r => r.getInt(0) -> r.toSeq).toMap

  private def fetched(e: SearchEngine, ids: Seq[Int], cols: Seq[String]): Map[Int, Seq[Any]] =
    e.docRows(ids, cols).map { case (d, r) => d -> r.toSeq }

  private def docCols(e: SearchEngine): Seq[String] =
    IndexBuild.docsSchema(e.fields.map(_._2)).fieldNames.toSeq.tail

  /** Row groups per docs/ data file, from the footers. */
  private def rowGroups(dir: String): Seq[Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    LocalParquet.dataFiles(conf, s"$dir/docs").map { s =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
      try r.getRowGroups.size finally r.close()
    }
  }

  private lazy val indexes = Seq("rank order" -> rankOrder, "storage order" -> storageOrder,
    "built then appended twice" -> appended, "multi-field with nulls" -> multiField)

  test("docRows equals the Spark IN scan on every doc, page-sized samples and mixed id lists") {
    for ((name, dir) <- indexes) {
      val e = new SearchEngine(spark, dir)
      val groups = rowGroups(dir)
      assert(groups.forall(_ >= 2), s"$name: row groups per file $groups")
      val cols = docCols(e)
      val all = (0 until e.nDocs.toInt)
      val full = fetched(e, all, cols)
      assert(full.size == e.nDocs && full == reference(e, all, cols), name)
      val rnd = new scala.util.Random(7)
      val cases = Seq.fill(6)(Seq.fill(10)(rnd.nextInt(e.nDocs.toInt))) ++ Seq(
        Seq(-5, e.nDocs.toInt + 100, Int.MaxValue, Int.MinValue), // absent only
        Seq(3, -1, 3, 42, 42, e.nDocs.toInt), // duplicated, mixed with absent
        Seq(e.nDocs.toInt - 1, 0))
      for (ids <- cases; cs <- Seq(cols, Seq("content"), Seq("lang", "repo"))) {
        val got = fetched(e, ids, cs)
        assert(got == reference(e, ids, cs), s"$name: ids $ids, cols $cs")
        assert(got.keySet == ids.filter(all.contains).toSet, s"$name: ids $ids")
      }
      assert(e.docRows(Nil, cols).isEmpty)
    }
    // the multi-field store's nulls and Unicode content come back as written
    val mf = fetched(new SearchEngine(spark, multiField), 0 until 6, Seq("repo", "lang", "title"))
    assert(mf(0)(2) == null && mf(1)(1) == null && mf(2)(1) == "s2" && mf(2)(2) == "en")
    assert(mf(1)(3) == "title 1 北京 上海" && mf(2)(3) == "title 2 😀 emoji")
  }

  test("8 threads fetching through one fresh engine get the reference rows") {
    val e = new SearchEngine(spark, appended)
    val cols = docCols(e)
    val ref = reference(e, 0 until e.nDocs.toInt, cols)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = pool.invokeAll((0 until 8).map { t =>
        new Callable[Boolean] {
          def call(): Boolean = {
            val rnd = new scala.util.Random(t)
            (0 until 20).forall { _ =>
              val ids = Seq.fill(12)(rnd.nextInt(e.nDocs.toInt + 5))
              fetched(e, ids, cols) == ref.filter { case (d, _) => ids.contains(d) }
            }
          }
        }: Callable[Boolean]
      }.asJava)
      assert(results.asScala.forall(_.get()))
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  test("the driver-side reader refuses a column type it cannot read before opening a file") {
    val conf = spark.sparkContext.hadoopConfiguration
    val err = intercept[IllegalArgumentException](new LocalParquet.KeyIndex[Int](conf,
      "/nonexistent-docfetch", "docId").rows(Seq(1), StructType.fromDDL("docId INT, score DOUBLE")))
    assert(err.getMessage.contains("'score' has type double"))
    assert(LocalParquet.readAll(conf, "/nonexistent-docfetch", StructType.fromDDL("a INT")).isEmpty)
  }
}
