package graft.api

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.index.{IndexBuild, IndexConfig}

/** Multi-index management: create-by-build, list, stats, swap, delete. */
class ClientSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def buildInto(c: Client, uid: String, rows: Seq[(Long, String)]): Unit = {
    val df = rows.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    IndexBuild.buildFromTable(spark, df, "doc_id", "text", "lang", "source",
      c.indexDir(uid), IndexConfig(docsPerShard = 4, termBuckets = 2,
        blockSize = 4, numPartitions = 2, positions = true))
  }

  test("build-by-uid, list, stats, swap, delete") {
    val root = tempDir("graft-client")
    val c = new Client(spark, root)
    assert(c.listIndexes().isEmpty && !c.indexExists("movies"))

    buildInto(c, "movies", Seq((0L, "alpha beta"), (1L, "beta gamma")))
    buildInto(c, "movies_new", Seq((0L, "delta epsilon")))
    assert(c.listIndexes() == Seq("movies", "movies_new"))
    assert(c.stats("movies").numberOfDocuments == 2)
    assert(c.stats("movies_new").numberOfDocuments == 1)
    assert(c.stats("movies").fieldDistribution("lang") == 2)

    // search through the client facade
    val hits = c.index("movies").search(SearchRequest(q = "beta"))
      .collect().map(_.getInt(0)).toSet
    assert(hits == Set(0, 1))

    // swap: readers opening 'movies' now see the new build
    c.swapIndexes("movies", "movies_new")
    assert(c.stats("movies").numberOfDocuments == 1)
    val swapped = c.index("movies").search(SearchRequest(q = "delta"))
      .collect().map(_.getInt(0)).toSet
    assert(swapped == Set(0))
    assert(c.stats("movies_new").numberOfDocuments == 2)

    c.deleteIndex("movies_new")
    assert(c.listIndexes() == Seq("movies"))
    intercept[IllegalArgumentException](c.index("movies_new"))
    intercept[IllegalArgumentException](c.stats("movies_new"))
    intercept[IllegalArgumentException](c.swapIndexes("movies", "movies_new"))
    intercept[IllegalArgumentException](c.swapIndexes("movies", "movies"))
    intercept[IllegalArgumentException](c.index("../escape"))
    // a committed index is not "indexing"; recovery dirs never list
    assert(!c.stats("movies").isIndexing)
    assert(c.danglingSwaps().isEmpty)
  }

  test("tasks lists one row per lineage stage with status, docid range and timestamps") {
    val root = tempDir("graft-client-tasks")
    val c = new Client(spark, root)
    buildInto(c, "movies", Seq((0L, "alpha beta"), (1L, "beta gamma"),
      (2L, "gamma delta")))
    val ts = c.tasks("movies")
    // every build stage of this path committed exactly once
    val byStage = ts.map(t => t.stage -> t).toMap
    assert(byStage.keySet.contains("docs") && byStage.keySet.contains("stats"),
      s"${byStage.keySet}")
    assert(ts.forall(_.status == "succeeded"), s"$ts")
    assert(ts.forall(_.indexUid == "movies"))
    // task uids are the listing order (finish time)
    assert(ts.map(_.uid) == ts.indices.map(_.toLong), s"$ts")
    assert(ts.forall(_.finishedAt.isDefined), s"$ts")
    // the docs stage's lineage rows cover the built docid range
    assert(byStage("docs").docidMin.contains(0) &&
      byStage("docs").docidMax.contains(2), s"${byStage("docs")}")
    assert(byStage("docs").partitions > 0)
    // an uncommitted stage dir (a killed build would leave one) reports
    // processing — the set a resume re-runs
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(c.indexDir("movies"), "lineage/prefix_tables"))
    val ts2 = c.tasks("movies")
    val pending = ts2.filter(_.status == "processing").map(_.stage)
    assert(pending == Seq("prefix_tables"), s"$ts2")
    intercept[IllegalArgumentException](c.tasks("missing"))
  }

  test("multiSearch answers N independent requests as N result lists") {
    val root = tempDir("graft-msearch")
    val c = new Client(spark, root)
    buildInto(c, "books", Seq((0L, "alpha beta"), (1L, "beta gamma")))
    buildInto(c, "films", Seq((0L, "delta beta"), (1L, "epsilon")))
    val res = c.multiSearch(Seq(
      "books" -> SearchRequest(q = "beta"),
      "films" -> SearchRequest(q = "beta"),
      "books" -> SearchRequest(q = "gamma")))
    assert(res.map(_._1) == Seq("books", "films", "books"),
      "results come back in request order, tagged by uid")
    val hits = res.map { case (_, df) => df.collect().map(_.getInt(0)).toSet }
    // NO score merging across indexes — each list is independent
    assert(hits == Seq(Set(0, 1), Set(0), Set(1)), s"$hits")
    intercept[IllegalArgumentException](
      c.multiSearch(Seq("missing" -> SearchRequest(q = "x"))))
  }
}
