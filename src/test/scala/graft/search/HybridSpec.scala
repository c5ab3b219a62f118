package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.index.{IndexBuild, IndexConfig}
import graft.ops.Similarity
import graft.rank.MeiliRank

/** Hybrid merge pool semantics: the max-weighted merge's top-k is
  * contained in (top-k keyword) ∪ (top-k semantic), so the default
  * pool = k produces the same result as an effectively-unbounded pool. */
class HybridSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val words = Seq("spark", "merge", "batch", "stream", "window",
    "table", "index", "shard", "cursor", "buffer")

  lazy val (engine, emb) = {
    val dir = tempDir("hybrid")
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 6).map(j => words((i * 7 + j * 3) % words.length)).mkString(" "))
    }.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    IndexBuild.buildFromTable(spark, docs, "doc_id", "text", "lang", "source",
      dir, IndexConfig(docsPerShard = 16, termBuckets = 2, blockSize = 4,
        numPartitions = 2, positions = true))
    // deterministic unit-ish embeddings keyed by doc id
    val e = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => (((i * 31 + d * 17) % 13) - 6).toFloat / 7f))
    }.toDF("vec_id", "embedding")
    (new SearchEngine(spark, dir), e)
  }

  test("default pool (= k) merge equals the effectively-unbounded pool merge") {
    // exactness claim is on MEMBERSHIP and hybridScore: a doc outside
    // one arm's top-k reports 0.0 for that arm's auxiliary score (the
    // reference's merge also keeps only the better origin's detail);
    // the winning weighted score — and therefore the merged ordering —
    // is identical
    val mr = new MeiliRank(engine)
    def run(pool: Int) =
      Hybrid.search(mr, emb, "vec_id", "embedding", "spark merge",
        Similarity.queryVector(emb, "vec_id", "embedding", 0L),
        ratio = 0.5, k = 10, candidatePool = pool)
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    val defaultPool = run(0)       // 0 -> k
    val fullPool = run(1000000)
    assert(defaultPool == fullPool,
      s"pool=k must be exact:\n k: $defaultPool\n 1M: $fullPool")
    assert(defaultPool.nonEmpty)
  }

  test("external-vector hybrid equals id-based hybrid when the vector is a corpus row") {
    val mr = new MeiliRank(engine)
    val q3 = emb.where(col("vec_id") === 3L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    // a corpus id is a query vector through the one resolver
    val resolved = Similarity.queryVector(emb, "vec_id", "embedding", 3L)
    assert(resolved.sameElements(q3))
    val byId = rows(Hybrid.search(mr, emb, "vec_id", "embedding",
      "spark merge", resolved, ratio = 0.5, k = 10))
    val byVec = rows(Hybrid.search(mr, emb, "vec_id", "embedding",
      "spark merge", q3, ratio = 0.5, k = 10))
    assert(byId == byVec)
    assert(byVec.nonEmpty)
    val e = intercept[IllegalArgumentException](
      Similarity.queryVector(emb, "vec_id", "embedding", 40L))
    assert(e.getMessage.contains("unknown document id 40"), e.getMessage)
  }

  test("ratio extremes: pool = k stays exact for pure keyword and pure semantic") {
    val mr = new MeiliRank(engine)
    Seq(0.0, 1.0).foreach { ratio =>
      def run(pool: Int) =
        Hybrid.search(mr, emb, "vec_id", "embedding", "batch stream",
          Similarity.queryVector(emb, "vec_id", "embedding", 3L),
          ratio = ratio, k = 5, candidatePool = pool)
          .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
      assert(run(0) == run(1000000), s"ratio $ratio mismatch")
    }
  }
}
