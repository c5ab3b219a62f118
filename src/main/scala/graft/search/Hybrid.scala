package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Hybrid keyword + semantic search (reference
  * crates/milli/src/search/hybrid.rs: `search_hybrid` runs the keyword
  * and vector searches, weighs each hit's normalized score by the
  * semantic ratio, and merges the two lists comparing weighted scores —
  * `compare_scores` at hybrid.rs:21, ratio merge at :88-160).
  *
  * Re-expression: both sides are DataFrames of (docId, score∈[0,1]) —
  * keyword = MeiliRank's exact mixed-radix rankingScore, semantic =
  * cosine similarity. A doc's hybrid score is the best of its weighted
  * scores, max((1−ratio)·kw, ratio·sem) — exactly the order the
  * reference's merge-by-weighted-score visits docs in, dedup keeping
  * the better origin. ratio=0 → pure keyword, ratio=1 → pure semantic.
  */
object Hybrid {

  /** Keyword arm: the top-`pool` scored universe, (docId, rankingScore)
    * only — NOT `MeiliRank.search`, which materializes the page plus
    * document metadata the merge never reads (and whose eager top-k
    * collect would pull `pool` rows to the driver when the caller
    * passes a large ordering pool). */
  private def kwArm(mr: graft.rank.MeiliRank, q: String,
                    pool: Int): DataFrame = {
    val (filtered, sortCols, n) = mr.scoredUniverse(q)
    if (n == 0)
      filtered.sparkSession.range(0)
        .select(col("id").cast("int").as("docId"),
          lit(0.0).as("rankingScore"))
    else filtered.orderBy(sortCols: _*).limit(pool)
      .select(col("docId"), col("rankingScore"))
  }

  /** Merge pre-scored lists. `keyword`: (docId, rankingScore);
    * `semantic`: (docId, score). Returns (docId, hybridScore, kwScore,
    * semScore) top-k by (hybridScore desc, docId asc). */
  def merge(keyword: DataFrame, semantic: DataFrame, ratio: Double,
            k: Int): DataFrame = {
    require(ratio >= 0.0 && ratio <= 1.0, "semanticRatio in [0,1]")
    val kw = keyword.select(col("docId"), col("rankingScore").as("kwScore"))
    val sem = semantic.select(col("docId"), col("score").as("semScore"))
    kw.join(sem, Seq("docId"), "full_outer")
      .withColumn("hybridScore", round(greatest(
        coalesce(col("kwScore") * (1.0 - ratio), lit(0.0)),
        coalesce(col("semScore") * ratio, lit(0.0))), 6))
      .select(col("docId"), col("hybridScore"),
        round(coalesce(col("kwScore"), lit(0.0)), 6).as("kwScore"),
        round(coalesce(col("semScore"), lit(0.0)), 6).as("semScore"))
      .orderBy(col("hybridScore").desc, col("docId").asc)
      .limit(k)
  }

  /** Embedding rows above which the semantic arm refuses to full-scan:
    * mirrors Similarity.MaxExactPairRows — above it every hybrid query
    * re-reading every vector is the 100-TB anti-pattern. */
  final val SemanticExactMaxRows: Long = 200000L

  /** The one semantic router, for [[search]] and `api.Index.similar`,
    * cost-routed like `SearchEngine.search` routes to WAND: below
    * `exactMaxRows` (or with no index built) the exact brute-force
    * cosine is the right plan AND the oracle baseline; above it the
    * persisted multi-probe LSH index is read instead — only the probed
    * bucket partitions are scanned (partition pruning), with an exact
    * fixed-point re-rank inside them, so returned scores are exact and
    * recall is the (spec-measured) multi-probe recall. `universe`
    * (optional docid set, e.g. a filter's matches) restricts both arms
    * before the top-k. Returns (docId, score). */
  def semanticTopK(emb: DataFrame, idCol: String, vecCol: String,
                   queryVec: Array[Float], pool: Int,
                   indexDir: Option[String] = None,
                   exactMaxRows: Long = SemanticExactMaxRows,
                   universe: Option[DataFrame] = None): DataFrame = {
    // routing from plan STATISTICS (free — no per-query count() job;
    // parquet sources report exact byte sizes): 512 B/row is a generous
    // per-embedding-row estimate, so the exact path persists slightly
    // past the cap rather than LSH kicking in early
    def estBytes: BigInt = emb.queryExecution.optimizedPlan.stats.sizeInBytes
    val useLsh = indexDir.isDefined &&
      (exactMaxRows <= 0 || estBytes / 512 > exactMaxRows)
    if (useLsh)
      Similarity.lshIndexTopK(emb.sparkSession, indexDir.get, queryVec, pool, 2, universe)
        .select(col("vec_id").cast("int").as("docId"), col("score"))
    else {
      // loud guard against the scale anti-pattern when NO index exists.
      // Catalyst size estimates for derived/joined embedding frames can
      // be off by orders of magnitude in either direction, so the plan-
      // statistics estimate is only the screen: when it trips, confirm
      // with a BOUNDED count (limit cap+1 — never a full scan) before
      // failing, so a mis-estimated small frame still runs exact.
      // A cap at or beyond Int.MaxValue can't be confirmed with a
      // bounded limit (and +1 would overflow) — such a cap is
      // effectively "no guard", so skip the confirm
      if (indexDir.isEmpty && exactMaxRows > 0 &&
          exactMaxRows < Int.MaxValue && estBytes > BigInt(exactMaxRows) * 512)
        require(emb.limit(exactMaxRows.toInt + 1).count() <= exactMaxRows,
          s"embedding table exceeds $exactMaxRows rows and no LSH " +
            "index was given: build one with Similarity.buildLshIndex")
      Similarity.cosineTopK(emb, idCol, vecCol, queryVec, pool, universe)
        .select(col(idCol).cast("int").as("docId"), col("score"))
    }
  }

  /** End-to-end: rank `q` with the rule cascade, score embeddings by
    * cosine against `queryVec` (reference SearchQuery.vector +
    * HybridQuery, meilisearch/src/search/mod.rs:64-67; a corpus row's
    * vector comes from `Similarity.queryVector`) via [[semanticTopK]]'s
    * cost routing, merge at `ratio`. `emb` rows must be keyed by the
    * same ids as the doc store.
    *
    * `candidatePool` (default 0 = `k`): per-arm top-N fed to the merge.
    * For the max-weighted merge, the hybrid top-k is contained in
    * (top-k keyword) ∪ (top-k semantic): a doc outside an arm's top-k
    * is dominated there by ≥k docs whose weighted (hence hybrid) score
    * is at least its own — so pool = k is exact, and a 1M-row
    * TakeOrdered heap per arm per query (the previous default) is pure
    * waste at scale. One caveat at 1e-6 granularity: the keyword arm
    * truncates on its exact cascade order, but hybridScore is rounded
    * to 6 decimals — a doc at keyword rank k+1 whose score ROUNDS equal
    * to the k-th's (and has a smaller docId) would win the post-round
    * docId tie-break under an unbounded pool yet is excluded at
    * pool = k; ordering may therefore differ on such rounding ties.
    * Pass an explicit larger pool only to materialize a deeper merged
    * ordering than the returned top-k. */
  def search(mr: graft.rank.MeiliRank, emb: DataFrame, idCol: String,
             vecCol: String, q: String, queryVec: Array[Float], ratio: Double,
             k: Int, candidatePool: Int = 0,
             semanticIndexDir: Option[String] = None,
             semanticExactMaxRows: Long = SemanticExactMaxRows): DataFrame = {
    val pool = if (candidatePool > 0) candidatePool else k
    val kw = kwArm(mr, q, pool)
    val sem = semanticTopK(emb, idCol, vecCol, queryVec,
      pool, semanticIndexDir, semanticExactMaxRows)
    merge(kw, sem, ratio, k)
  }
}
