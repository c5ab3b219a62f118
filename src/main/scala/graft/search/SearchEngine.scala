package graft.search

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{BM25, Tokenizer, VByte}
import graft.index.IndexBuild

/** Per-term statistics resolved at query-analysis time. */
final case class QueryTerm(term: String, df: Long, idf: Double, bucket: Int)

/** Decoded posting row (query-time only; narrow from block decode). */
final case class Posting(docId: Int, term: String, tf: Int)

/** Top-k search result row. */
final case class Hit(docId: Int, score: Double)

/** The read side: BM25 top-k ranked retrieval over the index written by
  * [[graft.index.IndexBuild]] (Spark-first re-expression of the
  * reference's search path, crates/milli/src/search/new/mod.rs: universe
  * filter → term resolution → ranked retrieval → top-k).
  *
  * Two physical strategies, cross-checked in tests:
  *  - `searchDF`: fully declarative — posting scan (bucket-pruned, term
  *    filter pushed to parquet) → decode flatMap (each posting is scored
  *    from its tf, the doc length stored beside it in the block and its
  *    term's idf) → groupBy(docId) → orderBy(score desc, docId).limit(k)
  *    (Catalyst plans TakeOrderedAndProject; no global sort).
  *  - `searchWand`: per-shard block-max WAND inside `flatMapGroups`
  *    (partial top-k per shard, exact global merge) — skips whole blocks
  *    via (firstDoc, lastDoc, blockMaxScore) without decoding them.
  *
  * Neither reads doclen/: the posting blocks carry every doc length a
  * ranked search needs (SURVEY §3.1 — the reference scores from what its
  * posting lists return).
  *
  * Tie-break invariant: equal scores → ascending docId (reference
  * bucket_sort.rs:343-364).
  *
  * LIFETIME: an engine is a SNAPSHOT of the index at construction —
  * stats (driver-side text files) and the stop-word, tokenizer and
  * field settings (parquet read on the driver, [[graft.index.LocalParquet]])
  * load eagerly with no Spark job; the tombstone set loads on the first
  * search, and table listings, the doc store's footer index and the
  * dictionary's listing, footers and answer cache lazily (`tableDFs`,
  * `docStore`, `td`: they live and die with this snapshot; every
  * dictionary read is a pruned driver read, [[graft.index.TermDict]]).
  * After an append, delete or facet/prefix rebuild, open a new engine (the
  * reference's RoTxn snapshot semantics): `DocIndex.open`, which
  * `api.Client` goes through, does so when `Lineage.generation` or a
  * derived marker moves. A held instance is never refreshed.
  *
  * INTERACTIVE DEPLOYMENT: warm query latency is Spark-job-dispatch
  * bound, not data bound — the plans read only the query's pruned term
  * buckets. Warm jobs per call with AQE off: `searchDF` 1 (the ranked
  * collect), `searchWand` 1, `MeiliRank.search`, `searchHits` and an
  * `api.Index.search` page 1 with or without highlighting (the page's
  * documents are read on the driver, [[docRows]]); JobBudgetSpec holds
  * these. A fresh engine costs 0 jobs to open, and its first `searchDF`
  * on a tombstoned index 1 (the dictionary and the tombstone set are
  * read on the driver). A request filter adds its own broadcast; only a
  * filter naming `len` joins doclen/ ([[filteredDocs]]). For a
  * latency-sensitive service, run the query session with
  * `spark.sql.adaptive.enabled=false`: these plans are pruned scans +
  * broadcast joins with nothing for AQE to re-plan, and each AQE
  * exchange otherwise materializes as an extra driver round trip
  * (measured ~17% on warm p50, BENCH.md). Batch/build sessions should
  * keep AQE on.
  */
final class SearchEngine(val spark: SparkSession, val indexDir: String,
                         val broadcastDfCap: Long = SearchEngine.BroadcastDfCap)
    extends Serializable {
  import spark.implicits._

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  // ---- loaded-once index metadata (the FST/dictionary analogue) -------
  /** Every setting the build fixed, read after the format check (an
    * index written by another format — table layout or normalizer folds
    * — fails fast with the remedy instead of answering wrong). */
  val manifest: graft.index.Manifest = graft.index.Manifest.read(spark, indexDir)
  private val totals = IndexBuild.corpusTotals(spark, indexDir, manifest)
  val nDocs: Long = totals._1
  val avgdl: Double = if (nDocs == 0) 0.0 else totals._2.toDouble / nDocs
  val termBuckets: Int = manifest.termBuckets
  val docsPerShard: Int = manifest.docsPerShard

  /** Dictionary access: exact terms, length bands and prefixes, each a
    * pruned driver-side read of dict/. */
  val td = new graft.index.TermDict(spark, s"$indexDir/dict")

  /** Index-time stop-word setting (empty when unset); stop terms are
    * absent from the dictionary, so bag-of-words paths ignore them
    * naturally — the set is for analyzers that must drop them before
    * slot construction (MeiliRank). */
  val stopWords: Set[String] = manifest.stopWords

  /** Index-time tokenizer settings (IndexConfig.tokenizer, persisted by
    * the build): the query side MUST segment with the same settings or
    * query terms would not match indexed terms. */
  val tokSettings: Tokenizer.TokSettings = manifest.tokenizer

  /** Parse a query string under this index's tokenizer settings. A
    * single-field index has exactly one attribute (fid 0), so its
    * locale hint unambiguously applies to the query too — both ends
    * segment identically. Multi-field indexes keep the auto default
    * (the reference's behavior without a query `locales` param: fields
    * may carry different hints, so the query can't pick one). */
  def parseQuery(q: String): graft.query.ParsedQuery =
    graft.query.QueryParser.parse(q,
      if (fieldWeights.isEmpty) tokSettings.forFid(0) else tokSettings)

  /** [[parseQuery]] with an explicit query-side `locales` hint (the
    * reference's search-time `locales` parameter, SearchQuery.locales):
    * the first entry decides the CJK segmentation mode for the QUERY
    * string, overriding autodetect/the index-level default. Empty =
    * the default behavior above. */
  def parseQuery(q: String, locales: Seq[String]): graft.query.ParsedQuery =
    locales.headOption match {
      case None => parseQuery(q)
      case Some(loc) => graft.query.QueryParser.parse(q,
        tokSettings.copy(cjkUnigrams =
          Some(Tokenizer.TokSettings.isCjkLocale(loc))))
    }

  /** (fid, name, weight) of a multi-field index's searchable fields
    * (IndexBuild.buildMultiField), in fid order; empty for single-field. */
  private[graft] val fields: Seq[(Int, String, Int)] = manifest.fields

  /** fid → weight for multi-field indexes; empty for single-field. Lower
    * weight = more important field (reference fieldids_weights_map). */
  val fieldWeights: Map[Int, Int] = fields.map(f => f._1 -> f._3).toMap

  /** Tombstoned docids (IndexBuild.delete): every read path excludes
    * them — postings/positions of deleted docs remain on disk until
    * `IndexBuild.compact` rewrites the index (the Lucene live-docs
    * model). The set is broadcast-small by contract: delete() keeps a
    * counter and compaction bounds it; the cap fails fast with a
    * compact-first message. */
  lazy val deletedDf: Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/deleted")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(spark.read.schema("docId INT").parquet(s"$indexDir/deleted")
        .select($"docId"))
    else None
  }
  /** Read on the driver (no Spark job); the cap is checked on the
    * footers' row counts before a row is read. */
  private lazy val deletedSet: Set[Int] = {
    val dir = s"$indexDir/deleted"
    val n = graft.index.LocalParquet.rowCount(hadoopConf, dir)
    require(n <= SearchEngine.TombstoneCap,
      s"$n tombstones exceed the broadcastable cap (${SearchEngine.TombstoneCap}): run IndexBuild.compact")
    graft.index.LocalParquet.readAll(hadoopConf, dir, StructType.fromDDL("docId INT"))
      .map(_.getInt(0)).toSet
  }
  /** Restrict a (docId, …) DataFrame to live docs. */
  private def liveOnly(df: DataFrame): DataFrame =
    deletedDf.fold(df)(d => df.join(broadcast(d), Seq("docId"), "left_anti"))

  /** Base DataFrame for an index table, resolved ONCE per engine:
    * `spark.read.parquet` re-lists files and re-reads footers on every
    * call — a 1-task Spark job per invocation that showed up as 1-3
    * extra jobs on EVERY query (QueryJobs dev tool). The engine is a
    * snapshot of the index (documented at the class header), so the
    * cached listing is exactly as stale as every other loaded table.
    * Block and positions tables are read with the writers' fixed
    * schemas (no schema-inference job); a facet table's `value` type
    * is the faceted column's, so it is inferred. */
  private val tableDFs =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def tableDF(table: String): DataFrame =
    tableDFs.getOrElseUpdate(table, {
      val schema = table match {
        case "postings" | "prefixes" => Some(IndexBuild.BlocksSchemaDdl)
        case "positions" | "prefix_positions" => Some(IndexBuild.PositionsSchemaDdl)
        case _ => None
      }
      schema.fold(spark.read)(spark.read.schema).parquet(s"$indexDir/$table")
    })

  /** docs/ as its writer laid it out (the multi-field columns included). */
  private lazy val docSchema: StructType = IndexBuild.docsSchema(fields.map(_._2))

  /** docs/ keyed by docId for [[docRows]]: its footer index is read on
    * the first fetch and lives as long as this snapshot. */
  @transient private lazy val docStore =
    new graft.index.LocalParquet.KeyIndex[Int](hadoopConf, s"$indexDir/docs", "docId")

  /** Live doc store WITHOUT the derived `len` column — the cheap view
    * for paths that don't need the BM25 norm. */
  lazy val docsRaw: DataFrame =
    liveOnly(spark.read.schema(docSchema).parquet(s"$indexDir/docs"))

  /** True iff this index persisted a positions table (phrase /
    * proximity / attribute rules and any fid-restricted read need it;
    * callers that would otherwise fail mid-query with an opaque
    * missing-path AnalysisException check this up front). */
  val hasPositions: Boolean = manifest.positions

  /** (docId, len) as written, tombstoned rows included: the lookup side
    * for joins whose other side is already live-only ([[docsRaw]]),
    * where a tombstone anti-join would cost a broadcast job and remove
    * nothing. */
  private[graft] lazy val doclenAll: DataFrame = IndexBuild.readDoclen(spark, indexDir)

  /** Narrow live (docId, len) table, read from the doclen/ table the
    * build's single tokenize pass wrote (ranked search reads the lens
    * stored in the posting blocks instead). */
  lazy val doclen: DataFrame = liveOnly(doclenAll)

  /** Full doc view including `len` (joined from [[doclenAll]]) — the
    * surface for filters, facets and field distribution on `len`; every
    * other path uses [[docsRaw]]. */
  lazy val docs: DataFrame = docsRaw.join(doclenAll, Seq("docId"))

  /** Live docs matching the filter expression `f` (FilterParser
    * syntax), from the narrowest view that holds every field it names
    * ([[docsFor]]): only a filter on `len` pays the doclen join. */
  def filteredDocs(f: String): DataFrame = {
    val (pred, fields) = graft.query.FilterParser.parseWithFields(f)
    docsFor(fields).filter(pred)
  }

  /** Dictionary-resolved QueryTerms for already-tokenized terms. */
  def termsOf(ts: Seq[String]): Seq[QueryTerm] = {
    val dfs = td.lookup(ts)
    ts.distinct.flatMap(t => dfs.get(t).map(queryTerm(t, _)))
  }

  private def queryTerm(t: String, df: Long) =
    QueryTerm(t, df, BM25.idf(df, nDocs), IndexBuild.bucketOf(t, termBuckets))

  /** Query analysis: quoted phrases and `-` negatives are parsed from
    * the query string (reference parse_query.rs:25-192); all positive
    * terms (bag + phrase words) participate in ranking. */
  def analyze(q: String): Seq[QueryTerm] =
    termsOf(parseQuery(q).positiveTerms)

  /** Universe restrictions implied by query syntax: docs that contain
    * every quoted phrase (semi-join side) and docs matching any negative
    * word/phrase (anti-join side, reference search/new/mod.rs:268-295).
    * `fids` (attributesToSearchOn) restricts phrase AND negative
    * resolution to the searched fields — every universe restriction
    * must see the same field set the slot matching does (reference
    * routes phrase resolution through restricted_fids too). Phrases
    * made ENTIRELY of stop words restrict nothing. */
  private[graft] def syntaxDocs(pq: graft.query.ParsedQuery,
                                fids: Option[Set[Int]] = None)
      : (Option[DataFrame], Option[DataFrame]) = {
    val pos = pq.phrases
      .filter(_.exists(w => !stopWords.contains(Tokenizer.normalize(w))))
      .map(ws => phrase(ws, fids))
      .reduceOption((a, b) => a.join(b, Seq("docId"), "left_semi"))
    val negWordDocs = {
      val negTerms = termsOf(pq.negWords)
      if (negTerms.isEmpty) Nil
      else fids match {
        case Some(_) =>
          Seq(positionRows(negTerms.map(_.term), fids).select($"docId").distinct())
        case None => Seq(decoded(negTerms).toDF().select($"docId"))
      }
    }
    val negPhraseDocs = pq.negPhrases
      .filter(_.exists(w => !stopWords.contains(Tokenizer.normalize(w))))
      .map(ws => phrase(ws, fids).select($"docId"))
    val negs = (negWordDocs ++ negPhraseDocs).reduceOption(_.unionByName(_))
    (pos, negs.map(_.distinct()))
  }

  /** Posting blocks for the given terms: bucket partition pruning + term
    * predicate pushed down to the parquet scan. `table` selects the
    * block store ("postings", or "prefixes" for precomputed prefix
    * blocks — same layout, same pruning). */
  def blocksFor(terms: Seq[QueryTerm], table: String = "postings"): DataFrame = {
    val buckets = terms.map(_.bucket).distinct
    tableDF(table)
      .filter($"bucket".isin(buckets: _*) && $"term".isin(terms.map(_.term): _*))
  }

  /** Decode blocks into (docId, term, tf) rows (narrow flatMap);
    * tombstoned docids are dropped during decode. `shardCap` bounds the
    * decode to the first N docid shards (degraded-search work budget) —
    * the predicate is pushed to the parquet block scan, so capped
    * shards are never read, let alone decoded. */
  def decoded(terms: Seq[QueryTerm], shardCap: Option[Int] = None,
              table: String = "postings"): Dataset[Posting] =
    decodedWith(terms, terms.map(t => t.term -> Seq(t)).toMap, shardCap, table)(
      (d, tf, _, t) => Posting(d, t.term, tf))

  /** [[decoded]] with driver-held per-term constants: every live posting
    * (docId, tf, len) of term t becomes one `row(docId, tf, len, c)` per
    * c in `consts(t)` — the rows an inner join against a (term, c) table
    * would give, repeated terms fanning out alike, but with no such
    * table in the plan. A query-local table joined in as a broadcast
    * relation costs its own Spark job; here the constants travel in
    * the closure, looked up once per block in a hash map. `len` is the
    * doc's length from the block's own len stream. */
  def decodedWith[C, T: Encoder](terms: Seq[QueryTerm], consts: Map[String, Seq[C]],
                                 shardCap: Option[Int] = None,
                                 table: String = "postings")
                                (row: (Int, Int, Int, C) => T): Dataset[T] = {
    val del = deletedSet
    val blocks = shardCap.fold(blocksFor(terms, table))(c =>
      blocksFor(terms, table).filter($"shard" < c))
    blocks.select($"term", $"docBytes", $"tfBytes", $"lenBytes")
      .as[(String, Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (term, db, tb, lb) =>
        val cs = consts.getOrElse(term, Nil)
        if (cs.isEmpty) Iterator.empty
        else {
          val ids = VByte.decodeDeltas(db); val tfs = VByte.decode(tb)
          val lens = VByte.decode(lb)
          Iterator.range(0, ids.length)
            .filter(i => del.isEmpty || !del.contains(ids(i)))
            .flatMap(i => cs.iterator.map(c => row(ids(i), tfs(i), lens(i), c)))
        }
      }
  }

  /** Declarative BM25 search. `conjunctive=true` = AND semantics (docs
    * matching all query terms), false = OR. `candidates` (optional)
    * restricts the universe (filter-before-rank, reference
    * search/new/mod.rs:590-601). */
  def searchDF(q: String, k: Int, conjunctive: Boolean = true,
               candidates: Option[DataFrame] = None,
               shardCap: Option[Int] = None): DataFrame = {
    val pq = parseQuery(q)
    val terms = termsOf(pq.positiveTerms)
    if (terms.isEmpty) return spark.emptyDataset[Hit].toDF()
    // each posting scores in the decode, from the doc length its block
    // stores: no doclen read, no join
    val dl = avgdl
    val base = decodedWith(terms, terms.map(t => t.term -> Seq(t)).toMap, shardCap)(
      (d, tf, len, t) => (d, t.term, BM25.score(t.idf, tf, len, dl)))
      .toDF("docId", "term", "tscore")
    val afterCand = candidates match {
      case Some(c) => base.join(broadcast(c.select($"docId")), Seq("docId"), "left_semi")
      case None => base
    }
    // quoted phrases / negative terms restrict the universe BEFORE
    // scoring (filter-before-rank; per-doc BM25 is universe-independent)
    val (phraseDocs, negDocs) = syntaxDocs(pq)
    val afterPhrase = phraseDocs.fold(afterCand)(p =>
      afterCand.join(p.select($"docId"), Seq("docId"), "left_semi"))
    val universe = negDocs.fold(afterPhrase)(nd =>
      afterPhrase.join(nd, Seq("docId"), "left_anti"))
    // deterministic f64 evaluation order: sum per-term scores in
    // ascending term order (SURVEY §7(e)) so ranks are bit-stable
    // across parallelism levels and across the WAND plan
    val agg = universe.groupBy($"docId")
      .agg(count(lit(1)).as("nMatched"),
        aggregate(array_sort(collect_list(struct($"term", $"tscore"))),
          lit(0.0), (acc, x) => acc + x.getField("tscore")).as("score"))
    val filtered = if (conjunctive) agg.filter($"nMatched" === terms.size) else agg
    filtered.select($"docId", $"score")
      .orderBy($"score".desc, $"docId".asc).limit(k)
  }

  /** Work-budget degraded search (reference T4 searchCutoffMs,
    * meilisearch search cutoff: return the best buckets found when the
    * time budget expires and flag the response `degraded`). A wall-
    * clock cutoff is nondeterministic in a distributed batch engine, so
    * the budget is re-expressed as WORK: decode only the first
    * `maxShards` docid shards of each term's postings — a docid-order
    * prefix of the corpus, the same order the reference's bucket
    * iteration visits candidates — and rank that subset with the
    * index-global statistics (idf/avgdl unchanged, exactly like the
    * reference, whose cutoff does not re-estimate statistics).
    * The shard predicate is pushed to the parquet scan: bounded shards
    * = bounded bytes read = bounded time, deterministically.
    * Returns (hits, degraded): degraded=false means the budget covered
    * every shard and the result IS the exact searchDF result. */
  def searchDegraded(q: String, k: Int, maxShards: Int,
                     conjunctive: Boolean = true): (DataFrame, Boolean) = {
    val totalShards = ((nDocs + docsPerShard - 1) / docsPerShard).toInt
    val degraded = maxShards < totalShards
    val cap = if (degraded) Some(maxShards) else None
    (searchDF(q, k, conjunctive, shardCap = cap), degraded)
  }

  /** Cost-routed search (the recommended entry point): plain queries
    * whose Σdf exceeds `broadcastDfCap` go to block-max WAND — it
    * skips undecoded blocks and never materializes per-doc posting rows,
    * the right physical plan for stop-word-heavy queries at scale;
    * everything else takes the declarative plan. Both plans are
    * rank-identical (cross-checked in specs). */
  def search(q: String, k: Int, conjunctive: Boolean = true): DataFrame = {
    val pq = parseQuery(q)
    if (pq.isPlain && termsOf(pq.positiveTerms).map(_.df).sum > broadcastDfCap)
      searchWand(q, k, conjunctive)
    else searchDF(q, k, conjunctive)
  }

  /** Block-max WAND search: per-shard top-k inside flatMapGroups (the
    * only imperative operator on the read path), exact global merge.
    * Each shard's doc lengths come from the len streams of its own
    * blocks, tombstones dropped: no doclen/ side, so the one exchange
    * ships only the query's blocks. Queries carrying phrase/negative
    * syntax delegate to the declarative plan (per-shard pruning cannot
    * see cross-shard universe restrictions without losing top-k
    * exactness). */
  def searchWand(q: String, k: Int, conjunctive: Boolean = true): DataFrame = {
    val pq = parseQuery(q)
    if (!pq.isPlain) return searchDF(q, k, conjunctive)
    val terms = analyze(q)
    if (terms.isEmpty) return spark.emptyDataset[Hit].toDF()
    val termStats = terms.map(t => t.term -> t.idf).toMap
    val bTermStats = spark.sparkContext.broadcast(termStats)
    val bAvgdl = avgdl
    val conj = conjunctive
    val kk = k
    val del = deletedSet
    val blocks = blocksFor(terms)
      .select(struct($"term", $"shard", $"firstDoc", $"lastDoc", $"count",
        $"docBytes", $"tfBytes", $"blockMaxTf").as("_1"), $"lenBytes".as("_2"))
      .as[(Wand.Block, Array[Byte])]
    val hits = blocks.groupByKey(_._1.shard).flatMapGroups { (_, rows) =>
      val bs = rows.toArray
      val lens = new scala.collection.mutable.HashMap[Int, Int]
      bs.foreach { case (b, lb) =>
        val ids = VByte.decodeDeltas(b.docBytes); val ls = VByte.decode(lb)
        var i = 0
        while (i < ids.length) {
          if (del.isEmpty || !del.contains(ids(i))) lens.update(ids(i), ls(i))
          i += 1
        }
      }
      Wand.topKShard(bs.map(_._1), lens, bTermStats.value, bAvgdl, kk, conj)
    }
    hits.toDF("docId", "score")
      .orderBy($"score".desc, $"docId".asc).limit(k)
  }

  /** Universe of docids matching the query (no ranking): the
    * "resolve_universe" step of the reference (search/new/mod.rs:781). */
  def candidates(q: String, conjunctive: Boolean = true): DataFrame = {
    val pq = parseQuery(q)
    val terms = termsOf(pq.positiveTerms)
    if (terms.isEmpty) return spark.range(0).select($"id".cast("int").as("docId"))
    val agg = decoded(terms).toDF().groupBy($"docId")
      .agg(count(lit(1)).as("nMatched"))
    val f = if (conjunctive) agg.filter($"nMatched" === terms.size) else agg
    val (phraseDocs, negDocs) = syntaxDocs(pq)
    val afterPhrase = phraseDocs.fold(f)(p =>
      f.join(p.select($"docId"), Seq("docId"), "left_semi"))
    negDocs.fold(afterPhrase)(nd =>
      afterPhrase.join(nd, Seq("docId"), "left_anti"))
      .select($"docId")
  }

  /** Facet distribution: value -> doc count over the query's candidates
    * (reference facet_distribution.rs:332 execute; max_values_per_facet
    * default 100, facet/mod.rs:26). */
  def facetDistribution(q: String, facetCol: String, maxValues: Int = 100): DataFrame =
    facetCountsOver(broadcast(candidates(q)), facetCol, maxValues)

  /** Facet value counts over an explicit docId universe (shared by
    * facetDistribution and the api facade's per-request facets — ONE
    * definition of the count/tie-order/limit semantics).
    *
    * `sortBy` mirrors the reference's FacetValuesSort
    * (facet_values_sort.rs): "count" = decreasing count with value-asc
    * tie-break; "alpha" = lexicographic ascending (the reference's
    * per-facet DEFAULT — the api facade defaults to it; this engine
    * helper keeps "count" for direct callers). maxValues truncates in
    * the chosen order, like the reference's bounded iteration. */
  def facetCountsOver(universe: DataFrame, facetCol: String,
                      maxValues: Int = 100,
                      sortBy: String = "count"): DataFrame = {
    val counts = docsFor(Seq(facetCol))
      .join(universe.select($"docId"), Seq("docId"), "left_semi")
      .groupBy(col(facetCol)).agg(count(lit(1)).as("n"))
    (sortBy match {
      case "count" => counts.orderBy(col("n").desc, col(facetCol).asc)
      case "alpha" => counts.orderBy(col(facetCol).asc)
      case other => throw new IllegalArgumentException(
        s"sortFacetValuesBy must be 'alpha' or 'count', got '$other'")
    }).limit(maxValues)
  }

  /** Narrowest live doc view that holds every column of `cols`: only
    * `len` needs the doclen join. */
  private[graft] def docsFor(cols: Iterable[String]): DataFrame =
    if (cols.exists(_ == "len")) docs else docsRaw

  /** Facet stats: numeric min/max over candidates (reference
    * facet_distribution.rs facet_stats). */
  def facetStats(q: String, numCol: Column, alias: String): DataFrame =
    docs.join(broadcast(candidates(q)), Seq("docId"), "left_semi")
      .agg(min(numCol).as(s"min_$alias"), max(numCol).as(s"max_$alias"),
        count(lit(1)).as("n"))

  /** Positions rows for the given terms (bucket-pruned scan of the
    * positions table), live docs only. `table` selects the store
    * ("positions", or "prefix_positions" for merged prefix rows). */
  def positionsFor(terms: Seq[String], table: String = "positions"): DataFrame =
    liveOnly(positionScan(terms, table))

  /** The bucket-pruned, term-pushed positions scan, tombstones included. */
  private def positionScan(terms: Seq[String], table: String): DataFrame = {
    val buckets = terms.map(IndexBuild.bucketOf(_, termBuckets)).distinct
    tableDF(table).filter($"bucket".isin(buckets: _*) && $"term".isin(terms: _*))
  }

  /** [[positionRows]] with driver-held per-term constants, the
    * positions counterpart of [[decodedWith]]: every position of term t
    * in a live doc (fid-restricted like positionRows) becomes one
    * `row(docId, pos, len, c)` per c in `consts(t)`, with no (term, c)
    * table in the plan; `len` is the doc's length stored on its row.
    * Tombstones drop in the closure, like in decodedWith. */
  def positionsWith[C, T: Encoder](consts: Map[String, Seq[C]],
                                   fids: Option[Set[Int]] = None,
                                   table: String = "positions")
                                  (row: (Int, Int, Int, C) => T): Dataset[T] = {
    val del = deletedSet
    positionScan(consts.keys.toSeq, table)
      .select($"term", $"docId", $"positions", $"len")
      .as[(String, Int, Array[Int], Int)]
      .flatMap { case (t, d, ps, len) =>
        val cs = consts.getOrElse(t, Nil)
        if (cs.isEmpty || del.contains(d)) Iterator.empty
        else ps.iterator.filter(p => fids.forall(_.contains(p >> 16)))
          .flatMap(p => cs.iterator.map(c => row(d, p, len, c)))
      }
  }

  /** Exploded (docId, pos) rows for the given terms, optionally
    * restricted to a field set (attributesToSearchOn — positions carry
    * fid<<16 in multi-field indexes, reference
    * search/new/mod.rs:115-170 restricted_fids). */
  def positionRows(terms: Seq[String], fids: Option[Set[Int]] = None,
                   table: String = "positions"): DataFrame = {
    val rows = positionsFor(terms, table)
      .select($"term", $"docId", explode($"positions").as("pos"))
    fids match {
      case Some(f) =>
        rows.filter(shiftright($"pos", 16).cast("int").isin(f.toSeq: _*))
      case None => rows
    }
  }

  // ---- precomputed prefix tables (IndexBuild.buildPrefixIndex) --------

  /** Selection dictionary of materialized prefixes (empty when the
    * index has no prefix tables). */
  lazy val prefixDict = new graft.index.TermDict(spark, s"$indexDir/prefix_dict")

  /** True iff `p` has a materialized merged posting list. */
  def prefixIndexed(p: String): Boolean = prefixDict.contains(p)

  /** (term=prefix, docId) rows of a PRECOMPUTED prefix — the union of
    * all member terms' docids, read as ordinary posting blocks (one
    * bounded pruned scan, regardless of how many terms share the
    * prefix: the reference's word_prefix_docids read path). The slot
    * carries the prefix_dict df (Σ member df — an upper bound on the
    * merged doc count, since a doc holding several member terms counts
    * once per term), so prefix-bearing queries cost-route through the
    * same Σdf screen as plain terms instead of always looking cheap. */
  def prefixDocs(p: String): DataFrame =
    decoded(Seq(prefixTerm(p)), table = "prefixes")
      .toDF().select($"term", $"docId")

  /** The routing QueryTerm of a precomputed prefix, its df from
    * prefix_dict (a df=0 slot always looked broadcast-cheap). */
  def prefixTerm(p: String): QueryTerm = queryTerm(p, prefixDict.lookup(Seq(p)).getOrElse(p, 0L))

  /** Exploded (docId, pos) rows of a precomputed prefix (merged member
    * positions; fid restriction as in [[positionRows]]). */
  def prefixPositionRows(p: String, fids: Option[Set[Int]] = None): DataFrame =
    positionRows(Seq(p), fids, table = "prefix_positions")

  /** Docs where the words occur as a consecutive phrase (reference
    * compute_phrase_docids, resolve_query_graph.rs:187-268 — word bitmap
    * intersection + adjacency; here: position joins). Index-time STOP
    * WORDS inside the phrase act as position placeholders (the
    * reference keeps them as any-word slots, parse_query.rs:311-318):
    * they have no position rows, so their slot contributes no
    * constraint while the remaining words keep their original offsets —
    * "the quick fox" with "the" stopped still matches docs where
    * quick/fox sit two apart. A phrase of ONLY stop words matches every
    * doc (callers skip the restriction — see syntaxDocs). */
  def phrase(words: Seq[String], fids: Option[Set[Int]] = None): DataFrame = {
    require(words.nonEmpty)
    require(hasPositions, "quoted and negative phrases need a positions-enabled " +
      "index (IndexConfig.positions = true)")
    val ws = words.map(Tokenizer.normalize)
    val active = ws.zipWithIndex.filterNot { case (w, _) => stopWords.contains(w) }
    if (active.isEmpty) return docsRaw.select($"docId")
    val exploded = active.map { case (w, i) =>
      positionRows(Seq(w), fids).filter($"term" === w)
        .select($"docId", ($"pos" - i).as("p0"))
    }
    // doc has the phrase iff some start position p0 appears in every list
    exploded.reduce((a, b) => a.join(b, Seq("docId", "p0"), "left_semi"))
      .select($"docId").distinct()
  }

  /** Per-doc proximity between two words: the reference's asymmetric
    * distance (proximity.rs:7-15): if p2>p1 -> p2-p1 else p1-p2+1,
    * capped at 7 index-side (extract_word_pair_proximity_docids.rs:17). */
  def proximity(w1: String, w2: String, cap: Int = 7): DataFrame = {
    val a = positionsFor(Seq(Tokenizer.normalize(w1)))
      .filter($"term" === Tokenizer.normalize(w1))
      .select($"docId", explode($"positions").as("p1"))
    val b = positionsFor(Seq(Tokenizer.normalize(w2)))
      .filter($"term" === Tokenizer.normalize(w2))
      .select($"docId", explode($"positions").as("p2"))
    a.join(b, Seq("docId"))
      .withColumn("d", when($"p2" > $"p1", $"p2" - $"p1").otherwise($"p1" - $"p2" + 1))
      .groupBy($"docId")
      .agg(least(min($"d"), lit(cap)).as("prox"))
  }

  /** Docs matching `q` (AND) that do NOT contain `negTerm` (reference
    * negative terms, search/new/mod.rs:268-295: subtract from universe). */
  def negative(q: String, negTerm: String): DataFrame = {
    val neg = analyze(negTerm)
    val negDocs = if (neg.isEmpty) spark.range(0).select($"id".cast("int").as("docId"))
      else decoded(neg).toDF().select($"docId").distinct()
    candidates(q).join(negDocs, Seq("docId"), "left_anti")
  }

  /** Prefix expansion: the first `cap` dictionary terms starting with
    * `prefix`, a pruned range read of dict/ (reference on-the-fly
    * word-range scan, compute_derivations.rs:45-78, capped at
    * MAX_PREFIX_COUNT, :215; prefixes hot enough to overflow the cap
    * should be served by the precomputed tables, [[prefixDocs]]). */
  def prefixTerms(prefix: String,
                  cap: Int = SearchEngine.MaxPrefixCount): Seq[String] =
    td.withPrefix(Tokenizer.normalize(prefix), cap).map(_._1).toSeq

  /** Docs matching any of [[prefixTerms]], with the count of distinct
    * matched terms. */
  def prefixSearch(prefix: String, cap: Int = SearchEngine.MaxPrefixCount): DataFrame =
    termDocs(td.withPrefix(Tokenizer.normalize(prefix), cap).toSeq.map((queryTerm _).tupled))

  /** Docs matching any of `ts`, with the count of distinct matched terms. */
  private def termDocs(ts: Seq[QueryTerm]): DataFrame =
    if (ts.isEmpty) spark.range(0).select($"id".cast("int").as("docId"), lit(0L).as("nTerms"))
    else decoded(ts).toDF().groupBy($"docId").agg(countDistinct($"term").as("nTerms"))

  /** Typo expansion: dictionary (term, distance) pairs within `maxDist`
    * edits (reference Levenshtein-DFA ∩ words-FST,
    * compute_derivations.rs:80-165). The walk visits only dictionary
    * prefixes still within the edit budget — sub-linear in vocabulary
    * size — over the query word's length band (|len(t)-len(w)| ≤ budget
    * is a necessary condition, so only that band is even loaded). */
  def typoCandidates(word: String, maxDist: Int): Seq[(String, Int)] = {
    val w = Tokenizer.normalize(word)
    val (terms, _) = td.lengthBand(math.max(1, w.length - maxDist), w.length + maxDist)
    LevWalk(terms, w, maxDist)
  }

  def typoSearch(word: String, maxDist: Int): DataFrame =
    termDocs(termsOf(typoCandidates(word, maxDist).map(_._1)))

  /** Adjacent-pair doc counts for MANY (left, right) word pairs in ONE
    * job (reference split_best_frequency consults the pair-proximity-1
    * table per candidate, compute_derivations.rs:388-408 — the naive
    * re-expression ran one Spark job per candidate split, serializing
    * query analysis). */
  def adjacencyCounts(pairs: Seq[(String, String)]): Map[(String, String), Long] = {
    if (pairs.isEmpty) return Map.empty
    val left = positionsWith(pairs.groupBy(_._1))((d, p, _, lr) => (lr._1, lr._2, d, p))
      .toDF("l", "r", "docId", "p1")
    left.join(positionRows(pairs.map(_._2).distinct).toDF("r", "docId", "p2"),
        Seq("r", "docId"))
      .where($"p2" === $"p1" + 1)
      .select($"l", $"r", $"docId").distinct()
      .groupBy($"l", $"r").count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
  }

  /** Field distribution: field name -> count of docs with a value
    * (reference FieldDistribution, lib.rs:97; schema is fixed here so it
    * is per-column non-null counts). */
  def fieldDistribution(): Map[String, Long] = {
    val cols = docs.columns.filter(_ != "docId")
    val row = docs.select(cols.map(c => count(col(c)).as(c)).toIndexedSeq: _*).collect()(0)
    cols.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
  }

  /** Exhaustive candidate count (reference totalHits /
    * estimatedTotalHits, search/new/mod.rs:829-842; in batch Spark both
    * are exact). */
  def totalHits(q: String, conjunctive: Boolean = true,
                filter: Option[String] = None): Long = {
    val base = candidates(q, conjunctive)
    filter.fold(base)(f =>
      base.join(filteredDocs(f).select($"docId"), Seq("docId"), "left_semi"))
      .count()
  }

  /** Paginated search (reference page/hitsPerPage vs offset/limit,
    * meilisearch/src/search/mod.rs:74-77): top (offset+limit) then
    * slice — Catalyst plans TakeOrderedAndProject, so the offset skip
    * never materializes a global sort. */
  def searchPage(q: String, offset: Int, limit: Int,
                 conjunctive: Boolean = true,
                 filter: Option[String] = None): (Array[Hit], Long) = {
    val cand = filter.map(filteredDocs)
    val top = searchDF(q, offset + limit, conjunctive, cand)
      .as[Hit].collect().drop(offset)
    (top, totalHits(q, conjunctive, filter))
  }

  /** Value rows of a persisted facet index (IndexBuild.buildFacetIndex):
    * (value, n, docidMin, docidMax) sorted by value. The `where`
    * predicate (over `value`) is pushed into the value-sorted parquet,
    * so a range reads O(matching values) rows — the reference's facet
    * level tree walk (facet/facet_range_search.rs) re-expressed as
    * row-group pruning. Throws if the column has no facet index. */
  def facetIndex(colName: String, where: Column = lit(true)): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/facets/$colName")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"no facet index for '$colName' — run IndexBuild.buildFacetIndex first")
    tableDF(s"facets/$colName").filter(where)
  }

  /** Exhaustive count of docs whose facet value satisfies `where`,
    * answered from the facet index alone (never scans the doc store —
    * counts follow the build-time snapshot, i.e. Lucene tombstone
    * semantics like every other statistic). */
  def facetRangeCount(colName: String, where: Column): Long =
    facetIndex(colName, where)
      .agg(coalesce(sum($"n"), lit(0L))).collect()(0).getLong(0)

  /** Facet-value search (reference SearchForFacetValues,
    * search/facet/search.rs:21-73): facet values of the query's
    * candidates whose normalized value starts with `facetQuery`, with
    * counts, ordered by count desc then value (OrderBy::Count). */
  def facetSearch(q: String, facetCol: String, facetQuery: String,
                  maxValues: Int = 100, typoTolerant: Boolean = false,
                  orderByLex: Boolean = false): DataFrame = {
    val norm = Tokenizer.normalize(facetQuery.trim)
    // normalize BOTH sides identically (reference normalizes the facet
    // value into facet_id_normalized_string_strings, lib.rs:378-380) —
    // lower() alone would never match a diacritic value ('Café') against
    // its own normalized query ('cafe'). UDF runs post-agg on ≤ distinct
    // facet values, not per doc.
    val normUdf = udf((s: String) => if (s == null) null else Tokenizer.normalize(s.trim))
    val grouped = docsFor(Seq(facetCol)).join(broadcast(candidates(q)), Seq("docId"), "left_semi")
      .groupBy(col(facetCol).as("value"))
      .agg(count(lit(1)).as("n"))
      .withColumn("nv", normUdf(col("value")))
    // typo-tolerant variant: the reference runs a PREFIX-accepting
    // Levenshtein DFA over the facet FST (build_dfa(is_prefix=true),
    // search/facet/search.rs:152-160) — a value matches when some
    // prefix of it is within the budget of the query, so a typo'd
    // prefix of a long facet value still hits; budget by query len
    val matched =
      if (!typoTolerant) grouped.filter(col("nv").startsWith(norm))
      else {
        val budget = Levenshtein.budgetFor(norm)
        val levUdf = udf((v: String) =>
          v != null && (v.startsWith(norm) ||
            Levenshtein.prefixDistance(v, norm) <= budget))
        grouped.filter(levUdf(col("nv")))
      }
    // reference OrderBy::Count (default) vs OrderBy::Lexicographic
    // (facet_values_sort_order setting, search/facet/search.rs)
    val ordered =
      if (orderByLex) matched.orderBy(col("value").asc)
      else matched.orderBy(col("n").desc, col("value").asc)
    ordered.drop("nv").limit(maxValues)
  }

  /** Top-k + document materialization (reference make_hits). The k
    * scored rows are cut FIRST, then their metadata is read on the
    * driver ([[docRows]]) — the doc store is never joined wholesale
    * (same shape as MeiliRank.search's materialization). Returns local
    * rows in rank order: one job, the top-k collect. */
  def searchHits(q: String, k: Int, filter: Option[String] = None,
                 conjunctive: Boolean = true): DataFrame = {
    val cand = filter.map(filteredDocs)
    val top = searchDF(q, k, conjunctive, cand)
    withDocCols(top.collect(), top.schema, Seq("repo", "path", "commit", "lang"))
  }

  /** Doc-store rows (`docId +: cols`) by docId, for ids a live-only plan
    * produced (no tombstone check): point lookups in docs/ on the driver,
    * no Spark job (the reference's documents-store reads by internal
    * docid, index.rs:175-176). Only the files whose row groups' docId
    * ranges hold a requested id are opened, and their row groups, pages
    * and records are pruned on `docId IN ids`; an id without a stored
    * doc has no entry. */
  private[graft] def docRows(ids: Seq[Int], cols: Seq[String]): Map[Int, Row] =
    docStore.rows(ids, StructType(("docId" +: cols).map(docSchema(_))))

  /** Page-sized `rows` (in final order, with `schema`) plus the doc-store
    * columns `cols`, merged on the driver ([[docRows]], no job),
    * inner-join semantics (a row without a stored doc drops). The
    * result is a local relation in the same order. */
  private[graft] def withDocCols(rows: Array[Row], schema: StructType,
                                 cols: Seq[String]): DataFrame = {
    val idIdx = schema.fieldIndex("docId")
    val meta = docRows(rows.map(_.getInt(idIdx)).toSeq, cols)
    localDF(rows.toSeq.flatMap(r => meta.get(r.getInt(idIdx))
        .map(m => Row.fromSeq(r.toSeq ++ m.toSeq.tail))),
      StructType(schema.fields ++ cols.map(docSchema(_))))
  }

  /** Driver rows as a local relation: collecting it (or a projection of
    * it) runs no Spark job, and it keeps the rows' order. */
  private[graft] def localDF(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}

object SearchEngine {
  /** Σdf above which [[SearchEngine.search]] routes a plain query to
    * block-max WAND: below it, the declarative plan's ~4M decoded posting
    * rows are cheap to aggregate; a skewed stop-word term (df ≈ 40% of
    * corpus) exceeds it immediately, and WAND skips its blocks instead
    * of materializing a row per posting. */
  final val BroadcastDfCap: Long = 4L << 20

  /** Max tombstones held as a task-local set (4M Ints ≈ 16 MB);
    * beyond it, compact. */
  final val TombstoneCap: Long = 4L << 20

  /** On-the-fly prefix expansion cap (reference MAX_PREFIX_COUNT,
    * query_term/compute_derivations.rs:215). */
  final val MaxPrefixCount: Int = 1000
}
