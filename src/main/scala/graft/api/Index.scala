package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.rank.{MeiliRank, TermsMatching, TypoSettings}
import graft.search.SearchEngine

/** One search call, mirroring the reference's search API surface
  * (meilisearch/src/search/mod.rs SearchQuery: q, filter, sort, limit,
  * offset, attributesToSearchOn, matchingStrategy, distinct,
  * rankingScoreThreshold). `sort` entries are `field:asc|desc`,
  * evaluated lexicographically at the position of the `sort` ranking
  * rule. Query-string syntax (quoted phrases, `-negatives`) applies. */
final case class SearchRequest(
    q: String = "",
    filter: Option[String] = None,
    sort: Seq[String] = Nil,
    limit: Int = 20,
    offset: Int = 0,
    attributesToSearchOn: Option[Seq[String]] = None,
    matchingStrategy: String = "last",
    rankingScoreThreshold: Option[Double] = None,
    distinct: Option[String] = None,
    rankingRules: Seq[String] = MeiliRank.DefaultRules,
    lastWordIsPrefix: Boolean = false,
    highlight: Boolean = false,
    cropLength: Option[Int] = None,
    cropMarker: String = "…",
    preTag: String = "<em>", postTag: String = "</em>",
    showMatchesPosition: Boolean = false,
    // reference showRankingScoreDetails (SearchQuery mod.rs:94,
    // score_details.rs:145-302): per-rule rank/score breakdown as a
    // `_rankingScoreDetails` JSON column
    showRankingScoreDetails: Boolean = false,
    attributesToRetrieve: Option[Seq[String]] = None,
    // reference attributesToHighlight / attributesToCrop (`*` = all
    // stored fields; crop entries may carry a per-field length,
    // `"body:5"`). On a multi-field index these choose WHICH fields of
    // the per-field `_formatted` map get tags / crop windows; `highlight
    // = true` / `cropLength` alone mean "all retrieved fields".
    attributesToHighlight: Option[Seq[String]] = None,
    attributesToCrop: Option[Seq[String]] = None,
    // reference SearchQuery.locales: query-side segmentation hint; the
    // first entry decides the CJK unigram mode for the query string
    // (index-side segmentation is per-field via localizedAttributes)
    locales: Seq[String] = Nil)

/** Index-level client facade: settings (synonyms live here, like the
  * reference's index settings; stop words and field weights are
  * index-time settings read from the index itself) + one `search`
  * entry point over the ranking cascade. Everything stays a DataFrame —
  * the caller composes further or collects. */
final class Index(val engine: SearchEngine,
                  synonyms: Map[String, Seq[String]] = Map.empty,
                  typo: TypoSettings = TypoSettings(),
                  proximityPrecision: graft.rank.ProximityPrecision =
                    graft.rank.ProximityPrecision.ByWord,
                  exactAttributes: Seq[String] = Nil) {
  import engine.spark.implicits._

  /** field name → fid for attributesToSearchOn (multi-field indexes). */
  private val fieldIds: Map[String, Int] =
    engine.fields.map { case (fid, name, _) => name -> fid }.toMap

  // exactAttributes (the reference's typoTolerance.disableOnAttributes,
  // index.rs:125-126): resolve names to fids and fold into the typo
  // settings the cascade enforces (TypoSettings.exactFids)
  private val mr = new MeiliRank(engine, synonyms,
    if (exactAttributes.isEmpty) typo
    else typo.copy(exactFids = typo.exactFids ++ exactAttributes.map(n =>
      fieldIds.getOrElse(n, throw new IllegalArgumentException(
        s"unknown exactAttributes field '$n'")))),
    proximityPrecision)

  private def strategyOf(name: String): TermsMatching = name.toLowerCase match {
    case "last" => TermsMatching.Last
    case "all" => TermsMatching.All
    case "frequency" => TermsMatching.Frequency
    case other => throw new IllegalArgumentException(
      s"unknown matchingStrategy '$other' (last|all|frequency)")
  }

  private def fidsOf(attrs: Option[Seq[String]]): Option[Set[Int]] =
    attrs.map(_.map(n => fieldIds.getOrElse(n,
      throw new IllegalArgumentException(s"unknown searchable attribute '$n'"))).toSet)

  /** One `field:asc|desc` sort entry → Column, validated identically on
    * the ranked and placeholder paths. */
  private val SortEntry = "([A-Za-z_][A-Za-z0-9_]*):(asc|desc)".r
  private def sortCol(entry: String): org.apache.spark.sql.Column = entry match {
    case SortEntry(f, "asc") => col(f).asc_nulls_last
    case SortEntry(f, "desc") => col(f).desc_nulls_last
    case other => throw new IllegalArgumentException(
      s"invalid sort entry '$other' (field:asc|field:desc)")
  }

  def search(r: SearchRequest): DataFrame = {
    val ranked =
      if (r.q.trim.isEmpty) placeholderRanked(r)
      else {
        val strategy = strategyOf(r.matchingStrategy)
        val fids = fidsOf(r.attributesToSearchOn)
        // sort entries replace the `sort` rule slot in configured order
        // (multi-entry sort = lexicographic at that position); validate
        // them eagerly so both paths reject malformed entries alike
        r.sort.foreach(sortCol)
        val rules = r.rankingRules.flatMap {
          case "sort" => r.sort
          case other => Seq(other)
        }
        mr.search(r.q, r.offset + r.limit,
          filterExpr = r.filter,
          distinct = r.distinct,
          lastIsPrefix = r.lastWordIsPrefix,
          strategy = strategy,
          scoreThreshold = r.rankingScoreThreshold,
          searchOnFids = fids,
          rankingRules = rules,
          locales = r.locales,
          withScoreDetails = r.showRankingScoreDetails)
          // serialize at the API edge, like the reference's JSON response
          .transform(df =>
            if (!r.showRankingScoreDetails) df
            else df.withColumn("_rankingScoreDetails",
              to_json(col("_rankingScoreDetails"))))
      }
    val sliced =
      if (r.offset == 0) ranked
      else {
        // offset+limit is page-sized (reference caps at maxTotalHits):
        // slice the already-ranked top-(offset+limit) driver-side,
        // exactly like the reference's paginator — never a global-sort
        // skip
        engine.localDF(ranked.collect().drop(r.offset).toSeq, ranked.schema)
      }
    val wantsFormat = r.highlight || r.cropLength.isDefined ||
      r.showMatchesPosition || r.attributesToHighlight.exists(_.nonEmpty) ||
      r.attributesToCrop.exists(_.nonEmpty)
    val formatted =
      if (!wantsFormat) sliced
      else if (fieldIds.nonEmpty) withFormattedMulti(sliced, r)
      else withFormatted(sliced, r)
    // attributesToRetrieve (reference displayed/retrieved attributes):
    // project to docId + the requested fields + any _-meta columns
    r.attributesToRetrieve.fold(formatted) { names =>
      val keep = (("docId" +: names) ++
        formatted.columns.filter(_.startsWith("_"))).distinct
      formatted.select(keep.map(col): _*)
    }
  }

  /** `_formatted` column: crop to the best window, wrap every matched
    * derivation (typo forms included) with pre/post tags — driver-side
    * over the k result rows, the reference's Matcher model
    * (matches/mod.rs: re-tokenize stored fields against MatchingWords;
    * k is page-sized by contract, no cluster work needed). */
  /** The request's match model for formatting: bag-word derivations
    * highlight anywhere; quoted phrases and phrase derivations (splits,
    * multi-word synonyms) highlight only at adjacency sites (the
    * reference matcher's phrase arm). Table-served prefixes carry no
    * per-term derivations: highlight by startsWith instead. Crop
    * windows center over bag words AND phrase member words — a pure
    * quoted-phrase query must still center its crop on the match site
    * (only the highlight pass is phrase-adjacency-strict). */
  private case class MatchModel(terms: Set[String], prefixes: Set[String],
                                phrases: Seq[Seq[String]]) {
    def cropTerms: Set[String] = terms ++ phrases.flatten
  }
  private def matchModel(r: SearchRequest): MatchModel = {
    val slots = mr.analyze(r.q, r.lastWordIsPrefix, r.locales)
    MatchModel(
      slots.filterNot(_.noTypo).flatMap(_.derivations.map(_._1)).toSet,
      slots.flatMap(_.prefixDerivs).toSet,
      engine.parseQuery(r.q, r.locales).phrases ++
        slots.flatMap(_.phraseDerivs.map(_._1)))
  }

  private def withFormatted(page: DataFrame, r: SearchRequest): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val mm = matchModel(r)
    val terms = mm.terms
    val prefixes = mm.prefixes
    val phrases = mm.phrases
    val cropTerms = mm.cropTerms
    // single-field indexes have one stored field: a non-empty
    // attributesToHighlight means highlight it; an attributesToCrop
    // entry's `:n` suffix sets the window
    val doHighlight = r.highlight || r.attributesToHighlight.exists(_.nonEmpty)
    val cropLen: Option[Int] = r.cropLength.orElse(
      r.attributesToCrop.filter(_.nonEmpty).map(es =>
        es.collectFirst { case e if e.contains(':') =>
          e.substring(e.indexOf(':') + 1).toInt }.getOrElse(10)))
    val rows = page.collect()
    val contents = engine.docRows(rows.map(_.getAs[Int]("docId")).toSeq,
      Seq("content")).map { case (d, row) => d -> row.getString(1) }
    val wantFmt = doHighlight || cropLen.isDefined
    val out = rows.map { row =>
      val text = contents.getOrElse(row.getAs[Int]("docId"), "")
      val extra = Seq.newBuilder[Any]
      if (wantFmt) {
        val cropped = cropLen.fold(text)(n =>
          graft.search.Highlighter.crop(text, cropTerms, n, r.cropMarker,
            engine.tokSettings))
        extra += (if (doHighlight)
          graft.search.Highlighter.highlight(cropped, terms, r.preTag, r.postTag,
            prefixTerms = prefixes, phrases = phrases, tok = engine.tokSettings)
        else cropped)
      }
      // `_matchesPosition` (reference show_matches_position: per-match
      // term + word position + char span over the stored field)
      if (r.showMatchesPosition)
        extra += graft.search.Highlighter
          .matches(text, terms, prefixes, phrases, engine.tokSettings)
          .sortBy(_.start)
          .map(m => s"${m.term}@${m.pos}[${m.start},${m.end})").mkString(";")
      Row.fromSeq(row.toSeq ++ extra.result())
    }.toSeq
    val extraFields =
      (if (wantFmt) Seq(StructField("_formatted", StringType)) else Nil) ++
        (if (r.showMatchesPosition) Seq(StructField("_matchesPosition", StringType)) else Nil)
    engine.localDF(out, StructType(page.schema.fields ++ extraFields))
  }

  /** Per-field `_formatted` for multi-field indexes (reference: the
    * `_formatted` response object mirrors the document's attributes —
    * each retrieved field is cropped/highlighted INDIVIDUALLY against
    * the same MatchingWords, never the concatenation;
    * attributesToHighlight / attributesToCrop pick which fields get
    * tags / windows, search/mod.rs format fields). `_formatted` and
    * `_matchesPosition` become field→value maps here. */
  private def withFormattedMulti(page: DataFrame, r: SearchRequest): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}
    val mm = matchModel(r)
    // stored fields in fid order; `*` expands to all of them
    val stored = fieldIds.toSeq.sortBy(_._2).map(_._1)
    def expand(sel: Seq[String]): Seq[String] =
      if (sel.contains("*")) stored else sel.filter(stored.contains)
    val retrieved = r.attributesToRetrieve.fold(stored)(expand)
    val hlSet: Set[String] = r.attributesToHighlight.map(expand)
      .getOrElse(if (r.highlight) retrieved else Nil).toSet
    // crop entries may carry a per-field length ("body:5"); a bare name
    // uses the request default (reference crop attribute syntax)
    val cropMap: Map[String, Int] = r.attributesToCrop match {
      case Some(entries) => entries.flatMap { e =>
          val (name, n) = e.indexOf(':') match {
            case -1 => (e, r.cropLength.getOrElse(10))
            case i => (e.substring(0, i), e.substring(i + 1).toInt)
          }
          (if (name == "*") stored else Seq(name).filter(stored.contains))
            .map(_ -> n)
        }.toMap
      case None => r.cropLength.fold(Map.empty[String, Int])(n =>
        retrieved.map(_ -> n).toMap)
    }
    // _formatted carries retrieved ∪ highlighted ∪ cropped fields, in
    // fid order (the reference adds to-highlight/to-crop attributes to
    // the formatted object even when not retrieved)
    val fmtFields = stored.filter(f =>
      retrieved.contains(f) || hlSet.contains(f) || cropMap.contains(f))
    val wantFmt = hlSet.nonEmpty || cropMap.nonEmpty ||
      (r.highlight || r.cropLength.isDefined)
    val rows = page.collect()
    val texts: Map[Int, Map[String, String]] =
      engine.docRows(rows.map(_.getAs[Int]("docId")).toSeq, fmtFields)
        .map { case (d, row) => d ->
          fmtFields.zipWithIndex.map { case (f, i) =>
            f -> Option(row.getString(i + 1)).getOrElse("")
          }.toMap }
    val H = graft.search.Highlighter
    val out = rows.map { row =>
      val fields = texts.getOrElse(row.getAs[Int]("docId"), Map.empty)
      val extra = Seq.newBuilder[Any]
      if (wantFmt)
        extra += fmtFields.map { f =>
          val text = fields.getOrElse(f, "")
          val cropped = cropMap.get(f).fold(text)(n =>
            H.crop(text, mm.cropTerms, n, r.cropMarker, engine.tokSettings))
          f -> (if (hlSet.contains(f))
            H.highlight(cropped, mm.terms, r.preTag, r.postTag,
              prefixTerms = mm.prefixes, phrases = mm.phrases,
              tok = engine.tokSettings)
          else cropped)
        }.toMap
      if (r.showMatchesPosition)
        extra += retrieved.flatMap { f =>
          val text = fields.getOrElse(f, "")
          val ms = H.matches(text, mm.terms, mm.prefixes, mm.phrases,
            engine.tokSettings).sortBy(_.start)
          if (ms.isEmpty) None
          else Some(f -> ms.map(m =>
            s"${m.term}@${m.pos}[${m.start},${m.end})").mkString(";"))
        }.toMap
      Row.fromSeq(row.toSeq ++ extra.result())
    }.toSeq
    val mapT = MapType(StringType, StringType, valueContainsNull = false)
    val extraFields =
      (if (wantFmt) Seq(StructField("_formatted", mapT)) else Nil) ++
        (if (r.showMatchesPosition) Seq(StructField("_matchesPosition", mapT)) else Nil)
    engine.localDF(out, StructType(page.schema.fields ++ extraFields))
  }

  /** Placeholder ranking (reference: an empty `q` matches every
    * document, ordered by the applicable rules —
    * meilisearch/src/search/mod.rs placeholder path): all live docs,
    * filter / sort / distinct applied; every doc scores 1.0 (no
    * relevance signal to rank on). Slicing, formatting and
    * attributesToRetrieve run in the SHARED `search` tail, so the
    * placeholder path honors the full request surface. */
  private def placeholderRanked(r: SearchRequest): DataFrame = {
    val filtered = r.filter.fold(engine.docs)(f =>
      engine.docs.filter(graft.query.FilterParser.parse(f)))
    val sortCols = r.sort.map(sortCol) :+ col("docId").asc
    val deduped = r.distinct match {
      case Some(dcol) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(dcol)).orderBy(sortCols: _*)
        filtered.withColumn("_rn", row_number().over(w))
          .where($"_rn" === 1).drop("_rn")
      case None => filtered
    }
    deduped.withColumn("rankingScore", lit(1.0))
      .orderBy(sortCols: _*).limit(r.offset + r.limit)
  }

  /** Exhaustive hit count for the request: the SAME derivation-aware
    * matched universe `search` ranks and `facetDistributions` counts —
    * the three API surfaces must agree on one candidate set. With
    * `distinct` set, the count is of the distinct-COLLAPSED universe
    * (reference applies the distinct rule before exhaustive counting,
    * search/new/mod.rs:829-842; meilisearch/src/search/mod.rs:1098-1109)
    * so page counts agree with what pagination actually returns: one
    * doc per distinct value, plus one per docs missing the attribute...
    * which the ranking window also collapses to a single null-group
    * representative — counted as 1 here identically. */
  def totalHits(r: SearchRequest): Long = {
    // a rankingScoreThreshold restricts the counted universe exactly as
    // it restricts the page (the reference applies it during bucket
    // iteration): count over the SCORED universe then
    val uni =
      if (r.q.trim.isEmpty || r.rankingScoreThreshold.isEmpty) requestUniverse(r)
      else {
        r.sort.foreach(sortCol)
        val rules = r.rankingRules.flatMap {
          case "sort" => r.sort
          case other => Seq(other)
        }
        mr.scoredUniverse(r.q, r.filter,
          lastIsPrefix = r.lastWordIsPrefix,
          strategy = strategyOf(r.matchingStrategy),
          scoreThreshold = r.rankingScoreThreshold,
          searchOnFids = fidsOf(r.attributesToSearchOn),
          rankingRules = rules,
          locales = r.locales)._1.select(col("docId"))
      }
    r.distinct match {
      case None => uni.count()
      case Some(dcol) =>
        val row = engine.docs.join(uni.select(col("docId")), Seq("docId"), "left_semi")
          .agg(countDistinct(col(dcol)).as("nv"),
            count(when(col(dcol).isNull, 1)).as("nNull")).collect()(0)
        row.getLong(0) + (if (row.getLong(1) > 0) 1L else 0L)
    }
  }

  /** The request's candidate docIds: MeiliRank's matched docs under the
    * request's derivations/strategy/attributesToSearchOn, intersected
    * with its filter; the full (filtered) doc set for a placeholder
    * (empty-q) request. */
  private def requestUniverse(r: SearchRequest): DataFrame = {
    val uni0 =
      if (r.q.trim.isEmpty) engine.docs.select(col("docId"))
      else mr.matchedDocs(r.q, strategyOf(r.matchingStrategy),
        fidsOf(r.attributesToSearchOn), r.lastWordIsPrefix)
    r.filter.fold(uni0)(f =>
      uni0.join(engine.filteredDocs(f).select(col("docId")), Seq("docId"), "left_semi"))
  }

  /** Facet distributions for the request's candidate set (reference
    * `facets: [...]` in the search body → facetDistribution in the
    * response): value counts per requested facet column over the SAME
    * universe `search` ranks — MeiliRank's matched docs under the
    * request's derivations (typos/synonyms/splits/prefix), matching
    * strategy and attributesToSearchOn — intersected with the request
    * filter. */
  def facetDistributions(r: SearchRequest, facets: Seq[String],
                         maxValues: Int = 100,
                         sortFacetValuesBy: Map[String, String] = Map.empty)
      : Map[String, DataFrame] = {
    // one universe, broadcast into every per-facet semi-join (same hint
    // the engine's facetDistribution uses); each returned DataFrame is
    // an independent plan — callers wanting several facets materialized
    // together should cache the request's result set.
    // sortFacetValuesBy is the reference's per-facet setting map
    // (faceting.sortFacetValuesBy, "*" wildcard): unlisted facets use
    // the reference DEFAULT, alphabetical ascending
    val universe = broadcast(requestUniverse(r))
    facets.map { fc =>
      val order = sortFacetValuesBy.getOrElse(fc,
        sortFacetValuesBy.getOrElse("*", "alpha"))
      fc -> engine.facetCountsOver(universe, fc, maxValues, order)
    }.toMap
  }

  /** Similar-documents facade (reference `GET /indexes/{uid}/similar`,
    * milli/src/search/similar.rs:1-132 + routes/indexes/similar.rs):
    * top-`limit` documents by embedding cosine against document `id`'s
    * embedding, EXCLUDING the target itself (similar.rs:73), restricted
    * to the `filter` universe (similar.rs:52-66 — the target need not
    * match the filter), offset-sliced, optional score threshold
    * (similar.rs:97-106).
    *
    * `emb` rows must be keyed by the same ids as the doc store (the
    * Hybrid contract). The target's vector comes from
    * `Similarity.queryVector` and is ranked by Hybrid's one semantic
    * router ([[graft.search.Hybrid.semanticTopK]]): exact below the cap,
    * the persisted LSH index above it; the filter becomes a broadcast
    * semi-join applied BEFORE the top-k, so a filtered request still
    * fills k. */
  def similar(emb: DataFrame, idCol: String, vecCol: String, id: Long,
              limit: Int = 20, offset: Int = 0,
              filter: Option[String] = None,
              semanticIndexDir: Option[String] = None,
              rankingScoreThreshold: Option[Double] = None,
              semanticExactMaxRows: Long =
                graft.search.Hybrid.SemanticExactMaxRows): DataFrame = {
    // the target's vector (the one per-request id lookup; the reference
    // fetches the target's embeddings the same way, similar.rs:67-90)
    val qvec = graft.ops.Similarity.queryVector(emb, idCol, vecCol, id, semanticIndexDir)
    val universe = filter.map(f => engine.filteredDocs(f).select(col("docId")))
    val pool = offset + limit + 1 // +1: the target may occupy one slot
    val ranked = graft.search.Hybrid.semanticTopK(emb, idCol, vecCol, qvec, pool,
      semanticIndexDir, semanticExactMaxRows, universe)
    val scored = ranked.where(col("docId") =!= id)
      .transform(df => rankingScoreThreshold.fold(df)(t =>
        df.where(col("score") >= t)))
      .orderBy(col("score").desc, col("docId").asc)
    if (offset == 0) scored.limit(limit)
    else {
      // page-sized slice, like search(): never a global-sort skip
      engine.localDF(scored.limit(offset + limit).collect().drop(offset).toSeq,
        scored.schema)
    }
  }
}
