package graft.rank

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Tokenizer
import graft.query.{ParsedQuery, QueryParser}
import graft.search.{Levenshtein, SearchEngine}
import graft.index.IndexBuild

/** One query term slot with its derivations (reference QueryTerm:
  * zero-typo / one-typo / two-typo derivation sets,
  * query_term/compute_derivations.rs:26-43).
  *
  * @param derivations single-term derivations: (term, typoCost)
  * @param phraseDerivs multi-word derivations matched by adjacency:
  *   (words, typoCost) — split-words ("quickbrown" → quick+brown, cost
  *   1, reference split_best_frequency compute_derivations.rs:388-408)
  *   and multi-word synonyms (cost 0, compute_derivations.rs:223-241);
  *   never exact
  * @param noTypo slot came from a quoted phrase: exact form only
  *   (reference: phrases are not typo-tolerant, parse_query.rs)
  * @param prefixDerivs prefixes served by the PRECOMPUTED prefix tables
  *   (IndexBuild.buildPrefixIndex): the slot matches the merged
  *   docid/position lists of every term with the prefix, via ONE
  *   pseudo-term read — never a per-term expansion (reference
  *   word_prefix_docids, index.rs:129-132)
  */
final case class Slot(idx: Int, original: String,
                      derivations: Seq[(String, Int)],
                      phraseDerivs: Seq[(Seq[String], Int)] = Nil,
                      noTypo: Boolean = false,
                      prefixDerivs: Seq[String] = Nil)

/** Typo-tolerance settings (reference index settings: authorize_typos
  * index.rs:36-37, min_word_len_one_typo / min_word_len_two_typos
  * defaults 5/9 parse_query.rs:194-215, exact_words FST — words listed
  * there get no typo derivations).
  *
  * @param exactFids attributes (by fid) with typo tolerance DISABLED
  *   (reference exact_attributes, index.rs:125-126 — the
  *   `typoTolerance.disableOnAttributes` setting): a typo-derived form
  *   only matches in attributes OUTSIDE this set (db_cache.rs:183-205
  *   resolves derived words through word_docids_without_exact); the
  *   exact query word still matches everywhere. Applies to any
  *   derivation with typo cost > 0 (typos, ngram merges, split words);
  *   cost-0 derivations (synonyms, prefixes) are not typos and match
  *   everywhere. [[graft.api.Index]] maps attribute names to fids. */
final case class TypoSettings(enabled: Boolean = true,
                              oneTypo: Int = 5, twoTypos: Int = 9,
                              exactWords: Set[String] = Set.empty,
                              exactFids: Set[Int] = Set.empty) {
  def budgetFor(word: String): Int =
    if (!enabled || exactWords.contains(word)) 0
    else if (word.length < oneTypo) 0
    else if (word.length < twoTypos) 1
    else 2
}

/** Proximity-rule precision (reference ProximityPrecision,
  * crates/milli/src/proximity.rs:31-37): ByWord = the full asymmetric
  * word-pair distance; ByAttribute = the cheap mode large deployments
  * switch on — only two distances exist, "words share an attribute"
  * (cost 1) or not (cost 8 / MAX), computed from per-field
  * co-occurrence alone (db_cache.rs:369-409: word1_fid ∩ word2_fid). */
sealed trait ProximityPrecision
object ProximityPrecision {
  case object ByWord extends ProximityPrecision
  case object ByAttribute extends ProximityPrecision
}

/** Term-removal strategy for the words rule (reference
  * TermsMatchingStrategy, milli/src/search/mod.rs:352; removal order
  * search/new/mod.rs:219-248). */
sealed trait TermsMatching
object TermsMatching {
  /** remove the LAST term first (default) */
  case object Last extends TermsMatching
  /** single bucket: docs matching every term */
  case object All extends TermsMatching
  /** remove the most document-frequent term first */
  case object Frequency extends TermsMatching
}

/** The Meilisearch ranking-rule cascade, re-expressed as one multi-column
  * sort (reference: bucket_sort.rs:21-286 recursive bucket refinement ==
  * lexicographic sort on per-rule rank columns; criterion.rs:82-91
  * default order words, typo, proximity, attribute, sort, exactness).
  *
  * Per-rule rank construction mirrors score_details.rs:
  *  - words: rank = matched-prefix length in KEEP order (the strategy's
  *    reverse removal order; Last keeps query order,
  *    search/new/mod.rs:219-248)
  *  - typo: cost = Σ typo cost of the cheapest matching derivation per
  *    kept slot; budget 0/1/2 by word length (parse_query.rs:194-215); a
  *    first-letter typo counts as one extra (compute_derivations.rs
  *    first-letter trick); 2-gram merges of adjacent words cost n−1 = 1
  *    (make_ngram parse_query.rs:217-283, typo/mod.rs:41-78)
  *  - proximity: cost = Σ over original-adjacent kept slot pairs of the
  *    asymmetric pair distance clamped to [1,7], 8 when absent
  *    (proximity.rs:7-15, extract MAX_DISTANCE 8 exclusive); pairs
  *    spanning a removed slot contribute 0 (graph contraction
  *    approximated optimistically)
  *  - attribute/position: cost = Σ bucketed first position per kept slot
  *    (ranking_rule_graph/position cost table ~ log buckets,
  *    lib.rs:213-225)
  *  - exactness: exact-attribute bucket 3/2/1 (whole-field exact /
  *    starts-with / other, exact_attribute.rs:11-50) then count of
  *    words matched by their exact form (exactness/mod.rs:19-92)
  *
  * The global score merges consecutive (rank, maxRank) pairs mixed-radix
  * (score_details.rs:420-429): merge(outer, inner) =
  * ((outer.rank-1)*inner.maxRank + inner.rank) / (outer.max*inner.max) —
  * computed here as integer Column arithmetic, so it is exact.
  *
  * Query-string syntax (parse_query.rs:25-192): quoted phrases restrict
  * the universe AND contribute exact-only slots; `-word`/`-"…"`
  * negatives subtract from the universe (search/new/mod.rs:268-295).
  */
final class MeiliRank(engine: SearchEngine,
                      synonyms: Map[String, Seq[String]] = Map.empty,
                      typo: TypoSettings = TypoSettings(),
                      proximityPrecision: ProximityPrecision = ProximityPrecision.ByWord) {
  private val spark = engine.spark
  import spark.implicits._

  // exactFids routes every typo-derived term through the fid-restricted
  // positions path (typoFids below) — on a positions-less index that
  // would surface mid-query as an opaque AnalysisException on the
  // missing positions/ directory. Fail fast with the actual contract.
  require(typo.exactFids.isEmpty || engine.hasPositions,
    "typo.exactFids / exactAttributes requires a positions-enabled index " +
      "(IndexConfig.positions = true)")

  def analyze(q: String, lastIsPrefix: Boolean = false,
              locales: Seq[String] = Nil): Seq[Slot] =
    analyzeParsed(engine.parseQuery(q, locales), lastIsPrefix)

  /** Analyze a parsed query into slots with typo-budgeted derivations.
    * ONE batched dictionary lookup covers every membership test (words,
    * synonym expansions, split candidates, ngram merges) — one pruned
    * driver read per term length; typo derivations come from the
    * Levenshtein-automaton walk (sub-linear in vocabulary). */
  def analyzeParsed(pq: ParsedQuery, lastIsPrefix: Boolean = false): Seq[Slot] = {
    // stop words are dropped as query terms (reference keeps position
    // placeholders, parse_query.rs:311-318; here surrounding slots
    // simply become adjacent — documented simplification)
    val flagged: Seq[(String, Boolean)] =
      pq.posTokens.flatMap(t => t.terms.map(w => (w, t.phrase)))
        .filterNot { case (w, _) => engine.stopWords.contains(w) }
    val words = flagged.map(_._1)
    val synExp = words.flatMap(w =>
      synonyms.getOrElse(w, Nil).flatMap(Tokenizer.terms(_, engine.tokSettings)))
    val splitParts = flagged.flatMap { case (w, ph) =>
      if (ph) Nil
      else (1 until w.length).flatMap(i => Seq(w.substring(0, i), w.substring(i)))
    }
    // 2- and 3-gram merges of adjacent bag words (reference make_ngram,
    // max ngram 3 — parse_query.rs:217-283): (startSlot, compound, width)
    val ngrams: Seq[(Int, String, Int)] =
      flagged.zipWithIndex.sliding(2).collect {
        case Seq(((a, false), i), ((b, false), _)) => (i, a + b, 2)
      }.toSeq ++
      flagged.zipWithIndex.sliding(3).collect {
        case Seq(((a, false), i), ((b, false), _), ((c, false), _)) =>
          (i, a + b + c, 3)
      }.toSeq
    val known = engine.td.lookup(
      (words ++ synExp ++ splitParts ++ ngrams.map(_._2)).distinct)

    val base = flagged.zipWithIndex.map { case ((w, isPhrase), i) =>
      val derivs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      val phraseDerivs = Vector.newBuilder[(Seq[String], Int)]
      var prefixDerivs: Seq[String] = Nil
      if (known.contains(w)) derivs(w) = 0
      if (!isPhrase) {
        val budget = typo.budgetFor(w)
        synonyms.getOrElse(w, Nil).foreach { s =>
          val ts = Tokenizer.terms(s, engine.tokSettings)
          if (ts.size == 1) {
            if (known.contains(ts.head) && !derivs.contains(ts.head))
              derivs(ts.head) = 0
          } else if (ts.nonEmpty && ts.forall(known.contains))
            phraseDerivs += ((ts, 0)) // multi-word synonym, cost 0
        }
        // prefix expansion for the last word (cost 0, reference X5):
        // precomputed prefix tables when materialized (one pseudo-term
        // read, bounded regardless of vocabulary); else an on-the-fly
        // expansion capped at MAX_PREFIX_COUNT
        if (lastIsPrefix && i == flagged.length - 1) {
          if (engine.prefixIndexed(w)) prefixDerivs = Seq(w)
          else engine.prefixTerms(w).foreach(t => if (!derivs.contains(t)) derivs(t) = 0)
        }
        if (budget > 0) {
          engine.typoCandidates(w, budget).foreach { case (t, d) =>
            if (d > 0 && !derivs.contains(t)) {
              // first-letter typo counts as one extra typo
              val eff = if (t.head != w.head) d + 1 else d
              if (eff <= budget) derivs(t) = eff
            }
          }
        }
        if (derivs.isEmpty && prefixDerivs.isEmpty)
          splitBest(w, known.contains).foreach(p => phraseDerivs += ((List(p._1, p._2), 1)))
      }
      Slot(i, w, derivs.toSeq, phraseDerivs.result(), noTypo = isPhrase,
        prefixDerivs = prefixDerivs)
    }
    // attach ngram derivations: the merged compound covers ALL its
    // slots — cost n−1 on the leftmost, 0 on the others, never exact
    val ngramBySlot = ngrams.filter(n => known.contains(n._2))
    if (ngramBySlot.isEmpty) base
    else base.map { s =>
      val extra = ngramBySlot.collect {
        case (i, m, w) if s.idx >= i && s.idx < i + w =>
          (m, if (s.idx == i) w - 1 else 0)
      }
      if (extra.isEmpty) s
      else {
        val d = scala.collection.mutable.LinkedHashMap(s.derivations: _*)
        extra.foreach { case (t, c) => if (!d.contains(t) || d(t) > c) d(t) = c }
        s.copy(derivations = d.toSeq)
      }
    }
  }

  /** Best (l, r) split of an unknown word into two dictionary words, by
    * frequency of their adjacency (pair proximity 1) — reference
    * split_best_frequency. Ties break toward the lexicographically
    * smallest left part (deterministic). All candidates are counted in
    * ONE Spark job (adjacencyCounts), not one job per split. */
  def splitBest(word: String,
                inDict: String => Boolean = engine.td.contains): Option[(String, String)] = {
    val cands = (1 until word.length)
      .map(i => (word.substring(0, i), word.substring(i)))
      .filter { case (l, r) => inDict(l) && inDict(r) }
      .sortBy(_._1)
    if (cands.isEmpty) None
    else if (cands.size == 1) Some(cands.head)
    else {
      val counts = engine.adjacencyCounts(cands)
      val best = cands.map(c => (c, counts.getOrElse(c, 0L)))
        .maxBy(_._2) // stable: first max in sorted order
      if (best._2 > 0) Some(best._1) else Some(cands.head)
    }
  }

  /** Field restriction for typo-derived forms when exactFids is set:
    * the allowed fids minus the typo-disabled ones (None = no
    * restriction applies at all). */
  private def typoFids(base: Option[Set[Int]]): Option[Set[Int]] =
    if (typo.exactFids.isEmpty) base
    else {
      val all = base.getOrElse {
        val fw = engine.fieldWeights.keySet
        if (fw.nonEmpty) fw else Set(0)
      }
      Some(all -- typo.exactFids)
    }

  /** UN-AGGREGATED (docId, slot, cost, exact, len) match rows — one row
    * per (derivation, doc) occurrence, possibly several per (doc, slot).
    * `len` is the doc's length as stored beside the posting or position
    * row, null on phrase- and prefix-derivation rows; every exact row
    * (`exact` = 1) comes from postings/ or positions/ and carries it.
    * The per-slot min-cost/max-exact reduction happens inside the ONE
    * per-doc aggregation of [[matchedInternal]] (array expressions over
    * the collected rows), so the cascade pays a single exchange instead
    * of the previous three (two (docId, slot) pre-aggregations plus the
    * separate positions aggregation joined back on docId — guide §2.4:
    * operations keyed the same way share one shuffle).
    *
    * With `fids` set (attributesToSearchOn), matches come from the
    * fid-restricted positions table instead of the field-agnostic
    * postings (reference restricted_fids routes word lookups to
    * word_fid_docids, search/new/mod.rs:115-170). With typo.exactFids
    * set, derivations costing > 0 route through the SAME fid-restricted
    * path minus the typo-disabled fids (reference db_cache.rs:183-205). */
  private[rank] def slotMatchRows(slots: Seq[Slot], fids: Option[Set[Int]]): DataFrame = {
    val derivRows = slots.flatMap(s => s.derivations.map { case (t, c) =>
      (t, s.idx, c, if (t == s.original) 1 else 0)
    })
    // under exactFids, typo-derived rows (cost > 0) resolve against the
    // reduced fid set; everything else keeps the caller's restriction
    val (typoRows, plainRows) =
      if (typo.exactFids.isEmpty) (Nil, derivRows)
      else derivRows.partition(_._3 > 0)
    // (slot, cost, exact) per derivation term ride in the decode's
    // closure; a term shared by several slots yields a row per slot
    def occurrencesOf(rows: Seq[(String, Int, Int, Int)],
                      f: Option[Set[Int]]): Option[DataFrame] =
      if (rows.isEmpty) None else Some {
        val consts = rows.groupBy(_._1).map { case (t, rs) =>
          t -> rs.map(r => (r._2, r._3, r._4)) }
        val occurrences = f match {
          case Some(_) =>
            // NO distinct: one row per position occurrence is fine —
            // the per-doc min/max aggregation dedups per slot anyway,
            // and the distinct was a whole extra exchange
            engine.positionsWith(consts, f)((d, _, len, c) => (d, c._1, c._2, c._3, len))
          case None =>
            // df=0: only term+bucket feed the pruned posting scan
            val qts = consts.keys.toSeq.map(t => graft.search.QueryTerm(t, 0L, 0.0,
              IndexBuild.bucketOf(t, engine.termBuckets)))
            engine.decodedWith(qts, consts)((d, _, len, c) => (d, c._1, c._2, c._3, len))
        }
        occurrences.toDF("docId", "slot", "cost", "exact", "len")
      }
    // phrase derivations (split words, multi-word synonyms): the slot
    // matches where the words occur adjacently; never exact. Splits
    // cost 1 (a typo-class derivation) — under exactFids they match in
    // typo-enabled fields only
    val phraseDfs = slots.flatMap(s => s.phraseDerivs.map { case (ws, cost) =>
      engine.phrase(ws, if (cost > 0) typoFids(fids) else fids)
        .select($"docId", lit(s.idx).as("slot"),
          lit(cost).as("cost"), lit(0).as("exact"), MeiliRank.NoLen)
    })
    // precomputed-prefix derivations: merged docids via one pseudo-term
    // read (cost 0, never exact — the exact form, if a dictionary word,
    // already has its own derivation above)
    val prefixDfs = slots.flatMap(s => s.prefixDerivs.map { p =>
      val docs = fids match {
        // no distinct — dedup happens in the per-doc aggregation
        case Some(_) => engine.prefixPositionRows(p, fids).select($"docId")
        case None => engine.prefixDocs(p).select($"docId")
      }
      docs.select($"docId", lit(s.idx).as("slot"),
        lit(0).as("cost"), lit(0).as("exact"), MeiliRank.NoLen)
    })
    val empty = spark.range(0)
      .select($"id".cast("int").as("docId"), lit(0).as("slot"),
        lit(0).as("cost"), lit(0).as("exact"), MeiliRank.NoLen)
    (occurrencesOf(plainRows, fids) ++ occurrencesOf(typoRows, typoFids(fids)) ++
      phraseDfs ++ prefixDfs)
      .reduceOption(_ unionByName _).getOrElse(empty)
  }

  /** (docId, slot, pos) exploded positions for all derivations (phrase
    * derivations contribute the first word's positions; precomputed
    * prefixes their merged position table). Typo-derived forms
    * (cost > 0) keep the exactFids restriction, so the rank costs never
    * see a typo match inside a typo-disabled attribute. */
  private[rank] def slotPositions(slots: Seq[Slot], fids: Option[Set[Int]]): DataFrame = {
    val derivRows = slots.flatMap(s =>
      s.derivations.map(d => (d._1, s.idx, d._2)) ++
        s.phraseDerivs.map(pd => (pd._1.head, s.idx, pd._2)))
    val (typoRows, plainRows) =
      if (typo.exactFids.isEmpty) (Nil, derivRows)
      else derivRows.partition(_._3 > 0)
    def posOf(rows: Seq[(String, Int, Int)], f: Option[Set[Int]]): Option[DataFrame] =
      if (rows.isEmpty) None else Some {
        val slotsOf = rows.groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2) }
        engine.positionsWith(slotsOf, f)((d, p, _, slot) => (d, slot, p))
          .toDF("docId", "slot", "pos")
      }
    val direct = (posOf(plainRows, fids) ++ posOf(typoRows, typoFids(fids)))
      .reduceOption(_ unionByName _)
      .getOrElse(spark.range(0).select($"id".cast("int").as("docId"),
        lit(0).as("slot"), lit(0).as("pos")))
    slots.flatMap(s => s.prefixDerivs.map(p =>
      engine.prefixPositionRows(p, fids)
        .select($"docId", lit(s.idx).as("slot"), $"pos")))
      .foldLeft(direct)(_ unionByName _)
  }

  /** The words-rule matched universe: (slots, keep-order permutation,
    * perDoc rows `docId, len, wordsRank, typoCost, exactWords` — plus
    * `sp`, the per-doc (slot, pos) array, when `withPositions`) — the
    * candidate set the cascade ranks. Slots empty / derivation-free →
    * empty perDoc.
    *
    * ONE exchange for the whole candidate computation: match rows and
    * (optionally) position rows union into a single tagged stream that
    * ONE groupBy(docId) collects; per-slot minima/maxima and the words
    * rank are array expressions over the collected rows inside
    * whole-stage codegen. The previous shape paid two (docId, slot)
    * pre-aggregations, a (docId) aggregation, a separate (docId)
    * positions aggregation and a join of the two — four exchanges over
    * rows all keyed by docId (guide §2.4). */
  private def matchedInternal(pq: ParsedQuery, lastIsPrefix: Boolean,
                              strategy: TermsMatching,
                              searchOnFids: Option[Set[Int]],
                              withPositions: Boolean)
      : (Seq[Slot], Array[Int], DataFrame) = {
    val slots = analyzeParsed(pq, lastIsPrefix)
    val n = slots.length
    if (n == 0 || slots.forall(s =>
        s.derivations.isEmpty && s.phraseDerivs.isEmpty && s.prefixDerivs.isEmpty))
      return (Nil, Array.empty,
        spark.range(0).select($"id".cast("int").as("docId"),
          lit(0).as("wordsRank"), lit(0).as("typoCost"), lit(0).as("exactWords")))

    // keep-order permutation: kpos(slot) < wordsRank ⟺ slot is kept.
    // Last: query order. Frequency: least-frequent kept longest
    // (reference removes the most document-frequent first).
    val kposArr: Array[Int] = strategy match {
      case TermsMatching.Frequency =>
        val dfs = engine.td.lookup(slots.map(_.original).distinct)
        val kp = new Array[Int](n)
        slots.sortBy(s => (dfs.getOrElse(s.original, 0L), s.idx.toLong))
          .zipWithIndex.foreach { case (s, kpos) => kp(s.idx) = kpos }
        kp
      case _ => Array.tabulate(n)(identity)
    }
    val kposMap = typedLit(kposArr.zipWithIndex.map { case (kp, slot) => slot -> kp }.toMap)

    val mRows = slotMatchRows(slots, searchOnFids)
      .withColumn("pos", lit(null).cast("int"))
    val rows0 =
      if (!withPositions) mRows
      else mRows.unionByName(
        slotPositions(slots, searchOnFids)
          .select($"docId", $"slot", lit(null).cast("int").as("cost"),
            lit(null).cast("int").as("exact"), MeiliRank.NoLen, $"pos"))
    // quoted phrases / negatives restrict the universe (docId level),
    // under the SAME field restriction as slot matching
    val (phraseDocs, negDocs) = engine.syntaxDocs(pq, searchOnFids)
    val rows1 = phraseDocs.fold(rows0)(p =>
      rows0.join(p.select($"docId"), Seq("docId"), "left_semi"))
    val rows = negDocs.fold(rows1)(nd =>
      rows1.join(nd, Seq("docId"), "left_anti"))

    // collect_list skips null entries, so the two row families split
    // back apart inside the single aggregation; `len` is the doc's own
    // on every row that carries one (max skips the nulls)
    val aggCols =
      collect_list(when($"pos".isNull,
        struct($"kpos", $"cost", $"exact"))).as("m") +:
      max($"len").as("len") +:
      (if (withPositions)
        Seq(collect_list(when($"pos".isNotNull,
          struct($"slot", $"pos"))).as("sp"))
      else Nil)
    def perKpos(i: Int, f: Column => Column): Column =
      f(filter($"m", x => x.getField("kpos") === i))
    // words rank: longest fully-matched prefix in keep order; typo /
    // exactness: per-slot min cost / max exact of the kept prefix
    val perDoc0 = rows
      .withColumn("kpos", element_at(kposMap, $"slot"))
      .groupBy($"docId").agg(aggCols.head, aggCols.tail: _*)
      .withColumn("wordsRank",
        aggregate(sequence(lit(0), lit(n - 1)), lit(0),
          (acc, i) => when(acc === i &&
            exists($"m", x => x.getField("kpos") === i), acc + 1).otherwise(acc)))
      .filter($"wordsRank" >= 1)
      .withColumn("typoCost",
        (0 until n).map(i => when(lit(i) < $"wordsRank",
          coalesce(perKpos(i, a => array_min(transform(a, _.getField("cost")))),
            lit(0))).otherwise(lit(0))).reduce(_ + _))
      .withColumn("exactWords",
        (0 until n).map(i => when(lit(i) < $"wordsRank",
          coalesce(perKpos(i, a => array_max(transform(a, _.getField("exact")))),
            lit(0))).otherwise(lit(0))).reduce(_ + _))
      .drop("m")
    val perDoc = strategy match {
      case TermsMatching.All => perDoc0.filter($"wordsRank" === n)
      case _ => perDoc0
    }
    (slots, kposArr, perDoc)
  }

  /** Matched-docs universe for a query under the full analysis surface
    * (typo/synonym/split/ngram/prefix derivations, strategy, syntax,
    * attributesToSearchOn) — what facet distributions count over
    * (reference: facets are computed on the search's candidate set). */
  def matchedDocs(q: String,
                  strategy: TermsMatching = TermsMatching.Last,
                  searchOnFids: Option[Set[Int]] = None,
                  lastIsPrefix: Boolean = false): DataFrame =
    matchedInternal(engine.parseQuery(q), lastIsPrefix, strategy, searchOnFids,
        withPositions = false)
      ._3.select($"docId")

  /** Ranked search: returns (docId, wordsRank, typoCost, proxCost,
    * fidCost, posCost, exactAttr, exactWords, rankingScore, plus doc
    * columns), ordered by the rule cascade with ascending-docId
    * tie-break.
    *
    * EAGER like the reference's search: the top-k cut materializes
    * driver-side (k is a page size — the facade caps it at
    * maxTotalHits) so document metadata can be read by docId on the
    * driver (SearchEngine.docRows) instead of joining the whole doc
    * store: the page costs one Spark job, the cascade's top-k collect,
    * and comes back as local rows in rank order, so collecting it runs
    * no further job.
    * Callers needing a deep lazy ordering without metadata should use
    * [[scoredUniverse]] (as Hybrid's keyword arm does). */
  def search(q: String, k: Int,
             filterExpr: Option[String] = None,
             sortBy: Option[(String, Boolean)] = None,
             distinct: Option[String] = None,
             lastIsPrefix: Boolean = false,
             strategy: TermsMatching = TermsMatching.Last,
             scoreThreshold: Option[Double] = None,
             searchOnFids: Option[Set[Int]] = None,
             rankingRules: Seq[String] = MeiliRank.DefaultRules,
             locales: Seq[String] = Nil,
             withScoreDetails: Boolean = false): DataFrame = {
    val (filtered, sortCols, n) = scoredUniverse(q, filterExpr, sortBy,
      lastIsPrefix, strategy, scoreThreshold, searchOnFids, rankingRules,
      locales)
    if (n == 0)
      return engine.docsRaw.limit(0)
        .select($"docId", lit(0).as("rankingScore"))
    val rankCols = Seq("docId", "wordsRank", "typoCost", "proxCost",
      "fidCost", "posCost", "exactAttr", "exactWords", "rankingScore")
    val metaCols = Seq("repo", "path", "lang")
    val detailCols = if (withScoreDetails) Seq("_rankingScoreDetails") else Nil
    val cols = (rankCols ++ metaCols ++ detailCols).map(col)
    // Doc columns a rule needs BEFORE the top-k cut: a sort rule or a
    // custom `field:asc|desc` rule ranks by a document attribute that
    // only exists after the metadata join.
    val docSortCols: Seq[String] = sortBy.map(_._1).toSeq ++
      rankingRules.collect { case MeiliRank.CustomRule(f, _) => f }
    // the doc store view the lazy shapes join
    val metaSrc = engine.docsFor(docSortCols ++ distinct)
    val universeCols = filtered.columns.toSet
    val ordered = distinct match {
      case Some(dcol) =>
        // distinct windows over a doc attribute → metadata join first
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(dcol)).orderBy(sortCols: _*)
        filtered.join(metaSrc, Seq("docId"))
          .withColumn("_rn", row_number().over(w)).where($"_rn" === 1).drop("_rn")
      case None if docSortCols.forall(universeCols.contains) &&
          k <= MeiliRank.MaxEagerTopK =>
        // Every sort key lives in the scored universe → take the top-k
        // FIRST (the cascade runs once, k is page-sized), then read
        // metadata for exactly those docids on the driver — the doc
        // store is never joined wholesale. The merge happens on the
        // driver, in rank order, so the returned local rows cost the
        // caller's collect no job.
        val top = filtered.orderBy(sortCols: _*).limit(k)
          .select((rankCols ++ detailCols).map(col): _*)
        return engine.withDocCols(top.collect(), top.schema, metaCols)
          .select(cols: _*)
      case None =>
        // k above the eager ceiling (or doc-attribute sort keys): lazy
        // join shape — no driver collect, no O(k) isin literal
        filtered.join(metaSrc, Seq("docId"))
    }
    ordered.orderBy(sortCols: _*).limit(k).select(cols: _*)
  }

  /** The scored + filtered candidate universe with every rank column
    * and rankingScore — BEFORE the meta join / distinct window / top-k.
    * Threshold-aware exhaustive counting (api.Index.totalHits) reads
    * this, so the count and the page agree on one set (the reference
    * applies the threshold during bucket iteration,
    * bucket_sort.rs:242-258). Returns (universe, sort Columns in
    * configured rule order with the docid tie-break, slot count);
    * slot count 0 = nothing matched (empty universe). */
  private[graft] def scoredUniverse(q: String,
             filterExpr: Option[String] = None,
             sortBy: Option[(String, Boolean)] = None,
             lastIsPrefix: Boolean = false,
             strategy: TermsMatching = TermsMatching.Last,
             scoreThreshold: Option[Double] = None,
             searchOnFids: Option[Set[Int]] = None,
             rankingRules: Seq[String] = MeiliRank.DefaultRules,
             locales: Seq[String] = Nil)
      : (DataFrame, Seq[Column], Int) = {
    val pq = engine.parseQuery(q, locales)
    // ---- ONE exchange for the whole cascade ----------------------------
    // Match rows AND position rows ride a single union into ONE
    // groupBy(docId) (matchedInternal): the positions table is scanned
    // once per query (bucket-pruned), and the proximity pairs + the
    // attribute rule (fid + position sub-ranks, reference Attribute →
    // Fid then Position, search/new/mod.rs:426-533) all derive from the
    // per-doc `sp` array that aggregation collects. Positions carry the
    // fid in the high 16 bits for multi-field indexes (lib.rs:201-208);
    // the per-slot minima and the adjacent-pair distance minima are
    // higher-order array expressions over the per-doc list — the same
    // |A_i|x|A_{i+1}| work a positions self-join would materialize as
    // rows, computed in-register inside whole-stage codegen with no
    // extra shuffle or join.
    val (slots, kposArr, perDoc) =
      matchedInternal(pq, lastIsPrefix, strategy, searchOnFids,
        withPositions = true)
    val n = slots.length
    if (n == 0)
      return (spark.range(0).select($"id".cast("int").as("docId")), Nil, 0)
    val fws = engine.fieldWeights
    val wMax = if (fws.isEmpty) 0 else fws.values.max
    def slotArr(i: Int): Column = filter($"sp", x => x.getField("slot") === i)
    // min pair distance per original-adjacent kept slot pair; absent
    // pair (beyond cap) costs 8; pairs with a removed endpoint 0.
    // ByWord: the asymmetric pair distance (proximity.rs:7-15) over
    // fid-encoded positions (cross-field pairs clamp to 8 via the cap).
    // ByAttribute: only "same field" (1) vs "different field" (8)
    def pairProx(i: Int): Column = {
      val d: (Column, Column) => Column = proximityPrecision match {
        case ProximityPrecision.ByAttribute => (p1, p2) =>
          when(shiftright(p1, 16) === shiftright(p2, 16), lit(1)).otherwise(lit(8))
        case ProximityPrecision.ByWord => (p1, p2) =>
          when(p2 > p1, p2 - p1).otherwise(p1 - p2 + 1)
      }
      least(array_min(flatten(transform(slotArr(i), a =>
        transform(slotArr(i + 1), b =>
          d(a.getField("pos"), b.getField("pos")))))), lit(8))
    }
    val proxSum =
      if (n < 2) lit(0)
      else (0 until n - 1).map { i =>
        when(lit(kposArr(i)) < $"wordsRank" && lit(kposArr(i + 1)) < $"wordsRank",
          coalesce(pairProx(i), lit(8))).otherwise(lit(0))
      }.reduce(_ + _)
    // position sub-rule: bucketed min RELATIVE position per kept slot
    // (pure CASE arithmetic, Tokenizer.bucketPositionCol — codegen)
    val posSum = (0 until n).map { i =>
      val minRel = array_min(transform(slotArr(i),
        x => x.getField("pos").bitwiseAND(lit(0xffff))))
      when(lit(kposArr(i)) < $"wordsRank",
        coalesce(Tokenizer.bucketPositionCol(minRel), lit(0))).otherwise(lit(0))
    }.reduce(_ + _)
    // fid sub-rule: min field weight per kept slot (fid/mod.rs:50-110)
    val fidSum =
      if (fws.isEmpty) lit(0)
      else (0 until n).map { i =>
        val minW = array_min(transform(slotArr(i), x =>
          coalesce(element_at(typedLit(fws),
            shiftright(x.getField("pos"), 16).cast("int")), lit(wMax))))
        when(lit(kposArr(i)) < $"wordsRank",
          coalesce(minW, lit(wMax))).otherwise(lit(0))
      }.reduce(_ + _)
    val withPos = perDoc
      .withColumn("proxCost", proxSum)
      .withColumn("fidCost", fidSum)
      .withColumn("posCost", posSum)
      .withColumn("firstSlotPos",
        array_min(transform(slotArr(0), _.getField("pos"))))
      .drop("sp")

    // exactness: whole-attribute exact (len == n and phrase at pos 0),
    // starts-with, other. startsWithQuery needs every slot matched in
    // its exact form, so the doc has exact rows and `len` is the length
    // they carried; it is null only where startsWithQuery is false, and
    // goes after this rule (a doc-length sort joins doclen/ instead)
    val phraseStart = withPos
      .withColumn("startsWithQuery",
        $"wordsRank" === n && $"exactWords" === n && $"firstSlotPos" === 0 &&
          $"proxCost" <= (n - 1)) // all pairs adjacent
      .withColumn("exactAttr",
        when($"startsWithQuery" && $"len" === n, 3)
          .when($"startsWithQuery", 2)
          .otherwise(1))
      .drop("len")

    // ---- rank columns -> mixed-radix global score ----------------------
    // Rule order is a SETTING (reference Criterion list,
    // criterion.rs:12-40: users reorder/remove rules and insert custom
    // `field:asc|desc` rules). Every rank column is computed regardless
    // (they're cheap projections over the same joins); the configured
    // order decides both the lexicographic sort and the mixed-radix
    // score. Custom/sort rules order results but — like the reference's
    // ScoreDetails::Sort — contribute no radix digits to rankingScore.
    // maxTypo budget includes +1 per slot: split-word and ngram
    // derivations cost 1 beyond the word's own typo budget
    val maxTypo = slots.map(s => typo.budgetFor(s.original)).sum + n
    val maxProx = 8 * math.max(n - 1, 0)
    val maxPos = 48 * n
    val maxFid = wMax * n // 0 for single-field → rule is a merge identity
    def ruleParts(name: String): (Seq[Column], Seq[(Column, Int)]) = name match {
      case "words" => (Seq($"wordsRank".desc), Seq(($"wordsRank", n)))
      case "typo" => (Seq($"typoCost".asc),
        Seq((lit(maxTypo + 1) - $"typoCost", maxTypo + 1)))
      case "proximity" => (Seq($"proxCost".asc),
        Seq((lit(maxProx + 1) - $"proxCost", maxProx + 1)))
      case "attribute" => (Seq($"fidCost".asc, $"posCost".asc),
        Seq((lit(maxFid + 1) - least($"fidCost", lit(maxFid)), maxFid + 1),
          (lit(maxPos + 1) - least($"posCost", lit(maxPos)), maxPos + 1)))
      case "sort" => (sortBy.toSeq.map { case (c, asc) =>
        if (asc) col(c).asc_nulls_last else col(c).desc_nulls_last }, Nil)
      case "exactness" => (Seq($"exactAttr".desc, $"exactWords".desc),
        Seq(($"exactAttr", 3), ($"exactWords" + 1, n + 1)))
      case MeiliRank.CustomRule(f, dir) =>
        (Seq(if (dir == "asc") col(f).asc_nulls_last else col(f).desc_nulls_last), Nil)
      case other => throw new IllegalArgumentException(
        s"unknown ranking rule '$other' (words|typo|proximity|attribute|sort|exactness|<field>:asc|<field>:desc)")
    }
    val parts = rankingRules.map(ruleParts)
    val rules: Seq[(Column, Int)] = parts.flatMap(_._2)
    val (mergedRank, mergedMax) = rules.foldLeft((lit(1L): Column, 1L)) {
      case ((accR, accM), (r, m)) =>
        ((accR - 1L) * m + r.cast("long"), accM * m)
    }

    // ---- per-rule score details (reference showRankingScoreDetails,
    // score_details.rs:145-302): one struct per radix-contributing rule
    // in configured order, carrying the reference's public fields PLUS
    // the (rank, maxRank) pairs of every sub-rule — a superset, so the
    // global mixed-radix score is recomputable from the details alone
    // (the reference's proximity/attribute details expose only the
    // local score; rank/maxRank are the same numbers un-divided).
    // Sort/custom rules order results but carry no digits, exactly like
    // ScoreDetails::Sort passing through un-merged.
    val detailStructs: Seq[Column] = {
      var order = -1
      rankingRules.zip(parts.map(_._2)).flatMap { case (name, rs) =>
        if (rs.isEmpty) None
        else {
          order += 1
          val o = lit(order).as("order")
          Some(name match {
            case "words" => struct(o,
              $"wordsRank".as("matchingWords"),
              lit(n).as("maxMatchingWords"),
              ($"wordsRank" / lit(n.toDouble)).as("score")).as("words")
            case "typo" => struct(o,
              $"typoCost".as("typoCount"),
              lit(maxTypo).as("maxTypoCount"),
              ((lit(maxTypo + 1) - $"typoCost") / lit((maxTypo + 1).toDouble))
                .as("score")).as("typo")
            case "proximity" => struct(o,
              (lit(maxProx + 1) - $"proxCost").as("rank"),
              lit(maxProx + 1).as("maxRank"),
              ((lit(maxProx + 1) - $"proxCost") / lit((maxProx + 1).toDouble))
                .as("score")).as("proximity")
            case "attribute" =>
              val fidRank = lit(maxFid + 1) - least($"fidCost", lit(maxFid))
              val posRank = lit(maxPos + 1) - least($"posCost", lit(maxPos))
              struct(o,
                fidRank.as("fidRank"), lit(maxFid + 1).as("fidMaxRank"),
                posRank.as("posRank"), lit(maxPos + 1).as("posMaxRank"),
                (((fidRank - 1) * (maxPos + 1) + posRank) /
                  lit(((maxFid + 1).toLong * (maxPos + 1)).toDouble))
                  .as("score")).as("attribute")
            case "exactness" => struct(o,
              $"exactAttr".as("exactAttrRank"), lit(3).as("exactAttrMaxRank"),
              $"exactWords".as("matchedWords"), lit(n).as("maxMatchedWords"),
              ((($"exactAttr" - 1) * (n + 1) + $"exactWords" + 1) /
                lit((3L * (n + 1)).toDouble)).as("score")).as("exactness")
            case other => throw new IllegalStateException(
              s"rule '$other' contributes radix digits but has no detail shape")
          })
        }
      }
    }
    val scored0 = phraseStart
      .withColumn("rankingScore", mergedRank.cast("double") / lit(mergedMax.toDouble))
      .withColumn("_rankingScoreDetails", struct(detailStructs: _*))
    // rankingScoreThreshold (reference bucket_sort.rs:242-258)
    val scored = scoreThreshold.fold(scored0)(t =>
      scored0.filter($"rankingScore" >= t))

    // request filter restricts the universe
    val filtered = filterExpr.fold(scored)(f =>
      scored.join(engine.filteredDocs(f).select($"docId"), Seq("docId"), "left_semi"))
    // lexicographic sort in configured rule order (default: user sort —
    // the "sort" rule — slots between attribute and exactness,
    // criterion.rs), docid-asc tie-break last
    (filtered, parts.flatMap(_._1) :+ $"docId".asc, n)
  }
}

object MeiliRank {
  /** The `len` of a match row that carries no doc length (phrase and
    * precomputed-prefix derivations, position rows). */
  private val NoLen: Column = lit(null).cast("int").as("len")

  /** Default rule order (reference criterion.rs:12-40 / default_criteria). */
  val DefaultRules: Seq[String] =
    Seq("words", "typo", "proximity", "attribute", "sort", "exactness")

  /** Ceiling on [[MeiliRank.search]]'s EAGER top-k materialization
    * (driver collect + docId IN-literal pruned lookup): k is a page
    * size by contract (the api facade caps it at maxTotalHits = 1000),
    * and a direct library caller passing a huge k must not pull that
    * many rows into driver memory — above the ceiling the
    * materialization falls back to the lazy metadata join. */
  final val MaxEagerTopK: Int = 10000

  /** `field:asc` / `field:desc` custom ranking rule (criterion.rs
    * Criterion::Asc/Desc). */
  private[rank] val CustomRule = "([A-Za-z_][A-Za-z0-9_]*):(asc|desc)".r

  /** Pure mixed-radix rank merge (score_details.rs:408-429): global
    * score from ordered (rank, maxRank) pairs. */
  def mergeRanks(ranks: Seq[(Long, Long)]): Double = {
    val (r, m) = ranks.foldLeft((1L, 1L)) { case ((ar, am), (rk, mx)) =>
      ((ar - 1) * mx + rk, am * mx)
    }
    r.toDouble / m.toDouble
  }
}
