package graft.search

import graft.functions.Tokenizer

/** Highlight / crop / match-position formatting over the k result rows
  * (reference MatcherBuilder/Matcher: re-tokenize the stored field,
  * match against MatchingWords, emit <em> tags, crop a window around the
  * best match interval — search/new/matches/mod.rs:24-120,226,396 and
  * best_match_interval.rs). Driver-side by design: k <= maxTotalHits
  * (1000), no cluster work needed (SURVEY §2.8 X6).
  */
object Highlighter {

  final case class MatchPosition(term: String, pos: Int, start: Int, end: Int)

  /** Char spans of the query's matches in `text`, from ONE tokenize
    * pass: first every token equal to a term or starting with a prefix
    * term (the last-word-as-prefix search mode), then, phrase by
    * phrase, each site where the phrase occurs as CONSECUTIVE tokens
    * (positions strictly +1 — the reference matcher highlights a quoted
    * phrase only where it actually matches as a phrase,
    * matches/mod.rs MatchingWords phrase arm; a lone member word
    * elsewhere is NOT a match), one span per occurrence, first-token
    * start to last-token end. */
  def matches(text: String, terms: Set[String],
              prefixTerms: Set[String] = Set.empty,
              phrases: Seq[Seq[String]] = Nil,
              tok: Tokenizer.TokSettings = Tokenizer.TokSettings.Default)
      : Seq[MatchPosition] = {
    val toks = Tokenizer.tokenize(text, tok)
    val words = toks.collect {
      case t if terms.contains(t.term) ||
        prefixTerms.exists(p => t.term.startsWith(p)) =>
        MatchPosition(t.term, t.pos, t.start, t.end)
    }
    words ++ phrases.filter(_.nonEmpty).flatMap { phrase =>
      (0 to toks.size - phrase.size).collect {
        case i if phrase.indices.forall(j =>
          toks(i + j).term == phrase(j) && toks(i + j).pos == toks(i).pos + j) =>
          MatchPosition(phrase.mkString(" "), toks(i).pos,
            toks(i).start, toks(i + phrase.size - 1).end)
      }
    }
  }

  /** Wrap every matched token with pre/post tags (`_formatted` field);
    * `phrases` are matched at adjacency sites only. */
  def highlight(text: String, terms: Set[String],
                pre: String = "<em>", post: String = "</em>",
                prefixTerms: Set[String] = Set.empty,
                phrases: Seq[Seq[String]] = Nil,
                tok: Tokenizer.TokSettings = Tokenizer.TokSettings.Default): String = {
    val ms = matches(text, terms, prefixTerms, phrases, tok)
    if (ms.isEmpty) return text
    val sb = new java.lang.StringBuilder(text.length + ms.size * (pre.length + post.length))
    var cur = 0
    // merge adjacent/overlapping spans (camelCase subtokens of one word)
    val merged = ms.sortBy(_.start).foldLeft(List.empty[(Int, Int)]) {
      case ((s, e) :: rest, m) if m.start <= e => (s, math.max(e, m.end)) :: rest
      case (acc, m) => (m.start, m.end) :: acc
    }.reverse
    merged.foreach { case (s, e) =>
      sb.append(text, cur, s).append(pre).append(text, s, e).append(post)
      cur = e
    }
    sb.append(text, cur, text.length)
    sb.toString
  }

  /** Crop to ~cropLength words around the best (densest, then earliest)
    * match window; `marker` marks elided edges. */
  def crop(text: String, terms: Set[String], cropLength: Int = 10,
           marker: String = "…",
           tok: Tokenizer.TokSettings = Tokenizer.TokSettings.Default): String = {
    val toks = Tokenizer.tokenize(text, tok)
    if (toks.isEmpty) return text
    val matched = toks.indices.filter(i => terms.contains(toks(i).term))
    if (matched.isEmpty)
      return text.substring(0, toks(math.min(cropLength, toks.size) - 1).end) +
        (if (toks.size > cropLength) marker else "")
    // best window of cropLength tokens: max #matches, tie -> earliest
    val best = (0 to math.max(0, toks.size - cropLength)).maxBy { w =>
      val hits = matched.count(i => i >= w && i < w + cropLength)
      (hits, -w)
    }
    val endIdx = math.min(toks.size, best + cropLength) - 1
    val (s, e) = (toks(best).start, toks(endIdx).end)
    (if (best > 0) marker else "") + text.substring(s, e) +
      (if (endIdx < toks.size - 1) marker else "")
  }
}
