package graft.query

import graft.functions.Tokenizer

/** Parsed search query string (reference
  * crates/milli/src/search/new/query_term/parse_query.rs:25-192:
  * located_query_terms_from_tokens — quoted segments become phrases,
  * `-`-prefixed words/quotes become negative terms removed from the
  * universe, search/new/mod.rs:268-295).
  *
  * @param words      positive bag-of-words terms (normalized)
  * @param phrases    quoted positive phrases (each ≥1 normalized terms)
  * @param negWords   `-word` terms
  * @param negPhrases `-"…"` phrases
  */
final case class ParsedQuery(posTokens: Seq[PosToken],
                             negWords: Seq[String], negPhrases: Seq[Seq[String]]) {
  def words: Seq[String] = posTokens.filter(!_.phrase).flatMap(_.terms)
  def phrases: Seq[Seq[String]] = posTokens.filter(_.phrase).map(_.terms)
  /** All positive terms in query order (bag words + phrase words) —
    * what ranking sees; phrase membership additionally restricts the
    * universe and disables typo tolerance on those slots. */
  def positiveTerms: Seq[String] = posTokens.flatMap(_.terms)
  def isPlain: Boolean = phrases.isEmpty && negWords.isEmpty && negPhrases.isEmpty
}

/** One positive query token in order: a bag word run or a quoted phrase. */
final case class PosToken(terms: Seq[String], phrase: Boolean)

object QueryParser {
  /** Scan for quote/minus syntax by code point; each segment is
    * tokenized with the engine tokenizer, so `-parseBuffer` negates
    * both subtokens and `"readBuffer flush"` is the 3-term phrase
    * read|buffer|flush. An unterminated quote runs to the end of the
    * string (reference
    * behavior). A single-word quoted segment is an exact bag word —
    * kept as a 1-term phrase here so it still bypasses typo expansion.
    * `tok` = the INDEX's tokenizer settings (SearchEngine.parseQuery
    * supplies them): query segmentation must match index segmentation. */
  def parse(q: String,
            tok: Tokenizer.TokSettings = Tokenizer.TokSettings.Default): ParsedQuery = {
    val pos = Vector.newBuilder[PosToken]
    val negWords = Vector.newBuilder[String]
    val negPhrases = Vector.newBuilder[Seq[String]]
    var i = 0
    val n = q.length
    var neg = false
    while (i < n) {
      val c = q.codePointAt(i)
      if (c == '-' && !Tokenizer.isWordChar('-', tok) &&
          (i == 0 || !Tokenizer.isWordChar(q.codePointBefore(i), tok))) {
        neg = true; i += 1
      } else if (c == '"') {
        val end0 = q.indexOf('"', i + 1)
        val end = if (end0 < 0) n else end0
        val ts = Tokenizer.terms(q.substring(i + 1, end), tok)
        if (ts.nonEmpty) { if (neg) negPhrases += ts else pos += PosToken(ts, phrase = true) }
        neg = false
        i = end + 1
      } else if (Tokenizer.isWordChar(c, tok)) {
        val start = i
        while (i < n && Tokenizer.isWordChar(q.codePointAt(i), tok))
          i += Character.charCount(q.codePointAt(i))
        val ts = Tokenizer.terms(q.substring(start, i), tok)
        if (ts.nonEmpty) {
          if (neg) negWords ++= ts else pos += PosToken(ts, phrase = false)
        }
        neg = false
      } else {
        neg = false
        i += Character.charCount(c)
      }
    }
    ParsedQuery(pos.result(), negWords.result(), negPhrases.result())
  }
}
