package graft.functions.frozen

// A frozen copy of the tokenizer as it stood before the one-scan
// rewrite, kept as the oracle of TokenizerPropertySpec. It differs from
// that version by exactly two fixes, both marked FIX below: the word
// test reads code points (supplementary-plane letters, digits and marks
// are word chars), and normalize lowercases after NFKD as well. Do not
// edit it to follow the live tokenizer.

import java.text.Normalizer
import scala.collection.mutable.ArrayBuffer

/** A single token produced by [[Tokenizer]].
  *
  * @param term normalized word (lowercase, NFKD, marks stripped), ≤250 bytes
  * @param pos  absolute word position within the field (see position rules)
  */
final case class Token(term: String, pos: Int)

/** Token with char offsets into the ORIGINAL text (for highlighting:
  * reference MatcherBuilder re-tokenizes the stored field to find match
  * byte ranges, search/new/matches/mod.rs:24-120). */
final case class OffsetToken(term: String, pos: Int, start: Int, end: Int)

/** Unicode-ish word tokenizer for source code and prose, modeled on the
  * behavior of the reference engine's charabia tokenizer
  * (reference: crates/milli/src/update/new/extract/searchable/tokenize_document.rs:26-160
  * and crates/milli/src/lib.rs:201-225) but specified independently here:
  *
  *  - words are maximal runs of letters/digits/`_` (Unicode-aware);
  *  - camelCase / PascalCase / snake_case / digit boundaries split words
  *    into subtokens (`parseHTTPBuffer` -> `parse`, `http`, `buffer`;
  *    `foo_bar2` -> `foo`, `bar`, `2`);
  *  - normalization = lowercase + NFKD + strip nonspacing marks;
  *  - positions: +1 per emitted token; crossing a HARD separator
  *    (anything containing `.`, `;`, `,`, `!`, `?`, newline, `(`, `)`,
  *    `{`, `}`, `[`, `]`) advances the position counter by
  *    [[Tokenizer.HardSeparatorGap]] instead of 1 (reference
  *    tokenize_document.rs:17 MAX_DISTANCE=8);
  *  - words longer than [[Tokenizer.MaxWordLength]] bytes are dropped
  *    (reference lib.rs:127 MAX_WORD_LENGTH=250).
  *
  * Pure function: used both index-side (flatMap over the corpus Dataset)
  * and query-side, so both ends agree by construction.
  */
object Tokenizer extends Serializable {
  /** Version of [[normalize]]'s character-folding rules, part of every
    * index's format stamp (graft.index.Lineage.FormatStamp) and checked
    * at engine load: an index built under DIFFERENT folds stores terms
    * the query side can no longer produce (e.g. unfolded ة vs folded ه)
    * and would silently return zero hits for affected words. Bump this
    * whenever normalize()'s folds change. Version history: 2 = the
    * current rules (Arabic/Hebrew folding + SEA-mark preservation). */
  final val NormalizerVersion = 2

  final val MaxWordLength = 250
  final val HardSeparatorGap = 8
  /** Positions past this are bucketed (reference lib.rs:213-225). */
  final val PositionBucketStart = 16

  private final val HardSeps = ".;,!?(){}[]\n".toSet

  /** Tokenizer settings surface (reference index settings
    * separatorTokens / nonSeparatorTokens / dictionary,
    * update/new/extract/searchable/tokenize_document.rs:163-180 and
    * charabia's segmenter options) — the documented single-character
    * subset of charabia's string-token variants:
    *
    * @param separatorTokens chars DEMOTED to (soft) separators even
    *   though the default tokenizer treats them as word characters
    *   (e.g. '_' to split snake_case at the separator level)
    * @param nonSeparatorTokens chars PROMOTED to word characters even
    *   though they separate by default (e.g. '-' so "foo-bar" is one
    *   word, '+' so "c++" survives)
    * @param dictionary raw words exempt from subtoken splitting
    *   (matched case-insensitively against the raw word): "ActionScript"
    *   stays one token instead of action|script
    * @param separatorStrings multi-char separator SEQUENCES (charabia's
    *   string-token separators, e.g. "||", "-->"): the whole sequence is
    *   one separator — it splits a word-char run it appears inside, and
    *   it is hard iff it contains a hard-separator char (so "\n\n" stays
    *   hard). Multi-char NON-separators are not modeled (they would make
    *   word identity position-dependent); single-char promotion covers
    *   the reference's documented examples.
    * @param localesByFid per-field locale hints (reference
    *   localizedAttributes rules): fid → ISO code. A CJK locale ("cmn",
    *   "zho", "zh", "jpn", "ja", "kor", "ko") forces Han/kana unigram
    *   splitting ON for that field; any other locale forces it OFF
    *   (runs stay whole words — the "this field is transliterated
    *   Latin" escape hatch); absent = autodetect per codepoint (the
    *   default behavior). Queries segment with the index-level default
    *   (auto), like the reference without a `locales` search param.
    *
    * An index persists its settings (IndexConfig.tokenizer); the query
    * side loads them from the index, so both ends agree by
    * construction (same contract as stop words). */
  final case class TokSettings(
      separatorTokens: Set[Char] = Set.empty,
      nonSeparatorTokens: Set[Char] = Set.empty,
      dictionary: Set[String] = Set.empty,
      separatorStrings: Set[String] = Set.empty,
      localesByFid: Map[Int, String] = Map.empty,
      cjkUnigrams: Option[Boolean] = None) {
    // an empty separator sequence would match at every offset without
    // consuming input — the tokenizer loop could never advance
    require(separatorStrings.forall(_.nonEmpty),
      "separatorStrings must not contain the empty string")
    val isDefault: Boolean =
      separatorTokens.isEmpty && nonSeparatorTokens.isEmpty &&
        dictionary.isEmpty && separatorStrings.isEmpty &&
        localesByFid.isEmpty && cjkUnigrams.isEmpty
    private[Tokenizer] val dictLower: Set[String] =
      dictionary.map(_.toLowerCase(java.util.Locale.ROOT))
    def inDictionary(raw: String): Boolean =
      dictionary.nonEmpty &&
        dictLower.contains(raw.toLowerCase(java.util.Locale.ROOT))
    /** Dictionary entries that start with an unspaced-script codepoint
      * (Thai/Lao/Khmer/Myanmar/CJK), grouped by that first codepoint
      * with longest entries first — the segmentation dictionary for
      * scripts written without word separators (the reference feeds the
      * same `dictionary` setting to charabia's `words_dict` segmenter,
      * tokenize_document.rs:166-173). Resolved once per settings
      * instance; empty for a Latin-only dictionary, in which case
      * tokenization is byte-identical to the dictionary-less path. */
    @transient private[Tokenizer] lazy val segByFirst: Map[Int, Array[String]] =
      dictionary.iterator
        .filter(w => w.nonEmpty && isUnspaced(w.codePointAt(0)))
        .toArray.groupBy(_.codePointAt(0))
        .map { case (cp, ws) => cp -> ws.sortBy(w => (-w.length, w)) }
    private[Tokenizer] def hasSegDict: Boolean = segByFirst.nonEmpty
    /** Longest dictionary entry matching `text` at offset `i`, or null.
      * Greedy longest-match-at-position: deterministic, and the
      * documented subset of charabia's leftmost-longest automaton. */
    private[Tokenizer] def segMatchAt(text: String, i: Int): String = {
      val cands = segByFirst.getOrElse(text.codePointAt(i), null)
      if (cands == null) return null
      var k = 0
      while (k < cands.length) {
        if (text.startsWith(cands(k), i)) return cands(k)
        k += 1
      }
      null
    }
    // multi-char separators sorted longest-first so overlapping entries
    // ("--", "-->") match greedily, like a tokenizer should
    private[Tokenizer] val sepStringsOrdered: Array[String] =
      separatorStrings.toArray.sortBy(-_.length)
    // resolved once per settings instance, NOT per call: forFid sits in
    // the build's hottest loop (per field per document) and a fresh
    // copy() would recompute dictLower/sepStringsOrdered every time
    @transient private lazy val forFidCache: Map[Int, TokSettings] =
      localesByFid.map { case (f, loc) =>
        f -> copy(cjkUnigrams = Some(TokSettings.isCjkLocale(loc)))
      }
    /** The settings a specific field tokenizes under: its locale hint
      * resolves the CJK unigram mode (None = autodetect). */
    def forFid(fid: Int): TokSettings =
      if (localesByFid.isEmpty) this else forFidCache.getOrElse(fid, this)
  }
  object TokSettings {
    val Default: TokSettings = TokSettings()
    private val CjkLocales =
      Set("cmn", "zho", "zh", "jpn", "ja", "kor", "ko")
    def isCjkLocale(code: String): Boolean =
      CjkLocales.contains(code.toLowerCase(java.util.Locale.ROOT))
  }

  /** Length of the multi-char separator starting at `text(i)`, or -1.
    * Shared with QueryParser so query segmentation matches the index. */
  def sepStringLenAt(text: String, i: Int, s: TokSettings): Int = {
    if (s.separatorStrings.isEmpty) return -1
    val arr = s.sepStringsOrdered
    var k = 0
    while (k < arr.length) {
      if (text.startsWith(arr(k), i)) return arr(k).length
      k += 1
    }
    -1
  }

  // FIX: a code point, not a UTF-16 char
  @inline private def isWordChar(c: Int): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || (c >= 0x300 && {
      // UAX#29 `Extend`: combining marks join the word they follow —
      // required for Thai/Lao/Khmer (vowel/tone marks are Mn/Mc, e.g.
      // U+0E31 in สวัสดี) and for decomposed Latin diacritics; the
      // ASCII hot path skips with the range compare. normalize()
      // strips Latin/Arabic/Hebrew marks later (SEA marks are kept —
      // they are phonemic), so Latin terms are unchanged — this only
      // stops word runs from breaking AT a mark.
      val t = Character.getType(c)
      t == Character.NON_SPACING_MARK ||
        t == Character.COMBINING_SPACING_MARK ||
        t == Character.ENCLOSING_MARK
    })

  /** The settings-aware word-character predicate (shared with
    * QueryParser so query segmentation matches the index). */
  @inline def isWordChar(c: Int, s: TokSettings): Boolean =
    if (c <= Char.MaxValue && s.separatorTokens.contains(c.toChar)) false
    else isWordChar(c) || (c <= Char.MaxValue && s.nonSeparatorTokens.contains(c.toChar))

  /** Normalize one word: lowercase, NFKD, strip combining marks, then
    * script-specific single-char folds (the charabia normalizer subset
    * the reference applies, tokenize_document.rs:163-180 via the
    * charabia crate's arabic/hebrew normalizers):
    *
    *  - Arabic: NFKD already folds the hamza-carrying letters (أ إ آ ؤ
    *    ئ decompose to base letter + a combining hamza, stripped as a
    *    NON_SPACING_MARK) and removes harakat; the folds below cover
    *    the non-decomposing letters — alef wasla ٱ → ا, teh marbuta
    *    ة → ه, alef maksura ى → ي — and strip tatweel (ـ, the
    *    elongation filler).
    *  - Hebrew: final-form letters fold to their base forms (ך ם ן ף ץ
    *    → כ מ נ פ צ); niqqud are combining marks, already stripped.
    *
    * Unconditional (like lowercase/NFKD): both the index and the query
    * pass through this one function, so both ends agree by construction
    * WITHIN one engine version. ACROSS versions the index's format
    * stamp pins [[NormalizerVersion]]: an index whose stored terms were
    * folded by an older normalizer would silently return zero hits for
    * affected words, so the engine fails fast at load instead. */
  def normalize(s: String): String = {
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    val nfkd = Normalizer.normalize(lower, Normalizer.Form.NFKD)
      .toLowerCase(java.util.Locale.ROOT) // FIX
    val sb = new java.lang.StringBuilder(nfkd.length)
    var i = 0
    while (i < nfkd.length) {
      val c = nfkd.charAt(i)
      if (c == 'ـ') () // Arabic tatweel: pure elongation, dropped
      else if (Character.getType(c) != Character.NON_SPACING_MARK ||
        // Thai/Lao/Myanmar/Khmer vowel and tone marks are PHONEMIC,
        // not optional diacritics — stripping them would merge
        // distinct words (สี/ส). Latin accents, Arabic harakat and
        // Hebrew niqqud stay stripped (charabia does the same: its
        // SEA normalizers keep marks, its arabic/hebrew ones drop
        // them).
        (c >= '\u0E00' && (c <= '\u0EFF' ||
          (c >= '\u1000' && c <= '\u109F') ||
          (c >= '\u1780' && c <= '\u17FF'))))
        sb.append(foldChar(c))
      i += 1
    }
    sb.toString
  }

  /** Post-NFKD single-char folds (Arabic + Hebrew; identity fast path
    * for everything below the Hebrew block — the entire hot path for
    * code corpora). */
  @inline private def foldChar(c: Char): Char =
    if (c < '֐') c
    else (c: @annotation.switch) match {
      case 'ٱ' => 'ا' // ٱ alef wasla      -> ا alef
      case 'ة' => 'ه' // ة teh marbuta     -> ه heh
      case 'ى' => 'ي' // ى alef maksura    -> ي yeh
      case 'ך' => 'כ' // ך final kaf       -> כ kaf
      case 'ם' => 'מ' // ם final mem       -> מ mem
      case 'ן' => 'נ' // ן final nun       -> נ nun
      case 'ף' => 'פ' // ף final pe        -> פ pe
      case 'ץ' => 'צ' // ץ final tsadi     -> צ tsadi
      case other => other
    }

  /** Han / Hiragana / Katakana codepoint — scripts written without word
    * separators. Fast path: every Han/kana codepoint is ≥ U+2E80 (CJK
    * Radicals Supplement), so ASCII/Latin words — the entire hot
    * indexing path for code corpora — skip the UnicodeScript binary
    * search with one integer compare. */
  @inline private def isCjk(cp: Int): Boolean =
    cp >= 0x2E80 && {
      val s = Character.UnicodeScript.of(cp)
      (s eq Character.UnicodeScript.HAN) ||
        (s eq Character.UnicodeScript.HIRAGANA) ||
        (s eq Character.UnicodeScript.KATAKANA)
    }

  /** Codepoint of a script written without word separators: the
    * Southeast-Asian blocks — Thai U+0E00-0E7F, Lao U+0E80-0EFF,
    * Myanmar U+1000-109F, Khmer U+1780-17FF — plus Han/kana. These are
    * the scripts the reference segments with charabia's
    * dictionary-backed segmenters; runs of them are eligible for
    * user-dictionary longest-match segmentation here. Fast path: every
    * such codepoint is ≥ U+0E00, so ASCII/Latin skips with one
    * compare. */
  @inline private[Tokenizer] def isUnspaced(cp: Int): Boolean =
    cp >= 0x0E00 && (
      cp <= 0x0EFF ||                      // Thai + Lao
        (cp >= 0x1000 && cp <= 0x109F) ||  // Myanmar
        (cp >= 0x1780 && cp <= 0x17FF) ||  // Khmer
        isCjk(cp))

  /** Split a raw word into subtokens on case/underscore/digit boundaries;
    * CJK (Han/kana) runs additionally split into one subtoken per
    * codepoint. `parseHTTPBuffer` -> parse|HTTP|Buffer, `a_b` -> a|b,
    * `v2x` -> v|2|x, `abc北京def` -> abc|北|京|def.
    *
    * Unigram CJK indexing (the Lucene CJKAnalyzer model, reduced to
    * unigrams): the reference segments CJK via charabia's
    * dictionary-backed segmenters; without dictionaries, per-codepoint
    * tokens + the position machinery give equivalent RETRIEVAL
    * semantics — a multi-char query becomes adjacent slots, so phrase
    * matching and the proximity rule recover word-level matching. */
  def subtokens(word: String): Seq[String] = subtokens(word, cjkSplit = true)

  /** `cjkSplit = false` keeps Han/kana runs whole (a field's locale hint
    * said "not CJK"); boundary splitting still applies. */
  def subtokens(word: String, cjkSplit: Boolean): Seq[String] = {
    if (!cjkSplit) return subtokensSeparated(word)
    var i = 0
    var hasCjk = false
    while (i < word.length && !hasCjk) {
      val cp = word.codePointAt(i)
      if (isCjk(cp)) hasCjk = true
      i += Character.charCount(cp)
    }
    if (!hasCjk) return subtokensSeparated(word)
    // mixed or pure CJK: each CJK codepoint is its own subtoken; the
    // non-CJK segments between them go through the boundary splitter
    val out = new ArrayBuffer[String](word.length)
    val seg = new java.lang.StringBuilder
    i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val w = Character.charCount(cp)
      if (isCjk(cp)) {
        if (seg.length > 0) { out ++= subtokensSeparated(seg.toString); seg.setLength(0) }
        out += word.substring(i, i + w)
      } else seg.append(word, i, i + w)
      i += w
    }
    if (seg.length > 0) out ++= subtokensSeparated(seg.toString)
    out.toSeq
  }

  /** The case/underscore/digit boundary splitter (non-CJK words). */
  private def subtokensSeparated(word: String): Seq[String] = {
    if (word.isEmpty) return Nil
    val out = new ArrayBuffer[String](4)
    val n = word.length
    var start = 0
    var i = 1
    @inline def kind(c: Char): Int =
      if (c == '_') 0
      else if (Character.isDigit(c)) 1
      else if (Character.isUpperCase(c)) 2
      else 3 // lower / other letter
    while (i < n) {
      val pk = kind(word.charAt(i - 1))
      val ck = kind(word.charAt(i))
      val boundary =
        if (ck == 0 || pk == 0) true                 // underscore always splits
        else if (pk != ck) {
          // upper->lower inside an acronym run: split before the last upper
          if (pk == 2 && ck == 3 && i - 1 > start) { out += word.substring(start, i - 1); start = i - 1; false }
          else pk != 2 || ck != 3                    // lower->upper, digit edges split; Upper->lower (single) doesn't
        } else false
      if (boundary) {
        if (i > start && word.charAt(start) != '_') out += word.substring(start, i)
        start = i
        if (word.charAt(i) == '_') start = i + 1
      }
      i += 1
    }
    if (start < n && word.charAt(start) != '_') out += word.substring(start, n)
    out.filter(_.nonEmpty).toSeq
  }

  /** Bucket a raw position: identity below 16, then exponential-ish
    * coarsening (independent spec mirroring reference lib.rs:213-225). */
  def bucketPosition(pos: Int): Int =
    if (pos < PositionBucketStart) pos
    else if (pos < 24) 16 + (pos - 16) / 2
    else if (pos < 64) 20 + (pos - 24) / 8
    else if (pos < 256) 25 + (pos - 64) / 32
    else if (pos < 1024) 31 + (pos - 256) / 128
    else math.min(47, 37 + (pos - 1024) / 1024)

  /** Tokenize one field. Returns tokens with absolute positions. */
  def tokenize(text: String): Seq[Token] = tokenize(text, TokSettings.Default)

  def tokenize(text: String, s: TokSettings): Seq[Token] =
    tokenizeWithOffsets(text, s).map(t => Token(t.term, t.pos))

  /** Tokenize keeping char offsets of each subtoken in the original
    * text (highlighting needs them; position semantics identical to
    * [[tokenize]]). */
  def tokenizeWithOffsets(text: String): Seq[OffsetToken] =
    tokenizeWithOffsets(text, TokSettings.Default)

  def tokenizeWithOffsets(text: String, s: TokSettings): Seq[OffsetToken] = {
    if (text == null || text.isEmpty) return Nil
    val cjkSplit = s.cjkUnigrams.getOrElse(true)
    val hasSepStrings = s.separatorStrings.nonEmpty
    val out = new ArrayBuffer[OffsetToken](math.min(64, text.length / 4 + 1))
    var pos = -1          // next token gets pos+inc
    var pendingHard = false
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.codePointAt(i) // FIX
      // a multi-char separator outranks the char classes: it both ends
      // a word-char run and is consumed whole (hard iff it contains a
      // hard-separator char)
      val sepLen = if (hasSepStrings) sepStringLenAt(text, i, s) else -1
      if (sepLen > 0) {
        var k = 0
        while (k < sepLen) {
          if (HardSeps.contains(text.charAt(i + k))) pendingHard = true
          k += 1
        }
        i += sepLen
      } else if (isWordChar(c, s)) {
        val start = i
        while (i < n && isWordChar(text.codePointAt(i), s) &&
          (!hasSepStrings || sepStringLenAt(text, i, s) < 0))
          i += Character.charCount(text.codePointAt(i)) // FIX
        val raw = text.substring(start, i)
        val subs =
          if (s.inDictionary(raw)) Seq((raw, 0))
          else subtokensWithOffsets(raw, cjkSplit, s)
        var j = 0
        while (j < subs.length) {
          val (sub, off) = subs(j)
          val norm = normalize(sub)
          if (norm.nonEmpty && norm.getBytes("UTF-8").length <= MaxWordLength) {
            val inc = if (pendingHard) HardSeparatorGap else 1
            pos = if (pos < 0) 0 else pos + inc
            pendingHard = false
            out += OffsetToken(norm, pos, start + off, start + off + sub.length)
          }
          j += 1
        }
      } else {
        if (HardSeps.contains(text.charAt(i))) pendingHard = true
        i += Character.charCount(c) // FIX
      }
    }
    out.toSeq
  }

  /** Settings-aware [[subtokens]]: identical to the two-arg form unless
    * the dictionary carries unspaced-script entries (see
    * [[TokSettings.segByFirst]]), in which case Thai/Lao/Khmer/Myanmar/
    * CJK runs segment by longest dictionary match — the reference's
    * `dictionary` index setting fed to charabia's `words_dict`
    * segmenter (tokenize_document.rs:166-173). Unmatched stretches
    * between matches fall back to one token per CJK codepoint (when
    * `cjkSplit`) or one token per contiguous unknown run. */
  def subtokens(word: String, cjkSplit: Boolean, s: TokSettings): Seq[String] =
    if (!s.hasSegDict) subtokens(word, cjkSplit)
    else subtokensWithOffsets(word, cjkSplit, s).map(_._1)

  /** [[subtokens]] plus each subtoken's offset within the word. */
  def subtokensWithOffsets(word: String): Seq[(String, Int)] =
    subtokensWithOffsets(word, cjkSplit = true)

  /** Settings-aware offset variant; see the three-arg [[subtokens]]. */
  def subtokensWithOffsets(word: String, cjkSplit: Boolean,
                           s: TokSettings): Seq[(String, Int)] = {
    if (!s.hasSegDict) return subtokensWithOffsets(word, cjkSplit)
    var i = 0
    var hasUnspaced = false
    while (i < word.length && !hasUnspaced) {
      val cp = word.codePointAt(i)
      if (isUnspaced(cp)) hasUnspaced = true
      i += Character.charCount(cp)
    }
    if (!hasUnspaced) return subtokensWithOffsets(word, cjkSplit)
    val out = new ArrayBuffer[(String, Int)](8)
    val seg = new java.lang.StringBuilder   // pending spaced-script run
    var segStart = 0
    var unkStart = -1                       // pending unmatched unspaced run
    @inline def flushSeg(): Unit = if (seg.length > 0) {
      // seg is a contiguous unspaced-free substring of word starting at
      // segStart, so its subtoken offsets shift by segStart (the
      // sequential-cursor helper handles repeated subtokens correctly)
      subtokensWithOffsets(seg.toString, cjkSplit).foreach {
        case (t, off) => out += ((t, segStart + off))
      }
      seg.setLength(0)
    }
    @inline def flushUnk(end: Int): Unit = if (unkStart >= 0) {
      out += ((word.substring(unkStart, end), unkStart))
      unkStart = -1
    }
    i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val w = Character.charCount(cp)
      if (isUnspaced(cp)) {
        flushSeg()
        val m = s.segMatchAt(word, i)
        if (m != null) {
          flushUnk(i)
          out += ((m, i))
          i += m.length
        } else if (isCjk(cp) && cjkSplit) {
          flushUnk(i)
          out += ((word.substring(i, i + w), i))
          i += w
        } else {
          if (unkStart < 0) unkStart = i
          i += w
        }
      } else {
        flushUnk(i)
        if (seg.length == 0) segStart = i
        seg.append(word, i, i + w)
        i += w
      }
    }
    flushUnk(word.length)
    flushSeg()
    out.toSeq
  }

  def subtokensWithOffsets(word: String, cjkSplit: Boolean): Seq[(String, Int)] = {
    val subs = subtokens(word, cjkSplit)
    val out = new ArrayBuffer[(String, Int)](subs.length)
    var from = 0
    subs.foreach { s =>
      val off = word.indexOf(s, from)
      out += ((s, off))
      from = off + s.length
    }
    out.toSeq
  }

  /** Tokenize and keep only terms (for df/tf paths). */
  def terms(text: String): Seq[String] = tokenize(text).map(_.term)

  def terms(text: String, s: TokSettings): Seq[String] =
    tokenize(text, s).map(_.term)

  /** Count of tokens [[tokenize]] would emit, without materializing
    * them — the doc-length (`len`) pass runs this once per document, so
    * skipping the Token/offset allocations is a measurable slice of the
    * index build. Equality with `tokenize(text).length` is spec-fuzzed
    * (TokenizerSpec). */
  def countTokens(text: String): Int = countTokens(text, TokSettings.Default)

  def countTokens(text: String, s: TokSettings): Int = {
    if (text == null || text.isEmpty) return 0
    val cjkSplit = s.cjkUnigrams.getOrElse(true)
    val hasSepStrings = s.separatorStrings.nonEmpty
    var cnt = 0
    var i = 0
    val n = text.length
    while (i < n) {
      val sepLen = if (hasSepStrings) sepStringLenAt(text, i, s) else -1
      if (sepLen > 0) i += sepLen
      else if (isWordChar(text.codePointAt(i), s)) { // FIX
        val start = i
        while (i < n && isWordChar(text.codePointAt(i), s) &&
          (!hasSepStrings || sepStringLenAt(text, i, s) < 0))
          i += Character.charCount(text.codePointAt(i))
        val raw = text.substring(start, i)
        val subs =
          if (s.inDictionary(raw)) Seq(raw) else subtokens(raw, cjkSplit, s)
        subs.foreach { sub =>
          val norm = normalize(sub)
          if (norm.nonEmpty && norm.getBytes("UTF-8").length <= MaxWordLength)
            cnt += 1
        }
      } else i += Character.charCount(text.codePointAt(i))
    }
    cnt
  }

  /** [[bucketPosition]] as a pure Column expression (same piecewise
    * arithmetic) — keeps the ranking cascade inside whole-stage codegen
    * where a scalar UDF would break it. Equality with the scalar
    * version is spec-checked over the full bucket range. */
  def bucketPositionCol(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    def seg(base: Int, from: Int, div: Int) =
      (lit(base) + floor((p - lit(from)) / lit(div))).cast("int")
    // NULL must propagate (callers coalesce a missing position to
    // cost 0, matching the DuckDB oracle's coalesce(sum(pb),0)): the
    // otherwise-branch would hit least(47, null) = 47 because Spark's
    // least() SKIPS nulls rather than propagating them
    when(p.isNull, lit(null).cast("int"))
      .when(p < PositionBucketStart, p)
      .when(p < 24, seg(16, 16, 2))
      .when(p < 64, seg(20, 24, 8))
      .when(p < 256, seg(25, 64, 32))
      .when(p < 1024, seg(31, 256, 128))
      .otherwise(least(lit(47), seg(37, 1024, 1024)))
  }

  /** Simple split used by the SQL-oracle-checked queries: lowercase,
    * split on non-alphanumeric runs. Matches DuckDB
    * `string_split_regex(lower(text), '[^a-z0-9]+')`. */
  def simpleTerms(text: String): Seq[String] =
    if (text == null) Nil
    else text.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").iterator.filter(_.nonEmpty).toSeq
}
