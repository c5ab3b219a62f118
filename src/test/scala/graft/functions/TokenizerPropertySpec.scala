package graft.functions

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The one-scan tokenizer against the frozen copy of the tokenizer it
  * replaced ([[graft.functions.frozen.Tokenizer]]): every token's (term,
  * pos, start, end), the terms, the token count and the raw subtokens
  * must agree, on generated text under generated settings. */
class TokenizerPropertySpec extends AnyFunSuite {
  private val F = graft.functions.frozen.Tokenizer

  private def frozenOf(s: Tokenizer.TokSettings): F.TokSettings =
    F.TokSettings(s.separatorTokens, s.nonSeparatorTokens, s.dictionary,
      s.separatorStrings, s.localesByFid, s.cjkUnigrams)

  private val atoms: Seq[String] = Seq(
    // ASCII code: camelCase, acronyms, snake_case, digits, long words
    "parseHTTPBuffer", "camelCase", "XMLHttpRequest", "getX", "ABc", "foo_bar2",
    "__init__", "_", "a__b", "v2x", "42", "3.14", "i18n", "ActionScript",
    "actionscript", "a" * 251, "b" * 250, "x" * 249 + "Y" * 3, "fooxbar", "c++",
    // CJK, kana, hangul
    "北京大学", "我爱北京天安门", "abc北京def", "ひらがな", "カタカナ", "한국어", "图书",
    // Thai (with and without dictionary entries), Lao, Khmer, Myanmar
    "แมวกินปลา", "สวัสดีครับ", "ปลาทอง", "แมวบบกิน", "แมว", "ปลา", "ab", "ສະບາຍດີ", "សួស្តី", "မင်္ဂလာပါ",
    // Arabic and Hebrew with folds and marks
    "مُحَمَّد", "مكتبة", "كتــــاب", "ٱلله", "مستشفى", "שָׁלוֹם", "ארץ", "דרך",
    // Latin and Greek case and diacritics
    "Café", "ÜBER", "Straße", "İstanbul", "ΣΟΦΙΑ", "ǅemal", "e\u0301", "\u0301",
    "a\u20DD",
    // compatibility capitals
    "ℌello", "ᴴi", "Ⅻ", "ﬁle",
    // supplementary plane: Han Ext-B, Gothic, math capitals and digits,
    // a combining mark, an emoji, lone surrogates
    "𠀀", "𠮷", "𠀀水", "𐌰𐌱", "𐌰x", "𝐀𝐁c", "𝟘𝟙", "a\uD834\uDD65", "😀",
    "\uD800", "\uDC00",
    // separators, soft and hard
    " ", "\u00A0", "\u3000", "\t", "-", "+", "#", "||", "-->", "::", "xx",
    ".", ";", ",", "!", "?", "(", ")", "{", "}", "[", "]", "\n", "\n\n")

  /** Any code point from the BMP and the first supplementary planes. */
  private val anyCodePoint: Gen[String] =
    Gen.frequency(
      6 -> Gen.choose(0x20, 0x7e),
      3 -> Gen.choose(0x80, 0x2fff),
      2 -> Gen.choose(0x3000, 0xffff),
      2 -> Gen.choose(0x10000, 0x2ffff))
      .map(cp => new String(Character.toChars(cp)))

  private val text: Gen[String] =
    Gen.listOf(Gen.frequency(5 -> Gen.oneOf(atoms), 1 -> anyCodePoint)).map(_.mkString)

  private val settings: Gen[Tokenizer.TokSettings] = for {
    seps <- Gen.containerOf[Set, Char](
      Gen.oneOf('_', 'x', '-', '.', 'a', '北', 'ก', '\u0301', 'ـ'))
    nonSeps <- Gen.containerOf[Set, Char](
      Gen.oneOf('-', '+', '#', '.', '\n', ' ', '_', '(', '\u00B7'))
    dict <- Gen.containerOf[Set, String](Gen.oneOf(
      "ActionScript", "XMLHttp", "foo_bar2", "ab", "แมว", "กิน", "ปลา", "ปลาทอง",
      "สวัสดี", "แมวab", "北京", "大学", "北京大学", "图", "𠀀水", "ひら", "ສະ"))
    sepStrings <- Gen.containerOf[Set, String](Gen.oneOf(
      "||", "-->", "--", "xx", "\n\n", "::", "北京", "ab", "𐌰", "ปลา", "é"))
    locales <- Gen.mapOf(Gen.zip(Gen.choose(0, 2),
      Gen.oneOf("en", "ja", "zh", "ko", "th", "cmn", "JPN")))
    cjk <- Gen.option(Gen.oneOf(true, false))
  } yield Tokenizer.TokSettings(seps, nonSeps, dict, sepStrings, locales, cjk)

  private def show(t: String): String =
    t.flatMap(c => if (c < 0x20 || c > 0x7e) f"\\u${c.toInt}%04x" else c.toString)

  test("property: tokenize, terms, countTokens and subtokens equal the frozen tokenizer") {
    val cases = for {
      t <- text
      s <- Gen.frequency(1 -> Gen.const(Tokenizer.TokSettings.Default), 3 -> settings)
      fid <- Gen.choose(0, 3)
    } yield (t, s, fid)
    val prop = Prop.forAllNoShrink(cases) { case (t, s0, fid) =>
      val s = s0.forFid(fid)
      val f = frozenOf(s0).forFid(fid)
      val got = Tokenizer.tokenize(t, s).map(x => (x.term, x.pos, x.start, x.end))
      val want = F.tokenizeWithOffsets(t, f).map(x => (x.term, x.pos, x.start, x.end))
      val cjk = s.cjkUnigrams.getOrElse(true)
      val label = s"text=${show(t)} settings=$s0 fid=$fid"
      ((got == want) :| s"tokenize $label: $got != $want") &&
        ((Tokenizer.terms(t, s) == F.terms(t, f)) :| s"terms $label") &&
        ((Tokenizer.countTokens(t, s) == F.countTokens(t, f)) :| s"countTokens $label") &&
        ((Tokenizer.subtokens(t, s) == F.subtokens(t, cjk, f)) :| s"subtokens $label")
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(3000).withInitialSeed(Seed(20261020L)), prop)
    info(s"${result.succeeded} cases")
    assert(result.passed, result.status.toString)
  }
}
