package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class TokenizerSpec extends AnyFunSuite {

  test("camelCase and PascalCase split into subtokens") {
    assert(Tokenizer.subtokens("parseHTTPBuffer") == Seq("parse", "HTTP", "Buffer"))
    assert(Tokenizer.subtokens("camelCase") == Seq("camel", "Case"))
    assert(Tokenizer.subtokens("HTTPServer") == Seq("HTTP", "Server"))
    assert(Tokenizer.subtokens("Buffer") == Seq("Buffer"))
    assert(Tokenizer.subtokens("HTTP") == Seq("HTTP"))
  }

  test("snake_case and digit boundaries split") {
    assert(Tokenizer.subtokens("foo_bar2") == Seq("foo", "bar", "2"))
    assert(Tokenizer.subtokens("_leading") == Seq("leading"))
    assert(Tokenizer.subtokens("trailing_") == Seq("trailing"))
    assert(Tokenizer.subtokens("a__b") == Seq("a", "b"))
    assert(Tokenizer.subtokens("v2x") == Seq("v", "2", "x"))
  }

  test("CJK runs split per codepoint; mixed words keep latin boundary rules") {
    assert(Tokenizer.subtokens("北京") == Seq("北", "京"))
    assert(Tokenizer.subtokens("abc北京def") == Seq("abc", "北", "京", "def"))
    assert(Tokenizer.subtokens("ひらがなとカタカナ") ==
      "ひらがなとカタカナ".map(_.toString))
    // supplementary-plane Han (CJK ext-B) stays one token per codepoint
    val extB = new String(Character.toChars(0x20000))
    assert(Tokenizer.subtokens(extB + "水") == Seq(extB, "水"))
    // hangul has word spacing — NOT per-char split
    assert(Tokenizer.subtokens("한국어") == Seq("한국어"))
    // positions: adjacent chars get consecutive positions, so phrase
    // adjacency and the proximity rule see multi-char words
    val toks = Tokenizer.tokenize("我爱北京天安门")
    assert(toks.map(_.term) == Seq("我", "爱", "北", "京", "天", "安", "门"))
    assert(toks.map(_.pos) == (0 to 6))
    // offsets index the original text (highlighting)
    val off = Tokenizer.tokenize("spark 北京 merge")
    assert(off.map(_.term) == Seq("spark", "北", "京", "merge"))
    assert(off.map(t => (t.start, t.end)) == Seq((0, 5), (6, 7), (7, 8), (9, 14)))
  }

  test("normalize lowercases and strips diacritics") {
    assert(Tokenizer.normalize("Café") == "cafe")
    assert(Tokenizer.normalize("ÜBER") == "uber")
  }

  test("normalize lowercases compatibility capitals after NFKD") {
    // ℌ (letterlike symbol) and ᴴ (modifier capital) have no lowercase
    // mapping of their own; NFKD turns them into an uppercase H
    assert(Tokenizer.normalize("ℌello") == "hello")
    assert(Tokenizer.normalize("ᴴi") == "hi")
    assert(Tokenizer.terms("ℌello ᴴi") == Seq("hello", "hi"))
  }

  test("supplementary-plane letters are word chars on the index and query side") {
    val extB = new String(Character.toChars(0x20000)) // 𠀀, CJK Ext-B
    val han = Tokenizer.tokenize(s"${extB}水 abc")
    assert(han.map(_.term) == Seq(extB, "水", "abc"))
    assert(han.map(t => (t.start, t.end)) == Seq((0, 2), (2, 3), (4, 7)))
    val gothic = Tokenizer.tokenize("𐌰𐌱 foo")
    assert(gothic.map(_.term) == Seq("𐌰𐌱", "foo"))
    assert(gothic.map(t => (t.pos, t.start, t.end)) == Seq((0, 0, 4), (1, 5, 8)))
    assert(Tokenizer.terms("𠮷 𐌰x") == Seq("𠮷", "𐌰x"))
    assert(graft.query.QueryParser.parse(s"${extB}水 abc").words == Seq(extB, "水", "abc"))
    assert(graft.query.QueryParser.parse("𐌰𐌱 foo").words == Seq("𐌰𐌱", "foo"))
  }

  test("positions: +1 per token, +8 across hard separators") {
    val toks = Tokenizer.tokenize("foo bar. baz qux")
    assert(toks.map(_.term) == Seq("foo", "bar", "baz", "qux"))
    assert(toks.map(_.pos) == Seq(0, 1, 9, 10))
  }

  test("camelCase tokens get consecutive positions") {
    val toks = Tokenizer.tokenize("val parseBuffer = x")
    assert(toks.map(t => (t.term, t.pos)) ==
      Seq(("val", 0), ("parse", 1), ("buffer", 2), ("x", 3)))
  }

  test("empty / null / separator-only input") {
    assert(Tokenizer.tokenize("").isEmpty)
    assert(Tokenizer.tokenize(null).isEmpty)
    assert(Tokenizer.tokenize("... !!! ???").isEmpty)
  }

  test("words over 250 bytes are dropped (reference MAX_WORD_LENGTH)") {
    val long = "a" * 251
    assert(Tokenizer.tokenize(s"ok $long fine").map(_.term) == Seq("ok", "fine"))
  }

  test("position buckets are identity below 16 and monotone after") {
    (0 until 16).foreach(p => assert(Tokenizer.bucketPosition(p) == p))
    val bs = (0 to 5000).map(Tokenizer.bucketPosition)
    assert(bs == bs.sorted, "buckets must be monotone")
    assert(bs.max <= 47)
  }

  test("property: positions strictly increasing, terms lowercase (seeded fuzz)") {
    val rnd = new scala.util.Random(42)
    val atoms = Seq("fooBar_baz", "x9", ".", " ", "HTTPServer", "été", "!",
      "snake_case", "\n", "a", "Z")
    (1 to 300).foreach { _ =>
      val text = Seq.fill(rnd.nextInt(30))(atoms(rnd.nextInt(atoms.size))).mkString(" ")
      val toks = Tokenizer.tokenize(text)
      val ps = toks.map(_.pos)
      assert(ps == ps.sorted && ps.distinct == ps, s"positions not strictly increasing for '$text'")
      toks.foreach(t => assert(t.term == t.term.toLowerCase))
    }
  }

  test("simpleTerms matches the duckdb regex-split spec") {
    assert(Tokenizer.simpleTerms("The fast-key order! x9") ==
      Seq("the", "fast", "key", "order", "x9"))
  }

  test("countTokens == tokenize(_).length (seeded fuzz incl. CJK / long words)") {
    val rnd = new scala.util.Random(7)
    val atoms = Seq("fooBar_baz", "x9", ".", " ", "HTTPServer", "été", "!",
      "snake_case", "\n", "a", "Z", "北京abc", "ひらがな", "a" * 251, "_", "v2x")
    (1 to 300).foreach { _ =>
      val text = Seq.fill(rnd.nextInt(30))(atoms(rnd.nextInt(atoms.size))).mkString(" ")
      assert(Tokenizer.countTokens(text) == Tokenizer.tokenize(text).length,
        s"countTokens diverges for '$text'")
    }
    assert(Tokenizer.countTokens("") == 0 && Tokenizer.countTokens(null) == 0)
  }
}
