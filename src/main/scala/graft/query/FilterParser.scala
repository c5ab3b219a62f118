package graft.query

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Recursive-descent parser for the reference's filter DSL (grammar in
  * reference crates/filter-parser/src/lib.rs:1-40, operators
  * condition.rs:17-32) producing a Catalyst `Column` — so filter
  * evaluation is just a declarative predicate Catalyst can push into the
  * parquet scan (reference evaluates the AST to a docid bitmap via its
  * facet tree, filter.rs:233-455; Spark's pushdown + min/max pruning
  * replaces that tree, SURVEY §4.1).
  *
  * Supported: `=`, `!=`, `>`, `>=`, `<`, `<=`, `a TO b`, `IN [..]`,
  * `EXISTS`, `NOT EXISTS`, `IS NULL`, `IS NOT NULL`, `IS EMPTY`,
  * `IS NOT EMPTY`, `CONTAINS`, `STARTS WITH`, `NOT`, `AND`, `OR`,
  * parentheses. Values: bare words, numbers, single/double-quoted
  * strings. Comparison on numeric-looking values is numeric (all numbers
  * are f64 in the reference, score_details.rs:472-480).
  */
object FilterParser {
  final val MaxDepth = 2000 // reference milli/src/search/facet/filter.rs:27

  def parse(input: String): Column = parseWithFields(input)._1

  /** The predicate and the document fields its conditions name (geo
    * filters name their own columns through [[graft.functions.Geo]]). */
  def parseWithFields(input: String): (Column, Set[String]) = {
    val p = new P(input)
    (p.parseAll(), p.fields.toSet)
  }

  private final class P(s: String) {
    private var i = 0
    private var depth = 0
    val fields = scala.collection.mutable.Set.empty[String]

    def parseAll(): Column = {
      val c = parseOr()
      skipWs()
      require(i >= s.length, s"unexpected trailing input at $i: '${s.substring(i)}'")
      c
    }

    private def parseOr(): Column = {
      var left = parseAnd()
      while (peekKeyword("OR")) { eatKeyword("OR"); left = left || parseAnd() }
      left
    }

    private def parseAnd(): Column = {
      var left = parseNot()
      while (peekKeyword("AND")) { eatKeyword("AND"); left = left && parseNot() }
      left
    }

    private def parseNot(): Column = {
      if (peekKeyword("NOT")) { eatKeyword("NOT"); return !parseNot() }
      parsePrimary()
    }

    private def parsePrimary(): Column = {
      skipWs()
      depth += 1
      require(depth <= MaxDepth, "filter too deep")
      val res =
        if (peekChar('(')) { i += 1; val c = parseOr(); skipWs(); expect(')'); c }
        else if (peekKeyword("_geoRadius")) parseGeoRadius()
        else if (peekKeyword("_geoBoundingBox")) parseGeoBoundingBox()
        else parseCondition()
      depth -= 1
      res
    }

    /** `_geoRadius(lat, lng, meters)` (reference filter-parser
      * lib.rs:370-400). */
    private def parseGeoRadius(): Column = {
      eatKeyword("_geoRadius"); expect('(')
      val lat = parseValue().toDouble; skipWs(); expect(',')
      val lng = parseValue().toDouble; skipWs(); expect(',')
      val m = parseValue().toDouble; skipWs(); expect(')')
      graft.functions.Geo.geoRadius(lat, lng, m)
    }

    /** `_geoBoundingBox([latTR, lngTR], [latBL, lngBL])`. */
    private def parseGeoBoundingBox(): Column = {
      eatKeyword("_geoBoundingBox"); expect('(')
      def pt(): (Double, Double) = {
        skipWs(); expect('[')
        val a = parseValue().toDouble; skipWs(); expect(',')
        val b = parseValue().toDouble; skipWs(); expect(']')
        (a, b)
      }
      val (latTR, lngTR) = pt(); skipWs(); expect(',')
      val (latBL, lngBL) = pt(); skipWs(); expect(')')
      graft.functions.Geo.geoBoundingBox(latTR, lngTR, latBL, lngBL)
    }

    private def parseCondition(): Column = {
      val field = parseValue()
      fields += field
      skipWs()
      val c = col(field)
      if (peekKeyword("EXISTS")) { eatKeyword("EXISTS"); return c.isNotNull }
      if (peekKeyword("NOT")) {
        eatKeyword("NOT"); eatKeyword("EXISTS"); return c.isNull
      }
      if (peekKeyword("IS")) {
        eatKeyword("IS")
        val neg = if (peekKeyword("NOT")) { eatKeyword("NOT"); true } else false
        if (peekKeyword("NULL")) { eatKeyword("NULL"); return if (neg) c.isNotNull else c.isNull }
        eatKeyword("EMPTY")
        val empty = c.cast("string") === lit("")
        return if (neg) !empty else empty
      }
      if (peekKeyword("IN")) {
        eatKeyword("IN"); skipWs(); expect('[')
        val vals = scala.collection.mutable.ArrayBuffer.empty[String]
        skipWs()
        while (!peekChar(']')) {
          vals += parseValue(); skipWs()
          if (peekChar(',')) { i += 1; skipWs() }
        }
        expect(']')
        return c.isin(vals.toSeq: _*)
      }
      if (peekKeyword("CONTAINS")) { eatKeyword("CONTAINS"); return c.contains(parseValue()) }
      if (peekKeyword("STARTS")) {
        eatKeyword("STARTS"); eatKeyword("WITH"); return c.startsWith(parseValue())
      }
      // comparison operators / `field lo TO hi` range
      tryParseOp() match {
        case Some(op) =>
          val v = parseValue()
          op match {
            case "="  => cmpEq(c, v)
            case "!=" => !cmpEq(c, v)
            case ">"  => cmp(c, v, _ > _, _ > _)
            case ">=" => cmp(c, v, _ >= _, _ >= _)
            case "<"  => cmp(c, v, _ < _, _ < _)
            case "<=" => cmp(c, v, _ <= _, _ <= _)
          }
        case None =>
          val lo = parseValue()
          eatKeyword("TO")
          val hi = parseValue()
          if (isNum(lo) && isNum(hi)) c.cast("double").between(lo.toDouble, hi.toDouble)
          else c.cast("string").between(lo, hi)
      }
    }

    private def cmpEq(c: Column, v: String): Column =
      if (isNum(v)) c.cast("double") === lit(v.toDouble) else c.cast("string") === lit(v)

    private def cmp(c: Column, v: String,
                    fNum: (Column, Column) => Column,
                    fStr: (Column, Column) => Column): Column =
      if (isNum(v)) fNum(c.cast("double"), lit(v.toDouble))
      else fStr(c.cast("string"), lit(v))

    private def isNum(v: String): Boolean =
      v.nonEmpty && v.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?")

    private def tryParseOp(): Option[String] = {
      skipWs()
      val ops = Seq(">=", "<=", "!=", "=", ">", "<")
      ops.find(o => s.startsWith(o, i)).map { o => i += o.length; o }
    }

    /** bare word, number, or quoted string */
    private def parseValue(): String = {
      skipWs()
      require(i < s.length, "unexpected end of filter")
      val q = s.charAt(i)
      if (q == '"' || q == '\'') {
        i += 1
        val sb = new StringBuilder
        while (i < s.length && s.charAt(i) != q) {
          if (s.charAt(i) == '\\' && i + 1 < s.length) { sb += s.charAt(i + 1); i += 2 }
          else { sb += s.charAt(i); i += 1 }
        }
        expect(q)
        sb.toString
      } else {
        val start = i
        while (i < s.length && !" \t\n()[],=<>!".contains(s.charAt(i))) i += 1
        require(i > start, s"expected value at $i in '$s'")
        s.substring(start, i)
      }
    }

    private def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def peekChar(c: Char): Boolean = { skipWs(); i < s.length && s.charAt(i) == c }
    private def expect(c: Char): Unit = {
      skipWs()
      require(i < s.length && s.charAt(i) == c, s"expected '$c' at $i in '$s'")
      i += 1
    }
    private def peekKeyword(kw: String): Boolean = {
      skipWs()
      s.regionMatches(true, i, kw, 0, kw.length) &&
        (i + kw.length >= s.length || !s.charAt(i + kw.length).isLetterOrDigit)
    }
    private def eatKeyword(kw: String): Unit = {
      require(peekKeyword(kw), s"expected $kw at $i in '$s'")
      i += kw.length
    }
  }

  /** `field lo TO hi` range (parsed separately since the main grammar
    * reads `lo` where an operator is expected). Convenience for callers
    * that know they have a range. */
  def range(field: String, lo: Double, hi: Double): Column =
    col(field).cast("double").between(lo, hi)
}
