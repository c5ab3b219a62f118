package graft.functions

/** BM25 scoring (north-rule ranking function for the query engine).
  *
  * Fixed constants k1=1.2, b=0.75 (see FIXTURES.md §3). The idf form is
  * the Robertson–Spärck Jones variant used by Lucene:
  * idf = ln(1 + (N - df + 0.5) / (df + 0.5)), always positive.
  */
object BM25 extends Serializable {
  final val K1 = 1.2
  final val B = 0.75

  def idf(df: Long, n: Long): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** A posting's BM25 contribution from its term's idf, its tf and its
    * doc's length — the one expression every ranked plan evaluates
    * (searchDF in the posting decode, WAND per scored doc), so their
    * scores agree bit for bit. */
  def score(idf: Double, tf: Int, len: Int, avgdl: Double): Double =
    idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * len / avgdl))

  /** Per-term contribution for one document. */
  def termScore(tf: Int, docLen: Int, avgdl: Double, df: Long, n: Long): Double = {
    val norm = K1 * (1.0 - B + B * docLen / avgdl)
    idf(df, n) * tf * (K1 + 1.0) / (tf + norm)
  }

  /** Upper bound of a term's contribution for any doc in a block, given
    * the block's max tf and the corpus-wide min doc length: used as the
    * per-block max-score metadata for block-max WAND. A simpler, valid
    * bound uses docLen -> 0 so norm -> k1*(1-b). */
  def maxScore(maxTf: Int, df: Long, n: Long): Double = {
    val norm = K1 * (1.0 - B) // docLen/avgdl >= 0 lower-bounds the norm
    idf(df, n) * maxTf * (K1 + 1.0) / (maxTf + norm)
  }
}
