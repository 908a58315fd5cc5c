package graft.query

/** BM25 scoring — the ranking extension over the reference's unranked AND
  * search (the reference returns hits in docId order with no scoring,
  * service/searcher/poseidon/doc_gz_client.go:101-103; its posting header
  * (uv, pv) supplies exactly the df statistic BM25 needs — SURVEY.md §2.9).
  *
  * Textbook BM25 with the Lucene-style non-negative idf:
  *   idf(N, df)      = ln(1 + (N - df + 0.5) / (df + 0.5))
  *   tfNorm(tf, dl)  = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
  *   score(doc)      = Σ_terms idf * tfNorm   (summed in query-term order)
  *
  * ONE implementation shared by the engine, the build-time block-max stamps,
  * and the brute-force oracle, so "scores match exactly" is FP-stable: same
  * constants, same `math.log`, same summation order (SURVEY.md §7.6). The
  * stamps are max tfNorm, with no idf: the kernel multiplies the stamp by
  * the term's idf, which equals the max of `contribution` bit for bit.
  */
object Bm25 {
  val K1 = 1.2
  val B = 0.75

  def idf(numDocs: Long, df: Long): Double =
    math.log(1.0 + (numDocs - df + 0.5) / (df + 0.5))

  def tfNorm(tf: Int, dl: Int, avgDl: Double): Double =
    tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgDl))

  /** Full per-term contribution. */
  def contribution(tf: Int, dl: Int, idfTerm: Double, avgDl: Double): Double =
    idfTerm * tfNorm(tf, dl, avgDl)
}
