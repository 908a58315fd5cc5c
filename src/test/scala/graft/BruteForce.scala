package graft

import org.apache.spark.sql.DataFrame
import graft.analyze.TextAnalyzer

/** Plain-collection Scala models of the text operators, computed from
  * [[TextAnalyzer.tokens]] with plain collections: the references that
  * OpsSpec and OpsPropertySpec check the Spark operators against. */
object BruteForce {

  def r6(x: Double): Double = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** (doc_id, text) rows of a documents frame. */
  def rows(documents: DataFrame): Seq[(Long, String)] =
    documents.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  private def grams(text: String, n: Int): Seq[String] =
    TextAnalyzer.tokens(text).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq

  /** doc_id -> (n_windows, n_dup_windows, dup_frac) of
    * [[graft.ops.TextOps.dupWindowCoverage]]: global window counts, then
    * per-doc coverage. */
  def dupWindows(docs: Seq[(Long, String)], w: Int): Map[Long, (Long, Long, Double)] = {
    val allWins = docs.map { case (id, text) => id -> grams(text, w) }
    val global = allWins.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size }
    allWins.map { case (id, wins) =>
      val nd = wins.count(global(_) > 1).toLong
      id -> ((wins.size.toLong, nd, if (wins.nonEmpty) r6(nd.toDouble / wins.size) else 0.0))
    }.toMap
  }

  def dupWindowsOf(result: DataFrame): Map[Long, (Long, Long, Double)] =
    result.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

  /** doc_id -> (n_bigrams, hit_frac, oov_frac, lm_micro) of
    * [[graft.ops.TextOps.lmScore]]: a count-based Stupid-Backoff bigram LM
    * trained on `train`, scored over `docs`. */
  def lmScores(train: Seq[(Long, String)],
               docs: Seq[(Long, String)]): Map[Long, (Long, Double, Double, Long)] = {
    val trainSeqs = train.map { case (_, text) => TextAnalyzer.tokens(text) }
    val c1 = trainSeqs.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c2 = trainSeqs.flatMap(_.sliding(2).filter(_.length == 2).map(_.mkString(" ")))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val tTot = trainSeqs.map(_.length.toLong).sum
    docs.map { case (id, text) =>
      val bigs = TextAnalyzer.tokens(text).sliding(2).filter(_.length == 2).toSeq
      val n = bigs.size.toLong
      if (n == 0) id -> ((0L, 0.0, 0.0, 0L))
      else {
        var nh = 0L; var no = 0L; var sp = 0L
        bigs.foreach { bg =>
          c2.get(bg.mkString(" ")) match {
            case Some(cb) => nh += 1; sp += math.round(1000000.0 * cb / c1(bg.head))
            case None => c1.get(bg(1)) match {
              case Some(cc) => sp += math.round(400000.0 * cc / tTot)
              case None => no += 1
            }
          }
        }
        id -> ((n, r6(nh.toDouble / n), r6(no.toDouble / n), math.round(sp.toDouble / n)))
      }
    }.toMap
  }

  def lmScoresOf(result: DataFrame): Map[Long, (Long, Double, Double, Long)] =
    result.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap

  /** (doc_id, n_hits, contaminated) of [[graft.ops.Dedup.decontaminate]]
    * in doc_id order: n_hits = distinct word n-grams of the training doc
    * that occur anywhere in the benchmark. */
  def decontaminate(training: Seq[(Long, String)], benchmark: Seq[(Long, String)],
                    n: Int): Seq[(Long, Long, Boolean)] = {
    val benchGrams = benchmark.flatMap { case (_, text) => grams(text, n) }.toSet
    training.sortBy(_._1).map { case (id, text) =>
      val hits = grams(text, n).distinct.count(benchGrams).toLong
      (id, hits, hits > 0)
    }
  }
}
