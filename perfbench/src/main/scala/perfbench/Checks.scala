package perfbench

import org.apache.spark.sql.Row

import graft.gen.TranscriptGen
import graft.model.DocTurn
import graft.ops.Dedup
import graft.query.{Bm25Oracle, SearchStats}
import Inputs.{Fetch, Stats => StatsOp, TopK}

/** Output checks, run outside the timed windows. Each returns the list of
  * mismatches found; an empty list means the outputs are correct. */
object Checks {

  /** The oracle over the corpus window. DocIds are turn order within the
    * window (see Inputs.corpusBase). */
  def oracle(seed: Long): Bm25Oracle.OracleIndex = {
    val base = Inputs.corpusBase(seed)
    Bm25Oracle.buildIndex((0L until Inputs.CorpusTurns).map { i =>
      val t = TranscriptGen.turnAt(base + i)
      DocTurn(i, t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts)
    })
  }

  /** Σdf of the oracle: one posting per (field, term, doc). */
  def sumDf(ix: Bm25Oracle.OracleIndex): Long = ix.tfs.valuesIterator.map(_.size.toLong).sum

  def ingest(out: Phases.IngestOut, indexSumDf: Long, oracleSumDf: Long): Seq[String] =
    out.manifests.collect {
      case m if m.numDocs != Inputs.CorpusTurns => s"ingest: manifest numDocs ${m.numDocs} != input rows ${Inputs.CorpusTurns}"
    } ++ (if (indexSumDf != oracleSumDf) Seq(s"ingest: index sum(df) $indexSumDf != oracle $oracleSumDf") else Nil)

  /** A seeded sample of the completed ops against the oracle: topK rank and
    * score identity, searchStats equality, and fetched rows equal to the
    * generator's turns. */
  def search(seed: Long, ix: Bm25Oracle.OracleIndex, recs: Seq[Phases.Rec], sampleSeed: Long,
             sample: Int = 60): Seq[String] = {
    val base = Inputs.corpusBase(seed)
    val picked = new scala.util.Random(sampleSeed).shuffle(recs).take(sample)
    picked.flatMap { r =>
      val q = r.op.key
      val where = s"search op ${r.op.index} (${r.op.kind.name} ${q.terms.mkString(",")} k=${q.k})"
      r.op.kind match {
        case TopK =>
          val got = r.result.asInstanceOf[Array[(Long, Double)]].toSeq
          val want = Bm25Oracle.topK(ix, q)
          if (got != want) Seq(s"$where: ${got.size} hits differ from the oracle's ${want.size} (first: ${got.take(3)} vs ${want.take(3)})")
          else Nil
        case Fetch =>
          val rows = r.result.asInstanceOf[Array[Row]].toSeq
          val got = rows.map(row => (row.getAs[Long]("docId"), row.getAs[Double]("score")))
          val want = Bm25Oracle.topK(ix, q)
          val ranking = if (got != want) Seq(s"$where: ranking differs from oracle") else Nil
          ranking ++ rows.flatMap { row =>
            val t = TranscriptGen.turnAt(base + row.getAs[Long]("docId"))
            val same = row.getAs[String]("text") == t.text && row.getAs[String]("conv_id") == t.conv_id &&
              row.getAs[Int]("turn_idx") == t.turn_idx
            if (same) Nil else Seq(s"$where: fetched row ${row.getAs[Long]("docId")} differs from the generated turn")
          }
        case StatsOp =>
          val got = r.result.asInstanceOf[SearchStats]
          val want = Bm25Oracle.stats(ix, q)
          if (got != want) Seq(s"$where: stats $got != oracle $want") else Nil
      }
    }
  }

  /** Exact Jaccard of two documents' token sets. */
  final class Jaccard(docs: IndexedSeq[(Long, String)]) {
    private val sets = docs.map { case (_, text) => Inputs.tokenSet(text) }
    def apply(a: Long, b: Long): Double = Dedup.jaccardOf(sets(a.toInt), sets(b.toInt))
  }

  private def pairsOf(rows: Array[Row]): Seq[(Long, Long, Double)] =
    rows.toSeq.map(r => (r.getAs[Number]("a").longValue, r.getAs[Number]("b").longValue, r.getAs[Double]("j")))

  /** Union-find components of a pair graph: doc -> minimum doc of its
    * component. */
  private def components(pairs: Seq[(Long, Long, Double)]): Long => Long = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    find
  }

  /** Every reported pair reaches the threshold with the J it reports; the
    * prefix pairs hold every planted pair at or above the threshold; each
    * keepers component is keyed by its minimum doc, sized right, and lies
    * inside one component of the exact (prefix) pair graph, each member
    * with an exact pair inside it. Given the LSH pairs too: they are a
    * subset of the prefix pairs, and the keepers are exactly their
    * components. */
  def dedup(docs: IndexedSeq[(Long, String)], planted: Seq[Inputs.Planted], jac: Jaccard,
            lsh: Option[Array[Row]], prefix: Array[Row], keepers: Array[Row]): Seq[String] = {
    val t = Phases.DedupThreshold
    def verify(name: String, ps: Seq[(Long, Long, Double)]) = ps.flatMap { case (a, b, j) =>
      val exact = jac(a, b)
      if (exact < t || math.abs(exact - j) > 1e-6) Seq(s"dedup $name pair ($a,$b): reported J=$j, exact J=$exact")
      else Nil
    }.take(10)
    val preP = pairsOf(prefix)
    val preSet = preP.map(p => (p._1, p._2)).toSet
    val missedPlanted = planted.map(p => (math.min(p.source, p.copy), math.max(p.source, p.copy)))
      .filter { case (a, b) => a != b && jac(a, b) >= t && !preSet((a, b)) }.take(10)
      .map(p => s"dedup: planted pair $p (J >= $t) missing from prefix pairs")

    val rows = keepers.toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper"),
      r.getAs[Boolean]("is_keeper"), r.getAs[Long]("n_members")))
    val groups = rows.groupBy(_._2)
    val exactComp = components(preP)
    val partners = preP.flatMap { case (a, b, _) => Seq(a -> b, b -> a) }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val keeperErrs = (if (rows.size != docs.size) Seq(s"dedup: keepers has ${rows.size} rows, want ${docs.size}") else Nil) ++
      groups.toSeq.flatMap { case (k, members) =>
        val ids = members.map(_._1).toSet
        val ok = ids.min == k && members.forall { case (d, _, isK, n) => isK == (d == k) && n == ids.size } &&
          ids.map(exactComp).size == 1 &&
          (ids.size == 1 || ids.forall(d => partners.getOrElse(d, Set.empty[Long]).exists(ids)))
        if (ok) Nil else Seq(s"dedup: keepers component of $k (${ids.size} docs) is inconsistent with the exact pairs")
      }.take(10)

    val lshErrs = lsh.toSeq.flatMap { rowsL =>
      val lshP = pairsOf(rowsL)
      val comp = components(lshP)
      val notSubset = lshP.filterNot(p => preSet((p._1, p._2))).take(10)
        .map(p => s"dedup: LSH pair (${p._1},${p._2}) missing from prefix pairs")
      val notComponents = rows.filter { case (d, k, _, _) => comp(d) != k }.take(10)
        .map { case (d, k, _, _) => s"dedup: doc $d has keeper $k, LSH component minimum ${comp(d)}" }
      verify("lsh", lshP) ++ notSubset ++ notComponents
    }
    verify("prefix", preP) ++ missedPlanted ++ keeperErrs ++ lshErrs
  }

  /** Every dedup round returned the same rows as the last one. */
  def sameRounds(d: Phases.DedupOut): Seq[String] = {
    def same(name: String, rounds: Seq[Array[Row]]) = rounds.lastOption.toSeq.flatMap { last =>
      val want = last.map(_.toSeq).toSet
      rounds.init.zipWithIndex.collect {
        case (r, i) if r.length != last.length || r.map(_.toSeq).toSet != want =>
          s"dedup: $name round ${i + 1} differs from the last round"
      }
    }
    same("keepers", d.keepers) ++ same("prefix", d.prefix)
  }

  /** Share of planted pairs at or above the threshold that LSH found. */
  def plantedRecall(planted: Seq[Inputs.Planted], jac: Jaccard, lsh: Array[Row]): Double = {
    val found = pairsOf(lsh).map(p => (p._1, p._2)).toSet
    val due = planted.map(p => (math.min(p.source, p.copy), math.max(p.source, p.copy)))
      .filter { case (a, b) => jac(a, b) >= Phases.DedupThreshold }
    if (due.isEmpty) 1.0 else due.count(found).toDouble / due.size
  }
}
