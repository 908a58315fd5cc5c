package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import graft.ops.{Dedup, TextOps}

/** Property checks of the fingerprint-keyed text operators against the
  * string-keyed brute-force models in [[BruteForce]]. Corpora are small and
  * drawn from a 20-word vocabulary, so shared n-grams, duplicated windows
  * and seen/unseen bigrams all occur in most cases. */
class OpsPropertySpec extends SparkFunSuite {
  import spark.implicits._

  /** 20 words; "a" and "I" fall outside the tokenizer's length band and
    * "Go"/"go" fold to one token, so the token vocabulary is smaller. */
  val Vocab: Seq[String] = Seq("the", "a", "I", "go", "Go", "run", "spark", "data",
    "node", "job", "task", "map", "sort", "join", "key", "row", "x1", "y22", "zz", "end")

  val text: Gen[String] = for {
    n <- Gen.choose(0, 14)
    words <- Gen.listOfN(n, Gen.oneOf(Vocab))
  } yield words.mkString(" ")

  /** (docs, in-train flags, benchmark docs, n-gram size): ids are distinct
    * across docs and benchmark. */
  val corpus: Gen[(Seq[(Long, String)], Seq[Boolean], Seq[(Long, String)], Int)] = for {
    nDocs <- Gen.choose(1, 24)
    texts <- Gen.listOfN(nDocs, text)
    inTrain <- Gen.listOfN(nDocs, Gen.oneOf(true, false))
    nBench <- Gen.choose(1, 6)
    benchTexts <- Gen.listOfN(nBench, text)
    n <- Gen.choose(2, 4)
  } yield (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, inTrain,
    benchTexts.zipWithIndex.map { case (t, i) => (1000L + i, t) }, n)

  test("decontaminate, dupWindowCoverage and lmScore equal their brute-force models") {
    val prop = Prop.forAllNoShrink(corpus) { case (docs, inTrain, bench, n) =>
      val docsDf = docs.toDF("doc_id", "text")
      val train = docs.zip(inTrain).collect { case (d, true) => d }
      val trainDf = train.toDF("doc_id", "text")

      val decon = Dedup.decontaminate(docsDf, bench.toDF("doc_id", "text"), n).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      val windows = BruteForce.dupWindowsOf(TextOps.dupWindowCoverage(docsDf, n))
      val lm = BruteForce.lmScoresOf(TextOps.lmScore(trainDf, docsDf))

      (decon == BruteForce.decontaminate(docs, bench, n)) :| "decontaminate" &&
        (windows == BruteForce.dupWindows(docs, n)) :| "dupWindowCoverage" &&
        (lm == BruteForce.lmScores(train, docs)) :| "lmScore"
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(12)
      .withWorkers(1)
      .withInitialSeed(Seed(20261017L))
    val result = Test.check(params, prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
