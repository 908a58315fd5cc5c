package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Scale probe for the sub-quadratic dedup members (diagnostic): synthesizes
  * N documents with a controlled near-dup structure (10% of docs are exact
  * pair-duplicates, so LSH/prefix candidate volume is ~N/20, not 0 and not
  * N²) and times exact / simhash / minhash-LSH / prefix-filter at 20-40x the
  * sf0.1 gate corpus. The quadratic members (jaccardPairs / ngram) are
  * intentionally absent — their cost is O(N²) by contract and their scale
  * path IS the LSH/prefix pair. Args: [nDocs] [onlySubstr,...] — the
  * optional second arg runs just the members whose name contains one of
  * the comma-separated substrings ("ivf" selects the IVF section). */
object OpsScale {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val only: Option[Set[String]] = args.lift(1).map(_.split(",").toSet)
    def wanted(name: String): Boolean = only.forall(_.exists(name.contains))
    val spark = graft.Sessions.local(32, "ops-scale")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // shared deterministic corpus (SynthCorpus scaladoc): Heaps-ish vocab
    // keeps per-token df ~400 at every n; at the historical n=200k it is
    // byte-identical to the round-3 record's corpus
    val docs = SynthCorpus.docs(spark, 0, n, SynthCorpus.heapsVocab(n))

    def t(name: String)(f: => Long): Unit = if (wanted(name)) {
      val t0 = System.nanoTime(); val rows = f
      println(f"[opsscale] $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.2fs  rows=$rows")
    }
    println(s"[opsscale] nDocs=$n derivedB=${Dedup.pairBlocksFor(n)}")
    t("dedup_exact")(Dedup.exact(docs).count())
    t("dedup_simhash")(Dedup.simhash(docs).count())
    t("dedup_simhash_near")(Dedup.simhashPairs(docs, 3).count())
    t("dedup_simhash_near_wide")(Dedup.simhashPairsWide(docs, 3).count())
    t("dedup_minhash_lsh")(Dedup.minhashLsh(docs, 0.95).count())
    t("dedup_ngram_lsh")(Dedup.ngramMinhashLsh(docs, 3, 0.8).count())
    t("dedup_jaccard_prefix")(Dedup.jaccardPairsPrefix(docs, 0.95).count())
    t("text_dup_windows")(graft.ops.TextOps.dupWindowCoverage(docs, 10)
      .agg(sum("n_dup_windows")).collect()(0).getLong(0))
    // LM score: reference slice = 30% of the corpus (the gate's split law)
    t("text_lm_score")(graft.ops.TextOps
      .lmScore(docs.where(col("doc_id") % 10 < 3), docs)
      .agg(sum("n_bigrams")).collect()(0).getLong(0))
    t("dedup_keepers")(Dedup.keepers(docs, 0.95).count())
    if (wanted("dedup_keepers"))
      println(s"[opsscale] keepers component iterations=${Dedup.lastComponentsIters}")
    // decontamination: n-doc training side vs a 10k-doc benchmark carved
    // from the same corpus (planted overlap)
    val bench = SynthCorpus.docs(spark, 0, 10000, SynthCorpus.heapsVocab(n))
      .select((col("doc_id") + n).as("doc_id"), col("text"))
    t("decontam")(Dedup.decontaminate(docs, bench, 5).count())

    if (!wanted("ivf")) { spark.stop(); return }
    // ---- IVF at scale: n vectors, k = 512 (≈ sqrt-n sizing), Lloyd x2 ----
    // 16 planted gaussian-ish clusters + per-vector jitter; the broadcast
    // kernel assigns n x k x dim distances, refine() runs two deterministic
    // mean rounds, then 5 probes measure pruned-query latency + recall@10
    // against the brute-force exact top-10 of the same vectors
    val dim = 16
    val vecs = spark.range(0, n, 1, 64)
      .select(col("id").as("vec_id"), (col("id") % 16).as("cl"))
      .select(col("vec_id"), array((0 until dim).map { d =>
        ((pmod(hash(col("cl") * dim + d), lit(200)) - 100).cast("float") +
          (pmod(hash(col("vec_id") * dim + d), lit(100)).cast("float") / 100f)).cast("float")
      }: _*).as("embedding"), (col("vec_id") % 5).cast("int").as("label"))
    val ivfDir = java.nio.file.Files.createTempDirectory("opsscale-ivf").toString
    var cents: Array[(Int, Array[Float])] = null
    t("ivf_build_k512") {
      cents = graft.ops.IvfIndex.build(spark, vecs, ivfDir, 512, lloydIters = 2)
      spark.read.parquet(ivfDir).count()
    }
    val probeIds = Seq(1L, 7L, 23L, 101L, 999L)
    val probeVecs = vecs.filter(col("vec_id").isin(probeIds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // timed section = the IVF probes ONLY; the brute-force reference ranking
    // for recall is computed outside the timer (it is the thing IVF avoids)
    val approxSets = scala.collection.mutable.Map[Long, Set[Long]]()
    t("ivf_query_x5") {
      probeIds.foreach { qid =>
        approxSets(qid) = graft.ops.IvfIndex
          .query(spark, ivfDir, cents, probeVecs(qid), 11, nprobe = 8)
          .collect().map(_.getLong(0)).filter(_ != qid).take(10).toSet
      }
      probeIds.size.toLong
    }
    // exact reference top-10 computed DISTRIBUTED per probe (collecting all
    // n embeddings to the driver is O(n) driver heap — this tool is exactly
    // the one run at large n)
    val recallSum = probeIds.map { qid =>
      val qB = spark.sparkContext.broadcast(probeVecs(qid))
      val cosU = udf { emb: Seq[Float] =>
        val q = qB.value
        var dot = 0.0; var na = 0.0; var j = 0
        while (j < q.length) {
          val x = emb(j).toDouble
          dot += x * q(j).toDouble; na += x * x; j += 1
        }
        dot / math.sqrt(na) // query norm constant per probe: rank-invariant
      }
      val exact = vecs.filter(col("vec_id") =!= qid)
        .select(col("vec_id"), cosU(col("embedding")).as("cos"))
        .orderBy(desc("cos"), asc("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      (approxSets(qid) intersect exact).size / 10.0
    }.sum
    println(f"[opsscale] ivf_recall@10        mean=${recallSum / probeIds.size}%.2f (nprobe=8/512)")
    spark.stop()
  }
}
