package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Diagnostic: stage-level timing of jaccardPairsPrefix on the OpsScale
  * corpus — separates candidate generation from verify to localize
  * regressions. Args: [nDocs]. */
object PrefixProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val spark = graft.Sessions.local(32, "prefix-probe")
    spark.sparkContext.setLogLevel("ERROR")

    // FIXED 20k vocabulary on purpose: df grows with n — prefix filtering's
    // documented degenerate regime, which this probe exists to measure
    // (OpsScale uses the Heaps-ish df-constant variant)
    val docs = SynthCorpus.docs(spark, 0, n, vocab = 20000L)

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"[prefixprobe] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
      a
    }

    // candidate volume (the piece count() now materializes up front)
    val sets = docs.select(col("doc_id"), Dedup.tokenSetC(col("text")).as("ts"))
      .filter(size(col("ts")) > 0)
    val groups = sets.groupBy("ts")
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .withColumn("sid", element_at(col("members"), 1))
    val nGroups = t("groups_count")(groups.count())
    println(s"[prefixprobe] groups=$nGroups derivedB=${Dedup.pairBlocksFor(nGroups)}")

    // replicate the candidate join inline (private in Dedup) to time it alone
    val threshold = 0.95
    val tok = groups.select(col("sid"), explode(col("ts")).as("term"))
    val dfT = tok.groupBy("term").agg(count(lit(1)).as("df"))
    val pref = tok.join(dfT, "term")
      .groupBy("sid")
      .agg(sort_array(collect_list(struct(col("df"), col("term")))).as("dts"))
      .withColumn("len", size(col("dts")))
      .withColumn("plen",
        (col("len") + lit(1) - ceil(lit(threshold) * col("len") - lit(1e-9))).cast("int"))
      .select(col("sid"), col("len"),
        posexplode(slice(col("dts"), lit(1), col("plen"))).as(Seq("pos", "dt")))
      .select(col("sid"), col("len"), col("pos"), col("dt.term").as("term"))
    val overlapNeeded = lit(threshold / (1 + threshold)) *
      (col("x.len") + col("y.len")) - lit(1e-9)
    val cand = pref.as("x").join(pref.as("y"),
        col("x.term") === col("y.term") && col("x.sid") < col("y.sid") &&
        col("y.len") >= lit(threshold) * col("x.len") - lit(1e-9) &&
        col("x.len") >= lit(threshold) * col("y.len") - lit(1e-9) &&
        (lit(1) + least(col("x.len") - col("x.pos") - 1,
                        col("y.len") - col("y.pos") - 1)) >= overlapNeeded)
      .select(col("x.sid").as("sa"), col("y.sid").as("sb"))
      .distinct()
    val nCand = t("cand_count_unpersisted")(cand.count())
    println(s"[prefixprobe] candidates=$nCand routingB=${Dedup.routingBlocksFor(nCand)}")
    val cp = cand.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t("cand_persist_count")(cp.count())
    t("cand_cached_recount")(cp.count())
    t("verify_from_cached")(Dedup.verifyCandidatePairs(groups, cp, threshold, Some(16)).count())
    cp.unpersist()

    val full = t("jaccardPairsPrefix_total")(Dedup.jaccardPairsPrefix(docs, 0.95).count())
    println(s"[prefixprobe] pairs=$full")
    spark.stop()
  }
}
