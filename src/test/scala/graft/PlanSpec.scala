package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import graft.build.{IndexBuilder, IndexConfig}
import graft.gen.TranscriptGen

/** Physical-plan assertions — the scale contract (SURVEY.md §4): partition
  * pruning on the bucket shard column (R1), parquet filter pushdown, and a
  * docstore fetch that scans the docstore once without re-running the
  * ranking. These guard against regressions
  * that would silently turn a 40 KB-per-term read into a full index scan at
  * 100 TB. */
class PlanSpec extends SparkFunSuite {

  lazy val dir: String = {
    val d = SparkSpec.tmpDir("graft-plan")
    IndexBuilder.build(spark, TranscriptGen.turns(spark, 2000, 4).toDF(), d,
      IndexConfig(buckets = 8, chunkDocs = 512))
    d
  }

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("postings scan is bucket-partition-pruned and term-pushed") {
    val b = IndexBuilder.bucketOf("error", 8)
    val df = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket") === b && col("term") === "error" && col("field") === "text")
    df.collect() // force planning with runtime filters resolved
    val plan = executedPlan(df)
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no partition pruning in:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(term,error)"),
      s"term filter not pushed in:\n$plan")
    // only ONE bucket directory is actually read: its range partitions
    val parts = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.filePartitionIterator.map(_.values.getInt(0)).toSeq
    }
    val ranges = IndexBuilder.readManifest(spark, dir).ranges
    assert(parts.contains(Seq.fill(ranges)(b)), s"expected bucket $b's $ranges range partitions, got $parts")
  }

  test("docstore fetch pushes docId IN-filter to parquet") {
    val df = spark.read.parquet(s"$dir/docstore")
      .filter(col("docId").isin(3L, 99L, 1500L))
    val plan = executedPlan(df)
    assert(plan.contains("PushedFilters") && plan.contains("In(docId"),
      s"docId filter not pushed in:\n$plan")
  }

  test("QueryEngine.fetch plans one docstore scan: no postings re-scan, exchange or broadcast") {
    val q = graft.query.SearchQuery.of(Seq("text" -> Seq("error")), 20)
    val df = new graft.query.QueryEngine(spark, dir).fetch(q)
    assert(df.collect().nonEmpty)
    val executed = df.queryExecution.executedPlan
    val plan = executedPlan(df)
    // the hits arrive as collected pairs: the ranking (postings scan, chunk
    // shuffle, kernel) must not run again inside the fetch's own plan
    val scans = PlanSpec.collect(executed) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location.rootPaths.mkString(",")
    }
    assert(scans.length == 1 && scans.head.endsWith("docstore"), s"scans $scans in:\n$plan")
    assert(!plan.contains("postings"), s"postings scan in the fetch plan:\n$plan")
    assert(plan.contains("PushedFilters") && (plan.contains("In(docId") || plan.contains("InSet(docId")),
      s"docId filter not pushed in:\n$plan")
    val exchanges = PlanSpec.collect(executed) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.nodeName
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e.nodeName
    }
    assert(exchanges.isEmpty, s"exchanges $exchanges in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"no top-n in:\n$plan")
  }

  test("QueryEngine.topK and matchingDocIds: one RDD scan, no shuffle below top-k or sort") {
    // each chunk range's task reads its own posting files, so neither plan
    // needs an exchange, on either norms path (broadcast map or task read)
    val q = graft.query.SearchQuery.of(Seq("text" -> Seq("error", "timeout")), 20)
    def engine(normsCap: Option[String]) = {
      val prop = "graft.norms.cache.max.bytes"
      normsCap.foreach(sys.props(prop) = _)
      try new graft.query.QueryEngine(spark, dir) finally sys.props.remove(prop)
    }
    def check(df: org.apache.spark.sql.DataFrame, top: String, what: String): Unit = {
      assert(df.collect().nonEmpty, what)
      val executed = df.queryExecution.executedPlan
      val plan = executedPlan(df)
      val shuffles = PlanSpec.collect(executed) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.outputPartitioning.toString
      }
      assert(shuffles.isEmpty, s"$what: shuffles $shuffles in:\n$plan")
      val scans = PlanSpec.collect(executed) {
        case _: org.apache.spark.sql.execution.ExternalRDDScanExec[_] => "rdd"
        case _: org.apache.spark.sql.execution.FileSourceScanExec => "file"
      }
      assert(scans == Seq("rdd"), s"$what: scans $scans in:\n$plan")
      assert(plan.contains(top), s"$what: no $top in:\n$plan")
    }
    Seq("broadcast" -> engine(None), "task-side norms" -> engine(Some("0"))).foreach { case (path, e) =>
      check(e.topK(q), "TakeOrderedAndProject", s"$path topK")
      check(e.matchingDocIds(q), "Sort [docid", s"$path matchingDocIds")
    }
  }

  test("column pruning: projecting (term) reads only needed columns") {
    val df = spark.read.parquet(s"$dir/postings").select("term")
    val plan = executedPlan(df)
    assert(plan.contains("ReadSchema: struct<term:string>"),
      s"column pruning missing in:\n$plan")
  }

  test("whole-stage codegen covers the tokenize pipeline") {
    val occs = IndexBuilder.termOccs(
      spark.read.parquet(s"$dir/docstore").select("docId", "text", "role", "tool"))
    occs.collect() // execute THIS queryExecution so AQE finalizes its plan
    val plan = executedPlan(occs)
    // AQE renders codegen spans as "*(n)" stage markers
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), s"no codegen in:\n$plan")
  }

  // ---- round-2 scale-shape guards for the pair/dedup operators ----

  lazy val sfDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("exact pair operators never plan a broadcast nested-loop join") {
    // round 1 shipped the FULL table to every task via broadcast(b) + a<b;
    // the block kernels must keep these plans join-operator-free
    Seq(
      graft.ops.Dedup.jaccardPairs(sfDocs, 0.95),
      graft.ops.Dedup.ngramJaccardPairs(sfDocs, 3, 0.8),
      graft.ops.Similarity.embedDupPairs(spark, "/root/testdata/sf0.001", 0.4)
    ).foreach { df =>
      df.collect()
      val plan = executedPlan(df)
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"broadcast nested-loop reappeared in:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"cartesian product operator in:\n$plan")
    }
  }

  test("minhash LSH verify does not force-broadcast the token-set table") {
    val df = graft.ops.Dedup.minhashLsh(sfDocs, 0.95)
    df.collect()
    val plan = executedPlan(df)
    // the verify side is a cogroup of tagged streams; broadcast may appear
    // ONLY where the planner chose it for a genuinely small side (none of
    // our operators force it via broadcast() anymore)
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in:\n$plan")
    assert(plan.contains("CoGroup"), s"block-local cogroup verify missing in:\n$plan")
  }

  test("simhash near-dup block join is an equi-join (never a nested loop)") {
    val df = graft.ops.Dedup.simhashPairs(sfDocs, 3)
    df.collect()
    val plan = executedPlan(df)
    // pairs come from (block idx, block value) equi-joins — a nested loop
    // or cartesian would mean the pigeonhole keys fell out of the plan
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"non-equi pair join in:\n$plan")
  }

  test("dup-window coverage: no self-join, counts from one hash-agg on the window") {
    val df = graft.ops.TextOps.dupWindowCoverage(sfDocs, 10)
    df.collect()
    val plan = executedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"non-equi join in:\n$plan")
    // occurrence counting must be aggregation, not pairwise comparison:
    // window-keyed HashAggregates present, and only equi-joins in the plan
    assert(plan.contains("HashAggregate"), s"hash-agg missing in:\n$plan")
  }

  test("lmScore joins on the bigram/term keys; only the 1-row total broadcasts") {
    val df = graft.ops.TextOps.lmScore(
      sfDocs.where(col("doc_id") % 10 < 3), sfDocs)
    df.collect()
    val plan = executedPlan(df)
    // scoring joins key on high-cardinality (big, term) — they must stay
    // equi-joins; the only permissible nested-loop is the crossJoin with
    // the single-row corpus total
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(finalPlan).length
    assert(bnlj <= 1, s"$bnlj nested-loop joins (expected only the 1-row total) in:\n$plan")
    assert(plan.contains("HashAggregate"), s"count-agg missing in:\n$plan")
  }

  test("repetition signals are a single narrow pass: no exchange before the sort") {
    val df = graft.ops.TextOps.repetitionSignals(sfDocs)
    df.collect()
    val plan = executedPlan(df)
    // per-doc frequency maps reduce in place; the only exchange allowed is
    // the final presentation orderBy's range partitioning
    val exchanges = "Exchange".r.findAllIn(plan).size
    val ranges = "rangepartitioning".r.findAllIn(plan.toLowerCase).size
    assert(exchanges == ranges && ranges >= 1,
      s"non-sort exchange in repetitionSignals plan ($exchanges exchanges, $ranges range):\n$plan")
  }

  test("fingerprint is a single narrow pass: no exchange in the plan") {
    val df = graft.ops.TextOps.fingerprint(sfDocs)
    df.collect()
    val plan = executedPlan(df)
    // one shuffle only for the final global orderBy; the shingle/min/max
    // reduction itself must not exchange (rangepartitioning for sort is ok).
    // AQE's toString appends an "== Initial Plan ==" copy — count the final.
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val exchanges = "Exchange".r.findAllIn(finalPlan).length
    assert(exchanges <= 1, s"fingerprint plan has $exchanges exchanges:\n$plan")
  }

  test("ANN candidate join keys on the signature bucket (shuffle-safe equi-join)") {
    val df = graft.ops.Similarity.embedDupPairsAnn(spark, "/root/testdata/sf0.001", 0.4)
    df.collect()
    val plan = executedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"ANN candidate join degenerated in:\n$plan")
    assert(plan.contains("bucket"), s"bucket key missing in:\n$plan")
  }

  test("decontaminate is an equi-join on the shingle (never a nested loop)") {
    val df = graft.ops.Dedup.decontaminate(
      sfDocs.filter(col("doc_id") % 50 =!= 0),
      sfDocs.filter(col("doc_id") % 50 === 0), 5)
    df.collect()
    val plan = executedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"decontaminate join degenerated in:\n$plan")
  }

  test("curate funnel is ONE aggregation pass over one scan") {
    val df = graft.ops.Curate.funnel(sfDocs, Seq(
      "min_chars" -> (length(col("text")) >= 50),
      "min_tokens" -> (size(graft.ops.Dedup.toksC(col("text"))) >= 10)))
    // funnel() collects internally; the report frame is driver-local rows.
    // Assert the SCAN count through the aggregation: build the flagged+agg
    // plan the same way and count scans/aggregates
    val flagged = sfDocs.select(
      (length(col("text")) >= 50).as("_c0"),
      (size(graft.ops.Dedup.toksC(col("text"))) >= 10).as("_c1"))
    val agg = flagged.select((col("_c0")).as("_s0"), (col("_c0") && col("_c1")).as("_s1"))
      .agg(count(lit(1)), sum(when(col("_s0"), 1L)), sum(when(col("_s1"), 1L)))
    agg.collect()
    val plan = executedPlan(agg).split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 1, s"funnel shape scans the corpus $scans times:\n$plan")
    assert(df.collect().length == 2)
  }

  test("packSequences: one range shuffle, two streamed passes over the pinned sort") {
    val df = graft.ops.TextOps.packSequences(sfDocs, 256)
    df.collect()
    val plan = executedPlan(df)
    // the prefix-sum passes read the MATERIALIZED range-sorted intermediate
    // (eager localCheckpoint since round 5): the executed plan must scan
    // the checkpointed RDD, not re-run the range shuffle
    assert(plan.contains("Scan ExistingRDD"),
      s"pinned intermediate not reused in:\n$plan")
    assert(!plan.contains("RangePartitioning"),
      s"range shuffle re-executed downstream of the checkpoint in:\n$plan")
  }
}

/** Plan traversal that descends into adaptive plans and their query stages. */
object PlanSpec extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
