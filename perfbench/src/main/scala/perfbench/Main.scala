package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum

import graft.build.IndexBuilder
import graft.gen.TranscriptGen
import graft.ops.Dedup
import graft.query.QueryEngine
import Inputs.{Fetch, Stats => StatsOp, TopK}

/** The repository benchmark. One run sets up a seeded corpus, query stream
  * and dedup corpus, then measures the ingest, dedup and search phases (`--seconds` sizes the search
  * stream), checks every output it can against an oracle, and prints one
  * JSON result line. `--trace 1` measures with
  * spans and an engine listener on, splits each layer at its public
  * functions, and reports per-layer metrics plus the tracing overhead. See
  * README.md.
  *
  * Usage: Main --workload broad|selective --seed N --seconds S --trace 0|1
  *             --work DIR --cpus N
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), need("cpus").toInt)
    require(a.seconds >= 1 && a.cpus >= 1, "seconds and cpus must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  /** `--seconds` sizes the search phase: this many ops per second. Fixed
    * work, not a deadline, so a faster program runs the same inputs as a
    * slower one. */
  val SearchOpsPerSecond = 4
  /** Builds and dedup rounds; each batch metric is the median of the calls
    * after the first (see `warm`). */
  val Builds = 2
  val DedupRounds = 4

  def run(a: Args): Int = {
    val work = a.work.getAbsoluteFile
    def path(name: String) = new File(work, name).getPath
    Seq("corpus", "dedup-docs", "idx").foreach(d => graft.FsUtil.deleteRecursively(new File(work, d)))
    val results = new File(work, "results")
    results.mkdirs()

    // ---- set-up ----
    val spark = graft.Sessions.local(a.cpus, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    // the serving profile of graft.Bench: adaptive re-planning off for
    // interactive queries, on (the Sessions default) for builds and dedup
    val serve = spark.newSession()
    serve.conf.set("spark.sql.adaptive.enabled", "false")
    import spark.implicits._

    val steps = scala.collection.mutable.LinkedHashMap[String, Double]("session" -> Jvm.uptimeSeconds())
    def step[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f; steps(name) = (System.nanoTime() - t0) / 1e9; r
    }
    val base = Inputs.corpusBase(a.seed)
    step("corpus")(spark.range(base, base + Inputs.CorpusTurns, 1, a.cpus).map(t => TranscriptGen.turnAt(t))
      .write.parquet(path("corpus")))
    val (docs, planted) = step("dedup_docs") {
      val (docs, planted) = Inputs.dedupDocs(a.seed)
      spark.sparkContext.parallelize(docs, a.cpus).toDF("doc_id", "text").write.parquet(path("dedup-docs"))
      (docs, planted)
    }
    val (ops, warmKeys) = Inputs.stream(a.seed, a.workload, SearchOpsPerSecond * a.seconds)
    val oracle = step("oracle")(Checks.oracle(a.seed))
    // the live heap is read after a full collection at each phase boundary,
    // which also starts the ingest and dedup phases on an empty young
    // generation
    val liveHeap = scala.collection.mutable.ArrayBuffer(Jvm.liveHeapMb())
    val setupBeforeFirstOp = Jvm.uptimeSeconds()

    // ---- timed phases: ingest, dedup, then search on the index of the last build ----
    // The first call of each kind is the warm-up: it is also the first in
    // the JVM to plan, generate and compile its code, and is the slowest by
    // far. Each batch figure is the median of the later calls. An untimed
    // warm-up on other inputs did not fit the run time, and the first call
    // after a switch of phase stayed slow even after one.
    val ledger = new Ledger
    // In a traced run the listener sees every phase, the batch calls are
    // traced, and the search ops alternate between traced and plain, so
    // overhead.* (traced minus plain) compares ops under the same JVM
    // warmth and load.
    val listener = if (a.trace) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val first = new Window(a.trace, ledger, a.trace)
    val plain = new Window(false, ledger, a.trace)
    val ingest = Phases.ingest(first, spark, path("corpus"), path("idx"), Builds)
    liveHeap += Jvm.liveHeapMb()
    val dedup = Phases.dedup(first, spark, path("dedup-docs"), DedupRounds)
    liveHeap += Jvm.liveHeapMb()
    // a fresh engine with empty caches; the warm-up keys never occur in the stream
    val engine = new QueryEngine(serve, path("idx"))
    step("warm_search")(Phases.warmSearch(ledger, engine, warmKeys))
    val search1 = Phases.search(i => if (a.trace && i % 2 == 1) plain else first, engine, ops)
    liveHeap += Jvm.liveHeapMb()
    listener.foreach(spark.sparkContext.removeSparkListener)
    val setupS = setupBeforeFirstOp + steps("warm_search")
    System.err.println(s"[perfbench] setup steps: $steps")

    // ---- checks and exact counts, untimed ----
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    val idx = path("idx")
    val indexSumDf = spark.read.parquet(s"$idx/termstats").agg(sum("df")).collect()(0).getLong(0)
    val indexBytes = Seq("postings", "termstats", "norms").map(d => graft.FsUtil.dirSize(new File(idx, d))).sum
    problems ++= Checks.ingest(ingest, indexSumDf, Checks.sumDf(oracle))
    problems ++= Checks.search(a.seed, oracle, search1.recs, sampleSeed = a.seed)
    problems ++= Checks.sameRounds(dedup)

    val jac = new Checks.Jaccard(docs)
    val layer: Map[String, Double] = listener match {
      case Some(l) =>
        spark.sparkContext.addSparkListener(l)
        val (dedupProbe, lsh) = Probes.dedup(first, l, spark, path("dedup-docs"))
        problems ++= dedupCheck(dedup, docs, planted, jac, Some(lsh))
        val buildProbe = Probes.build(first, spark, path("corpus"))
        if (buildProbe("build.occ_rows").toLong != indexSumDf)
          problems += s"ingest: index sum(df) $indexSumDf != termOccs rows ${buildProbe("build.occ_rows").toLong}"
        val topKeys = search1.recs.filter(_.op.kind == TopK).map(_.op.key).distinct.take(16)
        val (tracedM, plainM) = (searchLatency(search1.recs.filter(_.traced)), searchLatency(search1.recs.filterNot(_.traced)))
        perLayer(ingest, dedup, search1, l, spark, a.cpus) ++ dedupProbe ++ buildProbe ++
          Probes.indexSizes(idx) ++ Probes.analyze(a.seed) ++ Probes.codec(spark, idx) ++
          Probes.repeats(engine, topKeys) ++ Probes.kernel(engine, topKeys) ++
          Map("dedup.planted_recall" -> Checks.plantedRecall(planted, jac, lsh)) ++
          tracedM.keys.map(k => s"overhead.$k" -> (tracedM(k) - plainM(k)))
      case None =>
        problems ++= dedupCheck(dedup, docs, planted, jac, None)
        Map.empty
    }

    val e2e = batchMetrics(ingest, dedup) ++ searchMetrics(search1) ++ Map(
      "setup_s" -> setupS,
      "peak_live_heap_mb" -> liveHeap.max,
      "ok_frac" -> (ledger.attempted - ledger.failed.size).toDouble / ledger.attempted,
      "bytes_per_posting" -> indexBytes.toDouble / indexSumDf)
    val metrics = if (a.trace) layer else e2e
    val correct = problems.isEmpty

    // ---- record, spans, result ----
    val completed = search1.recs
    val record = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "seconds" -> a.seconds,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors, "spark_cores" -> a.cpus,
        "cpus_allowed" -> Jvm.statusField("Cpus_allowed_list").getOrElse("?"),
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString),
      "sizes" -> Map("corpus_turns" -> Inputs.CorpusTurns, "dedup_docs" -> Inputs.DedupDocs,
        "planted_copies" -> planted.size, "distinct_keys" -> ops.map(_.key).distinct.size, "clients" -> Phases.Clients,
        "builds" -> ingest.seconds.size, "dedup_rounds" -> dedup.keepersS.size),
      "search" -> Map("ops_generated" -> ops.size, "ops_completed" -> completed.size,
        "tails" -> Seq(TopK, Fetch, StatsOp).map { k =>
          val t = Stats.tail(completed.filter(_.op.kind == k).map(_.seconds * 1e3))
          k.name -> Map("ms" -> t.value, "percentile" -> t.percentile, "samples" -> t.samples)
        }.toMap),
      "peak_rss_mb" -> Jvm.peakRssMb(), "live_heap_mb" -> liveHeap,
      "batch_s" -> Map("build" -> ingest.seconds, "keepers" -> dedup.keepersS, "prefix" -> dedup.prefixS),
      "setup_steps_s" -> steps,
      "end_to_end" -> e2e, "per_layer" -> layer,
      "failed_ops" -> ledger.failed, "problems" -> problems.toSeq)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    java.nio.file.Files.writeString(new File(results, s"$tag.json").toPath, record + "\n")
    if (a.trace) {
      val lines = first.tracer.all.map(s => Json.obj("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.opId))
      java.nio.file.Files.writeString(new File(results, s"spans-$tag.jsonl").toPath, lines.mkString("", "\n", "\n"))
    }
    problems.foreach(p => System.err.println(s"[perfbench] WRONG: $p"))
    println(record)
    println(Json.obj(
      "correct" -> correct, "attempted" -> ledger.attempted, "failed" -> ledger.failed.size,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Map("value" -> v, "unit" -> Units(k)) }.toMap))
    spark.stop()
    if (correct) 0 else 1
  }

  /** The full check on the last round's results (and the LSH pairs, when
    * given). Every earlier round is compared with it by Checks.sameRounds. */
  private def dedupCheck(d: Phases.DedupOut, docs: IndexedSeq[(Long, String)], planted: Seq[Inputs.Planted],
                         jac: Checks.Jaccard, lsh: Option[Array[org.apache.spark.sql.Row]]): Seq[String] =
    (d.keepers.lastOption, d.prefix.lastOption) match {
      case (Some(k), Some(p)) => Checks.dedup(docs, planted, jac, lsh, p, k)
      case _ => Seq("dedup: no successful keepers or prefix call to check")
    }

  /** Median seconds of the batch calls after the first, the warm-up. */
  def warm(seconds: Seq[Double]): Double = Stats.median(seconds.drop(1))

  /** End-to-end metrics of the batch phases. A metric without warm samples
    * throws: the calls of that kind failed, and the run aborts. */
  def batchMetrics(ingest: Phases.IngestOut, dedup: Phases.DedupOut): Map[String, Double] = Map(
    "build_turns_per_s" -> Inputs.CorpusTurns / warm(ingest.seconds),
    "dedup_lsh_docs_per_s" -> Inputs.DedupDocs / warm(dedup.keepersS),
    "dedup_exact_docs_per_s" -> Inputs.DedupDocs / warm(dedup.prefixS))

  /** Median latency of each op kind over `recs`. */
  def searchLatency(recs: Seq[Phases.Rec]): Map[String, Double] = {
    def lat(k: Inputs.Kind) = recs.filter(_.op.kind == k).map(_.seconds * 1e3)
    Map("topk_p50_ms" -> Stats.median(lat(TopK)), "fetch_p50_ms" -> Stats.median(lat(Fetch)),
      "stats_p50_ms" -> Stats.median(lat(StatsOp)))
  }

  /** End-to-end metrics of the search phase. Latencies get a median only:
    * at 27 or fewer samples of a kind a run, no percentile above p63 has 10
    * samples beyond it (the tails are in the run record). */
  def searchMetrics(o: Phases.SearchOut): Map[String, Double] =
    searchLatency(o.recs) + ("search_qps" -> o.recs.size / o.wallS)

  /** Per-layer metrics of the traced run. Build and dedup figures are per
    * build and per round; search counters are per completed op, and the
    * split of an op into calls comes from its traced half. */
  def perLayer(ingest: Phases.IngestOut, dedup: Phases.DedupOut, search: Phases.SearchOut, l: LayerListener,
               spark: SparkSession, cpus: Int): Map[String, Double] = {
    val sc = spark.sparkContext
    val b = l.get(sc, "build")
    val builds = ingest.seconds.size.toDouble
    val recs = search.recs
    val n = recs.size.toDouble
    val q = l.get(sc, "query")
    def med(kind: Inputs.Kind, part: String) =
      Stats.median(recs.filter(r => r.traced && r.op.kind == kind).map(_.parts(part) * 1e3))
    val keep = l.get(sc, "dedup.keepers")
    val pre = l.get(sc, "dedup.prefix")
    val rounds = dedup.keepersS.size.toDouble
    val dedupTaskS = (keep.taskMs + pre.taskMs) / 1e3
    Map(
      "build.total_s" -> warm(ingest.seconds),
      "build.jobs" -> b.jobs / builds, "build.stages" -> b.stages / builds,
      "build.task_s" -> b.taskMs / 1e3 / builds, "build.sched_wait_s" -> b.waitMs / 1e3 / builds,
      "build.shuffle_write_mb" -> b.shuffleWriteBytes / 1e6 / builds,
      "build.gc_s" -> ingest.gcS / builds, "build.core_util" -> b.taskMs / 1e3 / (ingest.seconds.sum * cpus),
      "query.termstats_ms" -> med(TopK, "termstats"),
      "query.plan_ms" -> med(TopK, "plan"),
      "query.exec_ms" -> med(TopK, "exec"),
      "query.fetch_plan_ms" -> med(Fetch, "fetch_plan"), "query.fetch_exec_ms" -> med(Fetch, "fetch_exec"),
      "query.count_ms" -> med(StatsOp, "count"),
      "query.jobs_per_op" -> q.jobs / n, "query.stages_per_op" -> q.stages / n, "query.tasks_per_op" -> q.tasks / n,
      "query.task_ms_per_op" -> q.taskMs / n, "query.sched_wait_ms_per_op" -> q.waitMs / n,
      "query.shuffle_kb_per_op" -> q.shuffleWriteBytes / 1e3 / n,
      "query.core_util" -> q.taskMs / 1e3 / (search.wallS * cpus), "query.gc_s" -> search.gcS,
      "dedup.prefix_s" -> warm(dedup.prefixS),
      "dedup.prefix_pairs" -> dedup.prefix.lastOption.map(_.length.toDouble).getOrElse(0.0),
      "dedup.keepers_jobs" -> keep.jobs / rounds, "dedup.prefix_jobs" -> pre.jobs / rounds,
      "dedup.prefix_stages" -> pre.stages / rounds,
      "dedup.shuffle_write_mb" -> (keep.shuffleWriteBytes + pre.shuffleWriteBytes) / 1e6 / rounds,
      "dedup.task_s" -> dedupTaskS / rounds,
      "dedup.core_util" -> dedupTaskS / ((dedup.keepersS.sum + dedup.prefixS.sum) * cpus),
      "dedup.gc_s" -> dedup.gcS / rounds)
  }

  /** Unit of every metric the benchmark prints. */
  val Units: Map[String, String] = {
    val e2e = Map("setup_s" -> "s", "peak_live_heap_mb" -> "MB", "build_turns_per_s" -> "turns/s",
      "bytes_per_posting" -> "B", "search_qps" -> "ops/s", "dedup_lsh_docs_per_s" -> "docs/s",
      "dedup_exact_docs_per_s" -> "docs/s", "topk_p50_ms" -> "ms",
      "fetch_p50_ms" -> "ms", "stats_p50_ms" -> "ms", "ok_frac" -> "ratio")
    def byName(k: String) =
      if (k.endsWith("_ms_per_op") || k.endsWith("_ms")) "ms"
      else if (k.endsWith("_kb_per_op")) "kB"
      else if (k.endsWith("_mb")) "MB"
      else if (k.endsWith("_s")) "s"
      else if (k.endsWith("_ns_per_turn") || k.endsWith("_ns_per_posting")) "ns"
      else if (k.endsWith("_ratio") || k.endsWith("_util") || k.endsWith("_recall")) "ratio"
      else "count"
    e2e.withDefault(k => if (k.startsWith("overhead.")) e2e(k.stripPrefix("overhead.")) else byName(k))
  }
}
