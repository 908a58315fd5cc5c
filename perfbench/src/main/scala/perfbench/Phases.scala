package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.build.{IndexBuilder, IndexConfig, IndexManifest}
import graft.ops.Dedup
import graft.query.{QueryEngine, SearchQuery, SearchStats}
import Inputs.{Fetch, Op, Stats => StatsOp, TopK}

/** Op accounting for the whole run. An op that throws is counted as failed,
  * named in the record, and never timed. */
final class Ledger {
  private val attemptedN = new AtomicLong(0)
  private val failures = new ConcurrentLinkedQueue[String]()

  def attempted: Long = attemptedN.get
  def failed: Seq[String] = failures.asScala.toSeq

  def attempt[A](name: String)(f: => A): Option[A] = {
    attemptedN.incrementAndGet()
    try Some(f)
    catch {
      case e: Exception =>
        failures.add(s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        System.err.println(s"[perfbench] op failed: $name")
        e.printStackTrace()
        None
    }
  }
}

/** One measured window. A traced window keeps spans and splits each op at
  * the layers' public functions; an untraced one only reads the clock.
  * With `attribute`, the engine work a phase submits is tagged for the
  * listener (a thread-local property, no timing). */
final class Window(val traced: Boolean, val ledger: Ledger, attribute: Boolean) {
  val tracer = new Tracer(traced)

  /** Attributes the engine work `f` submits from this thread to `name`. */
  def phase[A](spark: SparkSession, name: String)(f: => A): A =
    if (!attribute) f
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(LayerListener.PhaseKey)
      sc.setLocalProperty(LayerListener.PhaseKey, name)
      try f finally sc.setLocalProperty(LayerListener.PhaseKey, prev)
    }
}

object Phases {
  /** The program's default index layout. */
  val BuildConfig: IndexConfig = IndexConfig()
  val DedupThreshold = 0.8
  val Clients = 2

  // ---- ingest ----

  final case class IngestOut(seconds: Seq[Double], manifests: Seq[IndexManifest], gcS: Double)

  /** `builds` builds of the corpus parquet into `dir`, each into an emptied
    * directory; the index of the last one stays. */
  def ingest(w: Window, spark: SparkSession, corpusDir: String, dir: String, builds: Int): IngestOut =
    w.phase(spark, "build") {
      val gc0 = Jvm.gcSeconds()
      val out = (1 to builds).flatMap { i =>
        graft.FsUtil.deleteRecursively(new java.io.File(dir))
        w.ledger.attempt(s"ingest.build#$i") {
          w.tracer.span("build.build")(IndexBuilder.build(spark, spark.read.parquet(corpusDir), dir, BuildConfig))
        }
      }
      IngestOut(out.map(_._2.seconds), out.map(_._1), Jvm.gcSeconds() - gc0)
    }

  // ---- search ----

  /** One completed search op: total latency, whether it was traced, the
    * traced parts, its result. */
  final case class Rec(op: Op, seconds: Double, traced: Boolean, parts: Map[String, Double], result: AnyRef)

  final case class SearchOut(recs: Seq[Rec], wallS: Double, gcS: Double)

  /** A closed loop over all of `ops`: each of `Clients` threads takes the
    * next op of the stream and issues the following one only after this
    * one's reply. Op `i` runs in window `windowOf(i)`. */
  def search(windowOf: Int => Window, engine: QueryEngine, ops: IndexedSeq[Op]): SearchOut = {
    val spark = engine.spark
    val next = new AtomicInteger(0)
    val recs = new ConcurrentLinkedQueue[Rec]()
    val lastEnd = new AtomicLong(0)
    val gc0 = Jvm.gcSeconds()
    val t0 = System.nanoTime()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until Clients).map { c =>
      new Thread(() => try {
        var i = next.getAndIncrement()
        while (i < ops.size) {
          val op = ops(i)
          val w = windowOf(i)
          w.phase(spark, "query") {
            w.ledger.attempt(s"search.${op.kind.name}#$i")(w.tracer.span(s"search.${op.kind.name}", i)(runOp(w, engine, op)))
          }.foreach { case ((result, parts), s) =>
            recs.add(Rec(op, s.seconds, w.traced, parts, result))
            lastEnd.accumulateAndGet(s.endNs, math.max(_, _))
          }
          i = next.getAndIncrement()
        }
      } catch { case e: Throwable => errors.add(e) }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    val wall = (math.max(lastEnd.get, t0) - t0) / 1e9
    SearchOut(recs.asScala.toSeq.sortBy(_.op.index), wall, Jvm.gcSeconds() - gc0)
  }

  /** An op's result and, when traced, the seconds of each public call it made. */
  private def runOp(w: Window, engine: QueryEngine, op: Op): (AnyRef, Map[String, Double]) = {
    val q = op.key
    val t = w.tracer
    op.kind match {
      case TopK if w.traced =>
        val (_, ts) = t.span("query.termstats", op.index)(engine.termStatsOf(q))
        val (df, plan) = t.span("query.plan", op.index)(engine.topK(q))
        val (rows, exec) = t.span("query.exec", op.index)(df.collect())
        (hits(rows), Map("termstats" -> ts.seconds, "plan" -> plan.seconds, "exec" -> exec.seconds))
      case TopK => (hits(engine.topK(q).collect()), Map.empty)
      case Fetch =>
        val (df, plan) = t.span("query.fetch_plan", op.index)(engine.fetch(q))
        val (rows, exec) = t.span("query.fetch_exec", op.index)(df.collect())
        (rows, Map("fetch_plan" -> plan.seconds, "fetch_exec" -> exec.seconds))
      case StatsOp =>
        val (st, s) = t.span("query.count", op.index)(engine.searchStats(q))
        (st, Map("count" -> s.seconds))
    }
  }

  def hits(rows: Array[Row]): Array[(Long, Double)] = rows.map(r => (r.getLong(0), r.getDouble(1)))

  /** Untimed warm-up: every op kind once per warm-up key. A warm-up op that
    * throws is counted as failed like any other. */
  def warmSearch(ledger: Ledger, engine: QueryEngine, keys: Seq[SearchQuery]): Unit = keys.foreach { q =>
    ledger.attempt("warmup.topk")(engine.topK(q).collect())
    ledger.attempt("warmup.fetch")(engine.fetch(q).collect())
    ledger.attempt("warmup.stats")(engine.searchStats(q): SearchStats)
  }

  // ---- dedup ----

  final case class DedupOut(keepersS: Seq[Double], prefixS: Seq[Double],
                            keepers: Seq[Array[Row]], prefix: Seq[Array[Row]], gcS: Double)

  /** `rounds` rounds of one `Dedup.keepers` then one
    * `Dedup.jaccardPairsPrefix` over the same documents, each result
    * collected to the driver. */
  def dedup(w: Window, spark: SparkSession, docsDir: String, rounds: Int): DedupOut = {
    val gc0 = Jvm.gcSeconds()
    def call(name: String)(f: => Array[Row]): Option[(Array[Row], Span)] =
      w.phase(spark, name)(w.ledger.attempt(name)(w.tracer.span(name)(f)))
    val results = (1 to rounds).map { _ =>
      val keepers = call("dedup.keepers")(Dedup.keepers(spark.read.parquet(docsDir), DedupThreshold).collect())
      val prefix = call("dedup.prefix")(Dedup.jaccardPairsPrefix(spark.read.parquet(docsDir), DedupThreshold).collect())
      (keepers, prefix)
    }
    val (keepers, prefix) = (results.flatMap(_._1), results.flatMap(_._2))
    DedupOut(keepers.map(_._2.seconds), prefix.map(_._2.seconds), keepers.map(_._1), prefix.map(_._1),
      Jvm.gcSeconds() - gc0)
  }
}
