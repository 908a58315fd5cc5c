package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyze.Analyzers
import graft.build.IndexBuilder
import graft.codec.PostingCodec

/** A parsed search: ordered unique (field, term) pairs ANDed together —
  * the reference's `keywords{field: "tok1\ttok2..."}` request surface
  * (service/searcher/module/poseidon.go:61-106, docs/get_started.md:139-158)
  * — plus top-k size `k >= 0` (`k = 0` is a legal, empty top-k). Scoring
  * sums per-term BM25 contributions in the pairs' order (FP-stable vs the
  * oracle).
  */
final case class SearchQuery(terms: Seq[(String, String)], k: Int) {
  require(k >= 0, s"SearchQuery k must be >= 0, got k=$k")
}

object SearchQuery {
  /** Build from a field->tokens map. Each keyword is run through the field's
    * own analyzer (so a query token matches index terms — the reference
    * likewise lowercases/normalizes query tokens with the index-side rules,
    * inverted_index_gz_client.go:39-45) and may expand to several ANDed
    * terms (e.g. `needle-000002` -> `needle` AND `000002`). Duplicates are
    * dropped, first-occurrence order preserved (scoring order).
    */
  def of(keywords: Seq[(String, Seq[String])], k: Int): SearchQuery =
    of(keywords, k, Analyzers.byField)

  /** Analyzer-aware variant for custom-field indexes: the SAME field chains
    * that built the index normalize/expand the query keywords. */
  def of(keywords: Seq[(String, Seq[String])], k: Int,
         analyzers: Map[String, graft.analyze.Analyzer]): SearchQuery = {
    val seen = scala.collection.mutable.LinkedHashSet[(String, String)]()
    keywords.foreach { case (f, ts) =>
      val analyzer = analyzers.getOrElse(f, graft.analyze.KeywordAnalyzer)
      ts.foreach { t =>
        val expanded = analyzer.tokens(Analyzers.normalizeQueryTerm(t))
        expanded.foreach(term => seen += ((f, term)))
      }
    }
    SearchQuery(seen.toSeq, k)
  }
}

/** pv/uv/total per the reference's response stats (module/poseidon.go:125-131):
  * single keyword -> header (pv, uv); multi -> |intersection| for all three. */
final case class SearchStats(total: Long, pv: Long, uv: Long)

/** Distributed BM25 top-k over the chunked/bucketed posting table.
  *
  * Query DAG (SURVEY.md §3.2 rebuild):
  *   termstats lookup (bucket partition-pruned, tiny)            — job 1
  *   postings scan (bucket-pruned, term-filtered)                 \
  *     -> shuffle by chunk (only the query terms' postings move)   } job 2
  *     -> per-chunk conjunctive DAAT + block-max skip -> local k  /
  *     -> global top-k (TakeOrderedAndProject tree-reduce)
  *   docstore fetch: docId IN (collected hits) pushdown + score    — job 3
  *     looked up from the collected pairs; one scan, no exchange
  *
  * Replaces the reference's searcher/meta/hdfsreader HTTP fan-out
  * (inverted_index_gz_client.go:152-202, doc_gz_client.go:118-232) with
  * at most two exchanges (one in the serving fast path, none in the fetch).
  */
class QueryEngine(val spark: SparkSession, val dir: String) extends Serializable {

  val manifest = IndexBuilder.readManifest(spark, dir)
  require(manifest.buildId.startsWith(s"build-v${IndexBuilder.LayoutVersion}-"),
    s"index at $dir has layout '${manifest.buildId}', this reader needs " +
      s"layout v${IndexBuilder.LayoutVersion} — rebuild the index")

  // lazy vals: parquet file listings + schema inference happen once per
  // engine, not once per query (repeated interactive queries hit the cached
  // relation; partition pruning still applies per filter)
  private lazy val postings: DataFrame = spark.read.parquet(s"$dir/postings")
  private lazy val termstats: DataFrame = spark.read.parquet(s"$dir/termstats")
  private lazy val norms: DataFrame = spark.read.parquet(s"$dir/norms")
  lazy val docstore: DataFrame = spark.read.parquet(s"$dir/docstore")

  // driver-side term-dictionary cache: repeated queries skip the stats job
  // entirely (absent terms cached as None). The analog of the reference
  // searcher's meta multiget being fronted by memcached (S10). Bounded like
  // planCache (entries are tiny, but a long-lived engine fed adversarial
  // vocabulary should not grow without limit).
  private val StatsCacheMaxEntries = 1 << 20
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Option[(Long, Long)]]()

  // prepared-plan cache: a repeated interactive query (the dominant serving
  // pattern; the reference fronts its searcher with memcached the same way)
  // reuses the analyzed+planned Dataset — Dataset construction and Catalyst
  // planning are ~40% of the interactive floor (measured 70-110 ms of
  // ~250 ms). Valid because the index is immutable per engine and plans are
  // deterministic in (terms, k). Entry = one plan tree (KBs — the heavy
  // norms LocalRelation is SHARED across plans via normsDsCache below, not
  // re-encoded per entry). Bounded: cleared wholesale at the cap (plans
  // rebuild in ~10 ms; an LRU would buy nothing at this entry cost).
  private val PlanCacheMaxEntries = 1024
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[(Seq[(String, String)], Int), DataFrame]()

  // prepared-plan cache for the SCORE-ALL shape (fetchFiltered's candidate
  // scoring; k-independent), same validity argument and normsGen guard as
  // planCache. Kept separate so topK's (terms, k) keyspace and this
  // (terms)-keyed one cannot evict each other at their different rates.
  private val scoreAllCache =
    new java.util.concurrent.ConcurrentHashMap[Seq[(String, String)], DataFrame]()

  // memoized matchCount RESULTS: the index is immutable per engine, so the
  // AND-intersection count is a pure function of the term set — repeated
  // pv/uv stats queries (as interactive as top-k; the reference fronts its
  // stats multiget with memcached the same way) become a map hit instead of
  // a kernel job. Values are longs — they pin no norms generation, so no
  // normsGen interplay. Bounded like statsCache.
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[Seq[(String, String)], java.lang.Long]()

  // one encoded norms LocalRelation per queried FIELD SET (not per query):
  // createDataset eagerly encodes the blobs into the plan's LocalRelation,
  // so without this every planCache entry would hold its own copy of the
  // norms sidecar (up to NormsCacheMaxBytes each — a driver-heap leak).
  // Keyed on the SORTED field list (query order must not mint new entries)
  // and bounded like the sibling caches — entries are heavy.
  private val NormsDsCacheMaxEntries = 64
  private val normsDsCache =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], DataFrame]()
  // bumped on every norms-cache clear: an in-flight topK that built its plan
  // against a since-evicted norms generation must not insert it into
  // planCache (the plan would pin the stale copy alongside the rebuilt one)
  private val normsGen = new java.util.concurrent.atomic.AtomicLong()
  // guards the two short norms-generation critical sections (evict+bump in
  // normsDs, gen-recheck+insert in topK) so an eviction cannot land BETWEEN
  // a stale-gen check and the plan insert — without it a plan built against
  // an evicted norms copy could still enter planCache and pin that copy
  // (memory retention only, but why carry the race). Never held across a
  // Spark job — both sections are local map ops.
  private val cacheLock = new Object

  /** Serving fast path for the norms sidecar: when it is small (interactive-
    * scale index), collect it once per engine and inject the query fields'
    * rows as a LOCAL relation into the chunk shuffle — this removes a second
    * postings scan, a distinct aggregation (2 exchanges) and a broadcast
    * join from EVERY query (measured ~80 ms of the ~250 ms interactive
    * floor). Above the size cap (or on non-local storage) the distributed
    * semi-join path below keeps the 100 TB shape: norms pruned to chunks
    * that actually hold postings, shipped through the same shuffle. */
  private val NormsCacheMaxBytes = // sys-prop override so specs cover BOTH paths
    sys.props.get("graft.norms.cache.max.bytes").map(_.toLong).getOrElse(64L << 20)
  private lazy val normsLocal: Option[Map[String, Seq[(String, String, Long, Array[Byte])]]] = {
    val normsDir = new java.io.File(dir, "norms")
    // non-local paths (hdfs:// etc.) fail exists() -> distributed path
    if (!normsDir.exists() || graft.FsUtil.dirSize(normsDir) > NormsCacheMaxBytes) None
    else Some(norms.select("field", "chunk", "blob").collect()
      .map(r => (r.getString(0), QueryKernel.NormsTerm, r.getLong(1), r.getAs[Array[Byte]](2)))
      .toSeq.groupBy(_._1))
  }

  /** (df, pv) per query term; terms absent from the corpus are omitted. */
  def termStatsOf(q: SearchQuery): Map[(String, String), (Long, Long)] = {
    if (q.terms.isEmpty) return Map.empty
    // snapshot cached values FIRST: the result below assembles from local
    // data only, so a concurrent (or our own) cache clear between the put
    // and a read-back can never null out a term mid-query
    val cached = q.terms.flatMap(k => Option(statsCache.get(k)).map(k -> _)).toMap
    val missing = q.terms.filterNot(cached.contains).distinct
    val found: Map[(String, String), (Long, Long)] =
      if (missing.isEmpty) Map.empty
      else {
        val buckets = missing.map { case (_, t) => IndexBuilder.bucketOf(t, manifest.buckets) }.distinct
        val cond = missing.map { case (f, t) => col("field") === f && col("term") === t }.reduce(_ || _)
        val f = termstats
          .filter(col("bucket").isin(buckets: _*) && cond)
          .select("field", "term", "df", "pv")
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
          .toMap
        if (statsCache.size + missing.size > StatsCacheMaxEntries) statsCache.clear()
        missing.foreach(k => statsCache.put(k, f.get(k)))
        f
      }
    val all: Map[(String, String), Option[(Long, Long)]] =
      cached ++ missing.map(k => k -> found.get(k))
    q.terms.flatMap(k => all(k).map(v => k -> v)).toMap
  }

  /** Top-k (docId, score), exact BM25 over the AND intersection. */
  def topK(q: SearchQuery): DataFrame = {
    val key = (q.terms, q.k)
    val hit = planCache.get(key)
    if (hit != null) return hit
    // build OUTSIDE the map: planning runs a termstats Spark job, and a
    // computeIfAbsent mapping that long would serialize unrelated queries
    // hashing to the same bin (CHM requires short mappings). A concurrent
    // duplicate build is harmless — putIfAbsent keeps the first. The plan
    // is only cached if no norms-cache clear happened while building (else
    // it pins an evicted norms generation; see normsGen).
    val gen = normsGen.get()
    val df = topKUncached(q)
    cacheLock.synchronized {
      if (normsGen.get() != gen) return df
      if (planCache.size >= PlanCacheMaxEntries) planCache.clear()
      val prev = planCache.putIfAbsent(key, df)
      if (prev != null) prev else df
    }
  }

  /** The cache-miss path of [[topK]] — also the honest target for latency
    * diagnostics (tools.LatProbe), which must measure construction and
    * planning, not a map lookup. */
  private[graft] def topKUncached(q: SearchQuery): DataFrame = {
    import spark.implicits._
    candidates(q, q.k)
      .toDF("docId", "score")
      .orderBy(desc("score"), asc("docId"))
      .limit(q.k)
  }

  /** Paged ranked hits — the reference's pagination (O4,
    * module/poseidon.go:134-143 slices [page*size, ...) of the ordered id
    * list; here the slice applies to the BM25 ranking). Requires
    * `pageNumber >= 0`, `pageSize > 0` and `(pageNumber + 1) * pageSize` to
    * fit an Int. */
  def topKPage(q: SearchQuery, pageNumber: Int, pageSize: Int): DataFrame = {
    require(pageNumber >= 0, s"topKPage pageNumber must be >= 0, got pageNumber=$pageNumber")
    require(pageSize > 0, s"topKPage pageSize must be > 0, got pageSize=$pageSize")
    val upto = (pageNumber + 1).toLong * pageSize
    require(upto <= Int.MaxValue,
      s"topKPage (pageNumber + 1) * pageSize must fit an Int, got pageNumber=$pageNumber pageSize=$pageSize")
    topK(q.copy(k = upto.toInt)).offset(pageNumber * pageSize)
  }

  /** Reference stats semantics. */
  def searchStats(q: SearchQuery): SearchStats = {
    val ts = termStatsOf(q)
    if (q.terms.exists(t => !ts.contains(t))) return SearchStats(0, 0, 0)
    if (q.terms.size == 1) {
      val (df, pv) = ts(q.terms.head)
      SearchStats(df, pv, df)
    } else {
      val total = matchCount(q) // count-only kernel: no scoring, norms, or heap
      SearchStats(total, total, total)
    }
  }

  /** Top-k joined back to the docstore — the J3 hits×docstore join
    * (doc_gz_client.go:171-232): each hit's stored row is read once, after
    * ranking. The ranking runs once, in the collect of [[topK]]; the docstore
    * query then carries the collected (docId, score) pairs as driver-local
    * data — a `docId IN (ids)` parquet pushdown plus a per-row score lookup
    * from a map literal — and plans as one scan under TakeOrderedAndProject
    * (no exchange, no broadcast, no second ranking). Scores are the collected
    * doubles, so they equal topK's bit for bit. Output columns: `docId`, the
    * other docstore columns, `score`; `text` is returned verbatim (per-turn
    * text equality invariant). */
  def fetch(q: SearchQuery): DataFrame = {
    val rows = topK(q).collect() // k rows only
    val cols = col("docId") +: docstore.columns.filterNot(_ == "docId").map(col) :+ col("score")
    if (rows.isEmpty) // schema-stable empty result, same column order
      return docstore.limit(0).withColumn("score", lit(0.0)).select(cols: _*)
    val scoreOf = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    docstore
      .filter(col("docId").isin(scoreOf.keys.toSeq: _*)) // parquet min/max pruning (sorted col)
      .withColumn("score", element_at(typedLit(scoreOf), col("docId")))
      .select(cols: _*)
      .orderBy(desc("score"), asc("docId"))
      .limit(rows.length)
  }

  /** Result post-filter — the reference's `req.filter` surface
    * (service/searcher/module/poseidon.go:180-215; its own implementation is
    * vestigial — the filter list is always empty — and it filters AFTER
    * pagination, which can under-fill pages). Here the predicate evaluates
    * against the docstore row and applies BELOW the top-k cut: all candidates
    * are scored exactly, joined to their stored fields, filtered, then cut —
    * pages always fill while scores stay exact. The docstore join is
    * planner-chosen (broadcast only when the hit set is actually small). */
  def fetchFiltered(q: SearchQuery, predicate: org.apache.spark.sql.Column): DataFrame = {
    // the scoring subtree is the expensive plan (chunk shuffle + norms
    // injection) and is k- and predicate-independent — cache it; the
    // per-call join/filter/limit on top is cheap to re-plan
    val hit = scoreAllCache.get(q.terms)
    val scored = if (hit != null) hit else {
      val gen = normsGen.get()
      val df = scoreAll(q)
      cacheLock.synchronized {
        if (normsGen.get() != gen) df
        else {
          if (scoreAllCache.size >= PlanCacheMaxEntries) scoreAllCache.clear()
          val prev = scoreAllCache.putIfAbsent(q.terms, df)
          if (prev != null) prev else df
        }
      }
    }
    scored
      .join(docstore, Seq("docId"))
      .filter(predicate)
      .orderBy(desc("score"), asc("docId"))
      .limit(q.k)
  }

  /** Count of the AND intersection — the reference's pv/uv stats path needs
    * only a count, so this skips scoring, norms, and the top-k heap entirely
    * (a count-only kernel instead of candidates(q, MaxValue)). */
  def matchCount(q: SearchQuery): Long = {
    import spark.implicits._
    val memo = countCache.get(q.terms)
    if (memo != null) return memo.longValue()
    val ts = termStatsOf(q)
    if (q.terms.isEmpty || q.terms.exists(t => !ts.contains(t))) return 0L
    if (q.terms.size == 1) return ts(q.terms.head)._1 // df IS the count

    val buckets = q.terms.map { case (_, t) => IndexBuilder.bucketOf(t, manifest.buckets) }.distinct
    val cond = q.terms.map { case (f, t) => col("field") === f && col("term") === t }.reduce(_ || _)
    val rows = postings
      .filter(col("bucket").isin(buckets: _*) && cond)
      .select(col("field"), col("term"), col("chunk"), col("blob"))
      .as[(String, String, Long, Array[Byte])]
    val terms = q.terms.toArray
    val numChunks = math.max(1L, (manifest.numDocs + manifest.chunkDocs - 1) / manifest.chunkDocs)
    val p = math.min(numChunks, spark.sessionState.conf.numShufflePartitions.toLong).toInt
    val total = rows
      .repartition(p, col("chunk"))
      .sortWithinPartitions("chunk")
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Long] {
          def hasNext: Boolean = buf.hasNext
          def next(): Long = {
            val chunk = buf.head._3
            val group = scala.collection.mutable.ArrayBuffer[(String, String, Array[Byte])]()
            while (buf.hasNext && buf.head._3 == chunk) {
              val r = buf.next(); group += ((r._1, r._2, r._4))
            }
            QueryKernel.countChunk(terms, group.toSeq)
          }
        }
      }
      .toDF("n").agg(sum("n")).collect()(0).getLong(0)
    if (countCache.size >= StatsCacheMaxEntries) countCache.clear()
    countCache.put(q.terms, total)
    total
  }

  /** All docIds matching the AND conjunction, ascending (the reference's
    * unranked result order, doc_gz_client.go:101-103). */
  def matchingDocIds(q: SearchQuery): DataFrame = {
    import spark.implicits._
    candidates(q, Int.MaxValue).map(_._1).toDF("docid").orderBy("docid")
  }

  /** Exact BM25 scores for EVERY matching doc (no top-k cut). */
  def scoreAll(q: SearchQuery): DataFrame = {
    import spark.implicits._
    candidates(q, Int.MaxValue).toDF("docId", "score")
  }

  /** Uncached profiled top-k: the exact topKUncached plan run with kernel
    * accumulators registered, returning (hits, counters). Bypasses the plan
    * cache on purpose — an accumulator is per-query state a cached plan must
    * not pin — so this is a diagnostic surface (SearchCli explain), not the
    * serving path. */
  def topKProfiled(q: SearchQuery): (Array[(Long, Double)], Map[String, Long]) = {
    import spark.implicits._
    val tel = QueryKernel.KernelTelemetry.register(spark)
    val hits = candidates(q, q.k, tel)
      .toDF("docId", "score")
      .orderBy(desc("score"), asc("docId"))
      .limit(q.k)
      .as[(Long, Double)]
      .collect()
    (hits, tel.snapshot)
  }

  /** Per-chunk conjunctive scoring; emits up to `localK` best per chunk. */
  private[graft] def candidates(q: SearchQuery, localK: Int,
                                tel: QueryKernel.KernelTelemetry = null): Dataset[(Long, Double)] = {
    import spark.implicits._
    val ts = termStatsOf(q)
    if (q.terms.isEmpty || q.terms.exists(t => !ts.contains(t)))
      return spark.emptyDataset[(Long, Double)]

    val buckets = q.terms.map { case (_, t) => IndexBuilder.bucketOf(t, manifest.buckets) }.distinct
    val cond = q.terms.map { case (f, t) => col("field") === f && col("term") === t }.reduce(_ || _)
    val prows = postings
      .filter(col("bucket").isin(buckets: _*) && cond)
      .select(col("field"), col("term"), col("chunk"), col("blob"))
    // norms for the query fields ride the same chunk shuffle under a
    // sentinel term: injected as a LOCAL relation when the sidecar is
    // driver-cached (interactive fast path — no scan/join stages), else
    // pruned to chunks that actually have postings via a semi-join on a
    // tiny distinct set (the distributed 100 TB path)
    val fields = q.terms.map(_._1).distinct
    val nrows = normsLocal match {
      case Some(byField) =>
        val nkey = fields.sorted
        val nhit = normsDsCache.get(nkey)
        if (nhit != null) nhit
        else {
          // clear only when INSERTING at the cap (a hit must not wipe the
          // cache), and clear planCache with it — cached plans pin evicted
          // norms LocalRelations, so evicting one without the other frees
          // nothing and can retain multiple generations of the same copy
          if (normsDsCache.size >= NormsDsCacheMaxEntries) cacheLock.synchronized {
            normsDsCache.clear(); planCache.clear(); scoreAllCache.clear()
            normsGen.incrementAndGet()
          }
          normsDsCache.computeIfAbsent(nkey, fs => // pure local encode, no job
            spark.createDataset(fs.flatMap(f => byField.getOrElse(f, Seq.empty)))
              .toDF("field", "term", "chunk", "blob"))
        }
      case None =>
        norms
          .filter(col("field").isin(fields: _*))
          .join(prows.select("chunk").distinct(), Seq("chunk"), "left_semi")
          .select(col("field"), lit(QueryKernel.NormsTerm).as("term"), col("chunk"), col("blob"))
    }
    val rows = prows.unionAll(nrows)
      .as[(String, String, Long, Array[Byte])]

    val terms = q.terms.toArray
    val idfs = terms.map { case (f, t) => Bm25.idf(manifest.numDocs, ts((f, t))._1) }
    val avgdls = terms.map { case (f, _) => manifest.avgdl(f) }
    val kLocal = localK
    val telLocal = tel

    // shuffle sized to the REAL key space: the chunk count is known from the
    // manifest, so a short query over a small index runs 1-2 tasks instead
    // of spark.sql.shuffle.partitions mostly-empty ones (measured ~1.5x
    // lower latency); at scale this saturates at the session parallelism.
    val chunkDocsL = manifest.chunkDocs
    val numChunks = math.max(1L, (manifest.numDocs + manifest.chunkDocs - 1) / manifest.chunkDocs)
    val p = math.min(numChunks, spark.sessionState.conf.numShufflePartitions.toLong).toInt
    rows
      .repartition(p, col("chunk"))
      .sortWithinPartitions("chunk")
      .mapPartitions { it =>
        // stream consecutive same-chunk runs into the kernel
        val buf = it.buffered
        new Iterator[Iterator[(Long, Double)]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Iterator[(Long, Double)] = {
            val chunk = buf.head._3
            val group = scala.collection.mutable.ArrayBuffer[(String, String, Long, Array[Byte])]()
            while (buf.hasNext && buf.head._3 == chunk) group += buf.next()
            QueryKernel.scoreChunk(terms, idfs, avgdls, chunk * chunkDocsL, kLocal,
              group.iterator, telLocal)
          }
        }.flatten
      }
  }
}

/** Multi-day scatter/gather — the reference proxy's fan-out
  * (service/proxy/module/proxy.go:79-146 spawns one searcher per day and
  * concatenates results, J4). Each day is an independent index partition
  * (daily epoch, T5); here the per-day candidates are additionally re-ranked
  * globally by score (the reference concatenates unranked day results — with
  * BM25 in play a global order is strictly more useful; per-day idf/avgdl
  * stay day-local exactly like the reference's per-day indexes).
  */
class MultiDayEngine(spark: SparkSession, dayDirs: Seq[(String, String)]) {
  import org.apache.spark.sql.functions.{lit, desc, asc}
  val engines: Seq[(String, QueryEngine)] =
    dayDirs.map { case (day, d) => day -> new QueryEngine(spark, d) }

  def topK(q: SearchQuery): DataFrame =
    engines.map { case (day, e) =>
      e.topK(q).withColumn("day", lit(day))
    }.reduce(_ unionAll _)
      .orderBy(desc("score"), asc("day"), asc("docId"))
      .limit(q.k)

  def searchStats(q: SearchQuery): SearchStats =
    engines.map(_._2.searchStats(q))
      .reduce((a, b) => SearchStats(a.total + b.total, a.pv + b.pv, a.uv + b.uv))
}

/** The per-chunk scoring kernel — runs inside executors (mapGroups), plain
  * Scala over posting cursors; deliberately outside codegen (SURVEY.md §4 R12).
  */
object QueryKernel extends Serializable {

  /** Per-query kernel counters (Spark accumulators — merged driver-side
    * across chunk tasks): the measurable form of the block-max benefit.
    * `postingsSkipped`/`blocksSkipped` count entries/blocks bypassed
    * UNDECODED (block-max pruning + conjunction alignment jumps);
    * `docsScored` counts candidates that reached the BM25 scorer. */
  final case class KernelTelemetry(
      docsScored: org.apache.spark.util.LongAccumulator,
      postingsDecoded: org.apache.spark.util.LongAccumulator,
      postingsSkipped: org.apache.spark.util.LongAccumulator,
      blocksSkipped: org.apache.spark.util.LongAccumulator) extends Serializable {
    def snapshot: Map[String, Long] = Map(
      "docs_scored" -> docsScored.value,
      "postings_decoded" -> postingsDecoded.value,
      "postings_skipped" -> postingsSkipped.value,
      "blocks_skipped" -> blocksSkipped.value)
  }

  object KernelTelemetry {
    def register(spark: SparkSession): KernelTelemetry = KernelTelemetry(
      spark.sparkContext.longAccumulator("graft.kernel.docsScored"),
      spark.sparkContext.longAccumulator("graft.kernel.postingsDecoded"),
      spark.sparkContext.longAccumulator("graft.kernel.postingsSkipped"),
      spark.sparkContext.longAccumulator("graft.kernel.blocksSkipped"))
  }

  /** Sentinel term carrying a chunk's norms blob through the shuffle. */
  val NormsTerm = "\u0000norms"

  /** Count the conjunction within one chunk — no scoring, no dl, no heap.
    * Cursor walk identical to scoreChunk's alignment (driver = rarest). */
  def countChunk(terms: Array[(String, String)],
                 group: Seq[(String, String, Array[Byte])]): Long = {
    val blobs = scala.collection.mutable.HashMap[(String, String), Array[Byte]]()
    group.foreach { case (f, t, b) => blobs((f, t)) = b }
    if (terms.exists(t => !blobs.contains(t))) return 0L
    val nT = terms.length
    val cursors = Array.tabulate(nT)(i => new PostingCodec.Cursor(blobs(terms(i))))
    if (nT == 1) return cursors(0).numPostings.toLong
    val order = Array.range(0, nT).sortBy(i => cursors(i).numPostings)
    val drv = cursors(order(0))
    var n = 0L
    var alive = drv.advance()
    var i2 = 1
    while (alive && i2 < nT) { alive = cursors(order(i2)).advance(); i2 += 1 }
    while (alive) {
      val target = drv.docId
      var bumped = false
      var j = 1
      while (alive && j < nT && !bumped) {
        val c = cursors(order(j))
        if (!c.advanceTo(target)) alive = false
        else if (c.docId > target) {
          if (!drv.advanceTo(c.docId)) alive = false
          bumped = true
        }
        j += 1
      }
      if (alive && !bumped) {
        n += 1
        alive = drv.advance()
      }
    }
    n
  }


  /** Conjunctive document-at-a-time traversal with block-max skipping.
    *
    * The driver cursor is the rarest term (fewest postings in this chunk,
    * like the reference starting from the smallest DocItemList in
    * DocIdIntersect, doc_gz_client.go:73-104). When the heap holds k results,
    * a driver block whose upper bound (its block-max + the other terms'
    * static score ceilings idf*(k1+1)) cannot beat the current kth score is
    * skipped without decoding — block-max WAND; exact because the bound is
    * conservative and within a chunk later candidates have larger docIds (tie
    * order score desc / docId asc preserved).
    */
  def scoreChunk(
      terms: Array[(String, String)],
      idfs: Array[Double],
      avgdls: Array[Double],
      baseDocId: Long,
      k: Int,
      it: Iterator[(String, String, Long, Array[Byte])],
      tel: KernelTelemetry = null): Iterator[(Long, Double)] = {

    if (k <= 0) return Iterator.empty // k=0 top-k is legitimately empty

    val blobs = scala.collection.mutable.HashMap[(String, String), Array[Byte]]()
    val normBlobs = scala.collection.mutable.HashMap[String, Array[Byte]]()
    it.foreach { case (f, t, _, b) =>
      if (t == NormsTerm) normBlobs(f) = b else blobs((f, t)) = b
    }
    // AND: every query term must exist in this chunk
    if (terms.exists(t => !blobs.contains(t))) return Iterator.empty

    val dlOfField: Map[String, Long => Int] = terms.map(_._1).distinct.map { f =>
      val blob = normBlobs.getOrElse(f,
        throw new IllegalStateException(s"norms missing for field $f in chunk base $baseDocId"))
      f -> PostingCodec.dlLookup(PostingCodec.decodeNorms(blob), baseDocId)
    }.toMap

    val nT = terms.length
    val cursors = Array.tabulate(nT)(i => new PostingCodec.Cursor(blobs(terms(i)), dlOfField(terms(i)._1)))
    val order = Array.range(0, nT).sortBy(i => cursors(i).numPostings)
    val drv = cursors(order(0))
    val drvIdx = order(0)
    // static ceilings for the non-driver terms (tfNorm < k1+1 always)
    var othersCeil = 0.0
    var oi = 1
    while (oi < nT) { othersCeil += idfs(order(oi)) * (Bm25.K1 + 1.0); oi += 1 }

    // heap head = current worst of the top-k: lowest score, tie -> larger docId
    // (PriorityQueue dequeues the ordering's max, so "worst" must rank highest)
    implicit val ord: Ordering[(Long, Double)] =
      Ordering.by[(Long, Double), (Double, Long)] { case (d, s) => (-s, d) }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord)

    var docsScored = 0L
    var alive = drv.advance()
    var i2 = 1
    while (alive && i2 < nT) { alive = cursors(order(i2)).advance(); i2 += 1 }

    while (alive) {
      // block-max skip on the driver
      if (heap.size >= k && k != Int.MaxValue) {
        val threshold = heap.head._2
        var skipped = true
        while (alive && skipped) {
          if (drv.blockMaxScore + othersCeil <= threshold) {
            val lastBefore = drv.blockLastDocId
            alive = drv.advanceTo(lastBefore + 1)
            // no-progress guard: on a corrupt blob (entry docIds beyond the
            // block's recorded last) advanceTo can return true in place —
            // fail loudly instead of spinning forever
            if (alive && drv.blockLastDocId <= lastBefore)
              throw new IllegalStateException(
                s"corrupt posting block: lastDocId $lastBefore did not advance (docId=${drv.docId})")
          } else skipped = false
        }
      }
      if (alive) {
        // align all cursors on drv.docId (conjunction)
        val target = drv.docId
        var aligned = true
        var j = 1
        var bumped = false
        while (alive && j < nT && !bumped) {
          val c = cursors(order(j))
          if (!c.advanceTo(target)) { alive = false }
          else if (c.docId > target) {
            // driver must catch up; restart alignment
            if (!drv.advanceTo(c.docId)) alive = false
            bumped = true
          }
          j += 1
        }
        aligned = alive && !bumped
        if (aligned) {
          // score in QUERY-TERM order (FP-identical to the oracle)
          var s = 0.0
          var qi = 0
          while (qi < nT) {
            val c = cursors(qi)
            s += idfs(qi) * Bm25.tfNorm(c.tf, c.dl, avgdls(qi))
            qi += 1
          }
          docsScored += 1
          if (k == Int.MaxValue) heap.enqueue((target, s))
          else if (heap.size < k) heap.enqueue((target, s))
          else {
            val (wd, ws) = heap.head
            if (s > ws || (s == ws && target < wd)) { heap.dequeue(); heap.enqueue((target, s)) }
          }
          alive = drv.advance()
        }
      }
    }
    if (tel != null) {
      tel.docsScored.add(docsScored)
      var ci = 0
      while (ci < nT) {
        val c = cursors(ci)
        tel.postingsDecoded.add(c.decodedPostings)
        tel.postingsSkipped.add(c.skippedPostings)
        tel.blocksSkipped.add(c.skippedBlocks)
        ci += 1
      }
    }
    heap.iterator
  }
}
