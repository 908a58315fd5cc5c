package graft.query

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

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
  *   termstats lookup in the resident term dictionary: a map lookup; a
  *     bucket not loaded yet loads whole, once per engine (bucket-pruned
  *     scan, one job for all of a query's missing buckets; a bucket past
  *     the size cap gives only the query's terms and stays out)
  *   one task per chunk range: one stream per query term over            \
  *     its bucket's file (term pushdown, rows re-checked), by chunk      } job 1,
  *     -> per-chunk conjunctive DAAT + block-max skip -> local k         } 1 stage
  *     -> global top-k (TakeOrderedAndProject over the RDD scan)        /
  *   docstore fetch: docId IN (collected hits) pushdown + score    — job 2
  *     looked up from the collected pairs; one scan, no exchange
  *
  * The index lays postings out by (bucket, chunk range) (see
  * [[IndexBuilder]]), so no exchange is needed to bring a chunk's rows
  * together, and one (field, term, chunk)-ordered file per (bucket, range)
  * lets a task hold one chunk's rows at a time, plus one row group per
  * stream in the parquet reader. The kernel needs each chunk's doc lengths (the
  * norms sidecar): a small sidecar is one broadcast map per engine, a large
  * one is streamed by the task from its range's norms files (see
  * [[normsLocal]]).
  *
  * Replaces the reference's searcher/meta/hdfsreader HTTP fan-out
  * (inverted_index_gz_client.go:152-202, doc_gz_client.go:118-232), which
  * likewise reads each term's segment and intersects in place, with no
  * exchange in any query.
  */
class QueryEngine(val spark: SparkSession, val dir: String) extends Serializable {

  val manifest = IndexBuilder.readManifest(spark, dir)
  private val layout = """^build-v(\d+)-""".r.findFirstMatchIn(manifest.buildId).map(_.group(1))
  require(layout.contains(IndexBuilder.LayoutVersion.toString),
    s"index at $dir has layout ${layout.fold("unknown")("v" + _)} (buildId '${manifest.buildId}'), " +
      s"this reader needs layout v${IndexBuilder.LayoutVersion} — rebuild the index")

  // lazy vals: parquet file listings happen once per engine, not once per
  // query. The index schemas are known, so no schema-inference job runs;
  // the docstore's columns come from the input and are inferred.
  private lazy val termstats: DataFrame =
    spark.read.schema(IndexBuilder.TermstatsSchema).parquet(s"$dir/termstats")
  private lazy val norms: DataFrame = spark.read.schema(IndexBuilder.NormsSchema).parquet(s"$dir/norms")
  lazy val docstore: DataFrame = spark.read.parquet(s"$dir/docstore")

  // resident term dictionary: termstats bucket -> every (field, term) ->
  // (df, pv) row of that bucket, loaded on first touch. A bucket loads once
  // per engine, so any later term in it, present or absent, is a map lookup
  // instead of a Spark job — the analog of the reference searcher's meta
  // multiget being fronted by memcached (S10). Two bounds keep the driver's
  // memory in check on a large vocabulary. A bucket whose termstats files
  // pass TermDictBucketMaxBytes never loads (its terms are looked up by term
  // pushdown, bounded by the query), so one load collects at most that much;
  // ~10 B per row at perfbench size puts ~400k entries at the cap. And the
  // dictionary holds at most TermDictMaxEntries (field, term) entries across
  // buckets, cleared wholesale when a load would pass them, like [[memo]].
  private val TermDictMaxEntries = 1 << 20
  private val TermDictBucketMaxBytes = 4L << 20
  private val termDict = new ConcurrentHashMap[Int, Map[(String, String), (Long, Long)]]()

  // prepared-plan cache: a repeated interactive query (the dominant serving
  // pattern; the reference fronts its searcher with memcached the same way)
  // reuses the analyzed+planned Dataset — Dataset construction and Catalyst
  // planning are ~40% of the interactive floor (measured 70-110 ms of
  // ~250 ms). Valid because the index is immutable per engine and plans are
  // deterministic in (terms, k). Entry = one plan tree (KBs; the norms it
  // reads are a broadcast handle, not data). Bounded: cleared wholesale at
  // the cap (plans rebuild in ~10 ms; an LRU would buy nothing here).
  private val PlanCacheMaxEntries = 1024
  private val planCache = new ConcurrentHashMap[(Seq[(String, String)], Int), DataFrame]()

  // prepared-plan cache for the SCORE-ALL shape (fetchFiltered's candidate
  // scoring; k-independent), same validity argument as planCache. Kept
  // separate so topK's (terms, k) keyspace and this (terms)-keyed one
  // cannot evict each other at their different rates.
  private val scoreAllCache = new ConcurrentHashMap[Seq[(String, String)], DataFrame]()

  // memoized matchCount RESULTS: the index is immutable per engine, so the
  // AND-intersection count is a pure function of the term set — repeated
  // pv/uv stats queries (as interactive as top-k; the reference fronts its
  // stats multiget with memcached the same way) become a map hit instead of
  // a kernel job. Bounded like planCache: cleared wholesale at the cap.
  private val CountCacheMaxEntries = 1 << 20
  private val countCache = new ConcurrentHashMap[Seq[(String, String)], java.lang.Long]()

  /** `cache(key)`, else `build` published with putIfAbsent. The build runs
    * OUTSIDE the map: it can run a Spark job, and a computeIfAbsent
    * mapping that long would serialize unrelated keys hashing to the same
    * bin. A concurrent duplicate build is harmless — the first published
    * value wins. Cleared wholesale when `max` entries are reached. */
  private def memo[K, V <: AnyRef](cache: ConcurrentHashMap[K, V], max: Int, key: K)(build: => V): V = {
    val hit = cache.get(key)
    if (hit != null) return hit
    val v = build
    if (cache.size >= max) cache.clear()
    val prev = cache.putIfAbsent(key, v)
    if (prev != null) prev else v
  }

  /** Serving fast path for the norms sidecar: when it is small
    * (interactive-scale index), collect it once per engine into one
    * broadcast (field, chunk) -> blob map. Plans then carry only the
    * broadcast handle and each kernel task looks up its chunks' rows. Above
    * the size cap (the byte sum of the norms files' listing) each task
    * reads its own range's norms files instead (see [[perChunk]]). Both
    * paths stay: the streamed task-side read on every query measured even
    * with the broadcast on `selective` but slower on `broad` (fetch p50
    * 216 -> 289 ms, topK p50 73 -> 88 ms over 4 pairs; ROADMAP item 1). */
  private val NormsCacheMaxBytes = // sys-prop override so specs cover BOTH paths
    sys.props.get("graft.norms.cache.max.bytes").map(_.toLong).getOrElse(64L << 20)
  private lazy val normsLocal: Option[Broadcast[Map[(String, Long), Array[Byte]]]] =
    if (normsFiles.iterator.flatten.map(_.bytes).sum > NormsCacheMaxBytes) None
    else Some(spark.sparkContext.broadcast(norms.select("field", "chunk", "blob").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Array[Byte]](2)).toMap))

  /** The parquet files of one directory of the index, by name; none when
    * the directory is absent. */
  private def parquetFiles(path: String): Array[QueryEngine.IndexFile] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map(st => QueryEngine.IndexFile(st.getPath.toString, st.getLen))
  }

  // posting files per bucket, by range: listed on a bucket's first query
  private val postingFiles = new ConcurrentHashMap[Int, Array[Array[QueryEngine.IndexFile]]]()

  /** The posting reads of `terms`, per chunk range: (query term index, file)
    * for every file of the term's bucket in the range. Only ranges holding
    * files of every term are listed (another range cannot match the AND),
    * in range order. */
  private[graft] def rangeFiles(terms: Seq[(String, String)]): Seq[(Int, Array[(Int, QueryEngine.IndexFile)])] = {
    val byTerm = terms.map { case (_, t) =>
      postingFiles.computeIfAbsent(IndexBuilder.bucketOf(t, manifest.buckets),
        b => Array.tabulate(manifest.ranges)(r => parquetFiles(s"$dir/postings/bucket=$b/range=$r")))
    }
    (0 until manifest.ranges).filter(r => byTerm.forall(_(r).nonEmpty))
      .map(r => r -> byTerm.zipWithIndex.flatMap { case (files, i) => files(r).map(i -> _) }.toArray)
  }

  // the hadoop conf range tasks open index files with: one broadcast per
  // engine, so a query builds no reader and ships no conf of its own
  private lazy val hadoopConf: Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  /** Range `range`'s posting streams of `terms` (see [[QueryEngine.postingStreams]]),
    * opened where called: the read one range task makes. */
  private[graft] def postingStreams(terms: Seq[(String, String)], range: Int): Seq[Iterator[(Long, QueryEngine.ChunkRow)]] =
    QueryEngine.postingStreams(hadoopConf.value.value, terms.toArray,
      rangeFiles(terms).find(_._1 == range).fold(Array.empty[(Int, QueryEngine.IndexFile)])(_._2))

  // each range's norms files, for the task-side norms read
  private lazy val normsFiles: Array[Array[QueryEngine.IndexFile]] =
    Array.tabulate(manifest.ranges)(r => parquetFiles(s"$dir/norms/range=$r"))

  /** Bucket partition pruning plus term pushdown for `terms` in termstats. */
  private def termFilter(terms: Seq[(String, String)]): Column = {
    val buckets = terms.map { case (_, t) => IndexBuilder.bucketOf(t, manifest.buckets) }.distinct
    col("bucket").isin(buckets: _*) &&
      terms.map { case (f, t) => col("field") === f && col("term") === t }.reduce(_ || _)
  }

  /** (df, pv) per query term; terms absent from the corpus are omitted. */
  def termStatsOf(q: SearchQuery): Map[(String, String), (Long, Long)] =
    dictionaryLookup(q.terms, TermDictMaxEntries, TermDictBucketMaxBytes)

  /** [[termStatsOf]] over a dictionary of at most `maxEntries` entries that
    * loads only buckets whose termstats files hold at most `maxBucketBytes`.
    * ONE bucket-pruned termstats scan serves all of `terms`' buckets not
    * resident yet: it reads each such bucket within the byte cap whole, and
    * from a bucket past it only the query's terms. A whole bucket is
    * published with putIfAbsent (a concurrent duplicate load is harmless:
    * both read the same immutable index) unless it alone holds more than
    * `maxEntries` entries; the dictionary is cleared wholesale first when
    * the publish would pass `maxEntries`. The result assembles from bucket
    * maps held in local references, so a concurrent (or our own) clear can
    * never drop a term mid-query. */
  private[graft] def dictionaryLookup(terms: Seq[(String, String)], maxEntries: Int, maxBucketBytes: Long)
      : Map[(String, String), (Long, Long)] = {
    val bucketOf = terms.map { case (_, t) => t -> IndexBuilder.bucketOf(t, manifest.buckets) }.toMap
    val held = bucketOf.values.toSeq.distinct.map(b => b -> termDict.get(b))
    val missing = held.collect { case (b, null) => b }
    val (whole, big) = missing.partition(b => termstatsBytes(b) <= maxBucketBytes)
    val pushdown = terms.filter(t => big.contains(bucketOf(t._2))).distinct
    val fetched: Map[Int, Map[(String, String), (Long, Long)]] =
      if (missing.isEmpty) Map.empty
      else {
        val scope = col("bucket").isin(whole: _*) || (if (pushdown.isEmpty) lit(false) else termFilter(pushdown))
        val rows = termstats
          .filter(col("bucket").isin(missing: _*) && scope)
          .select("bucket", "field", "term", "df", "pv")
          .collect()
          .groupMap(_.getInt(0))(r => (r.getString(1), r.getString(2)) -> (r.getLong(3), r.getLong(4)))
        val fresh = missing.map(b => b -> rows.get(b).fold(Map.empty[(String, String), (Long, Long)])(_.toMap)).toMap
        whole.map(b => b -> fresh(b)).filter(_._2.size <= maxEntries).foreach { case (b, m) =>
          if (termDict.values().stream().mapToLong(_.size.toLong).sum() + m.size > maxEntries) termDict.clear()
          termDict.putIfAbsent(b, m)
        }
        fresh
      }
    val dict = held.filter(_._2 != null).toMap ++ fetched
    terms.flatMap(k => dict(bucketOf(k._2)).get(k).map(k -> _)).toMap
  }

  // bytes of each termstats bucket's files: listed on the bucket's first lookup
  private val termstatsSizes = new ConcurrentHashMap[Int, java.lang.Long]()
  private def termstatsBytes(b: Int): Long =
    termstatsSizes.computeIfAbsent(b, _ => parquetFiles(s"$dir/termstats/bucket=$b").map(_.bytes).sum)

  /** Top-k (docId, score), exact BM25 over the AND intersection; the plan is
    * cached per (terms, k). */
  def topK(q: SearchQuery): DataFrame =
    memo(planCache, PlanCacheMaxEntries, (q.terms, q.k))(topKUncached(q))

  /** The one top-k plan builder: [[topK]]'s cache-miss path and, with kernel
    * accumulators, [[topKProfiled]]'s plan. */
  private def topKUncached(q: SearchQuery, tel: QueryKernel.KernelTelemetry = null): DataFrame =
    candidates(q, q.k, tel)
      .toDF("docId", "score")
      .orderBy(desc("score"), asc("docId"))
      .limit(q.k)

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
  def fetchFiltered(q: SearchQuery, predicate: Column): DataFrame =
    // the scoring subtree (the per-range posting read and kernel) is k- and
    // predicate-independent — cache it; the per-call
    // join/filter/limit on top is cheap to re-plan
    memo(scoreAllCache, PlanCacheMaxEntries, q.terms)(scoreAll(q))
      .join(docstore, Seq("docId"))
      .filter(predicate)
      .orderBy(desc("score"), asc("docId"))
      .limit(q.k)

  /** Count of the AND intersection — the reference's pv/uv stats path needs
    * only a count, so this skips scoring, norms, and the top-k heap entirely
    * (a count-only kernel instead of candidates(q, MaxValue)); the per-chunk
    * counts sum in the same job, with no aggregate exchange. */
  def matchCount(q: SearchQuery): Long = memo(countCache, CountCacheMaxEntries, q.terms) {
    val ts = termStatsOf(q)
    val n =
      if (q.terms.isEmpty || q.terms.exists(t => !ts.contains(t))) 0L
      else if (q.terms.size == 1) ts(q.terms.head)._1 // df IS the count
      else {
        val terms = q.terms.toArray
        perChunk(q.terms)((_, rows) => Iterator(QueryKernel.countChunk(terms, rows))).fold(0L)(_ + _)
      }
    Long.box(n)
  }

  /** All docIds matching the AND conjunction, ascending (the reference's
    * unranked result order, doc_gz_client.go:101-103): each partition is one
    * chunk range, in range order, walked in chunk order, so sorting within
    * partitions orders the whole result with no exchange. */
  def matchingDocIds(q: SearchQuery): DataFrame = {
    import spark.implicits._
    val ts = termStatsOf(q)
    if (q.terms.isEmpty || q.terms.exists(t => !ts.contains(t)))
      return spark.emptyDataset[Long].toDF("docid")
    val terms = q.terms.toArray
    // the count kernel's walk, emitting docIds: no norms, scoring or heap
    spark.createDataset(perChunk(q.terms)((_, rows) => QueryKernel.matchChunk(terms, rows)))
      .toDF("docid").sortWithinPartitions("docid")
  }

  /** Exact BM25 scores for EVERY matching doc (no top-k cut). */
  def scoreAll(q: SearchQuery): DataFrame = candidates(q, Int.MaxValue).toDF("docId", "score")

  /** Uncached profiled top-k: [[topK]]'s plan built with kernel accumulators
    * registered, returning (hits, counters). Bypasses the plan cache on
    * purpose — an accumulator is per-query state a cached plan must not pin
    * — so this is a diagnostic surface (SearchCli explain), not the serving
    * path. */
  def topKProfiled(q: SearchQuery): (Array[(Long, Double)], Map[String, Long]) = {
    import spark.implicits._
    val tel = QueryKernel.KernelTelemetry.register(spark)
    (topKUncached(q, tel).as[(Long, Double)].collect(), tel.snapshot)
  }

  /** Per-chunk conjunctive scoring; emits up to `localK` best per chunk. */
  private def candidates(q: SearchQuery, localK: Int,
                         tel: QueryKernel.KernelTelemetry = null): Dataset[(Long, Double)] = {
    import spark.implicits._
    val ts = termStatsOf(q)
    if (q.terms.isEmpty || q.terms.exists(t => !ts.contains(t)))
      return spark.emptyDataset[(Long, Double)]

    val terms = q.terms.toArray
    val idfs = terms.map { case (f, t) => Bm25.idf(manifest.numDocs, ts((f, t))._1) }
    val avgdls = terms.map { case (f, _) => manifest.avgdl(f) }
    val chunkDocs = manifest.chunkDocs
    spark.createDataset(perChunk(q.terms, withNorms = true) { (chunk, rows) =>
      QueryKernel.scoreChunk(terms, idfs, avgdls, chunk * chunkDocs, localK, rows, tel)
    })
  }

  /** The one posting read behind every conjunctive query, as ONE stage: a
    * task per chunk range opens one stream per (posting file, query term)
    * of the range, the term pushed down to row groups and checked again on
    * each row. The build writes one file per (bucket, range), in (field,
    * term, chunk) order, so that is one chunk-ascending stream per term;
    * [[QueryEngine.byChunk]] merges them and `kernel` gets each chunk's
    * (field, term, blob) rows in chunk order. A task holds one chunk's rows
    * plus each stream's current row group, never its whole range. With
    * `withNorms` the rows also carry the query fields' norms blobs for the
    * chunk under [[QueryKernel.NormsTerm]]: from the broadcast map, else
    * from the range's norms file, read the same way in the same chunk
    * order. */
  private def perChunk[T: ClassTag](terms: Seq[(String, String)], withNorms: Boolean = false)(
      kernel: (Long, Iterator[QueryEngine.ChunkRow]) => Iterator[T]): RDD[T] = {
    val ranges = rangeFiles(terms)
    val termArr = terms.toArray
    val conf = hadoopConf
    val fields = terms.map(_._1).distinct.toArray
    // range -> the norms rows of a chunk, asked in ascending chunk order
    val normsOf: Int => Long => Seq[QueryEngine.ChunkRow] =
      if (!withNorms) _ => _ => Nil
      else normsLocal match {
        case Some(b) => _ => chunk =>
          fields.toSeq.flatMap(f => b.value.get((f, chunk)).map(blob => (f, QueryKernel.NormsTerm, blob)))
        case None =>
          val files = normsFiles
          r => {
            lazy val norms = QueryEngine.byChunk(QueryEngine.normsStreams(conf.value.value, fields, files(r))).buffered
            chunk => {
              while (norms.hasNext && norms.head._1 < chunk) norms.next()
              if (norms.hasNext && norms.head._1 == chunk) norms.head._2 else Nil
            }
          }
      }
    spark.sparkContext.parallelize(ranges, math.max(1, ranges.size)).mapPartitions(_.flatMap { case (r, files) =>
      val normsAt = normsOf(r)
      QueryEngine.byChunk(QueryEngine.postingStreams(conf.value.value, termArr, files)).flatMap { case (chunk, rows) =>
        kernel(chunk, rows.iterator ++ normsAt(chunk))
      }
    })
  }
}

object QueryEngine {

  /** A (field, term, blob) row handed to the kernel. */
  type ChunkRow = (String, String, Array[Byte])

  /** One parquet file of the index. */
  final case class IndexFile(path: String, bytes: Long)

  /** Reads only `columns` of a file. */
  private final class ColumnsReadSupport(columns: Seq[String]) extends GroupReadSupport {
    override def init(context: InitContext): ReadSupport.ReadContext = {
      val file = context.getFileSchema
      new ReadSupport.ReadContext(new MessageType(file.getName, columns.map(c => file.getType(file.getFieldIndex(c))): _*))
    }
  }

  /** A reader of `columns` of `file` under `conf`. Not
    * `ParquetReader.builder`: it makes a fresh hadoop `Configuration`
    * (about 4 ms of XML parsing) for every file it opens. */
  private final class GroupsReader(file: InputFile, conf: Configuration, columns: Seq[String])
      extends ParquetReader.Builder[Group](file, new HadoopParquetConfiguration(conf)) {
    override protected def getReadSupport(): ReadSupport[Group] = new ColumnsReadSupport(columns)
  }

  /** The records of `file` whose string columns equal `eq`, read with
    * parquet's own reader: the predicate prunes row groups by their
    * statistics and dictionaries and filters records, and each record is
    * checked again. Only `columns` are read. The file closes when drained,
    * or when the task ends. */
  private def readMatching(conf: Configuration, file: IndexFile, columns: Seq[String],
                           eq: Seq[(String, String)]): Iterator[Group] = {
    val pred = eq.map { case (c, v) => FilterApi.eq(FilterApi.binaryColumn(c), Binary.fromString(v)): FilterPredicate }
      .reduce(FilterApi.and(_, _))
    val reader = new GroupsReader(HadoopInputFile.fromPath(new Path(file.path), conf), conf, columns)
      .withFilter(FilterCompat.get(pred)).build()
    var open = true
    def close(): Unit = if (open) { open = false; reader.close() }
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))
    Iterator.continually(reader.read()).takeWhile { g => if (g == null) close(); g != null }
      .filter(g => eq.forall { case (c, v) => g.getString(c, 0) == v })
  }

  private val PostingColumns = Seq("field", "term", "chunk", "blob")
  private val NormsColumns = Seq("field", "chunk", "blob")

  /** One chunk-ascending (chunk, row) stream per (term index, posting file)
    * of `files`, the term pushed down. Each file opens here. */
  private[graft] def postingStreams(conf: Configuration, terms: Array[(String, String)],
                                    files: Array[(Int, IndexFile)]): Seq[Iterator[(Long, ChunkRow)]] =
    files.toSeq.map { case (i, file) =>
      val (f, t) = terms(i)
      readMatching(conf, file, PostingColumns, Seq("field" -> f, "term" -> t))
        .map(g => (g.getLong("chunk", 0), (f, t, g.getBinary("blob", 0).getBytes)))
    }

  /** One chunk-ascending (chunk, norms row) stream per (norms file, field),
    * the field pushed down. */
  private[graft] def normsStreams(conf: Configuration, fields: Array[String],
                                  files: Array[IndexFile]): Seq[Iterator[(Long, ChunkRow)]] =
    for (file <- files.toSeq; f <- fields.toSeq) yield
      readMatching(conf, file, NormsColumns, Seq("field" -> f))
        .map(g => (g.getLong("chunk", 0), (f, QueryKernel.NormsTerm, g.getBinary("blob", 0).getBytes)))

  /** Merges chunk-ascending (chunk, value) streams into (chunk, that chunk's
    * values), in chunk order. It holds one chunk's values plus one head per
    * stream at a time. A stream that steps back (a file out of chunk order)
    * fails loudly instead of splitting a chunk. */
  private[graft] def byChunk[A](streams: Seq[Iterator[(Long, A)]]): Iterator[(Long, Seq[A])] = {
    val heads = streams.map(_.buffered).toArray
    new Iterator[(Long, Seq[A])] {
      def hasNext: Boolean = heads.exists(_.hasNext)
      def next(): (Long, Seq[A]) = {
        val chunk = heads.iterator.filter(_.hasNext).map(_.head._1).min
        val group = ArrayBuffer[A]()
        heads.foreach { h =>
          while (h.hasNext && h.head._1 == chunk) group += h.next()._2
          if (h.hasNext && h.head._1 < chunk)
            throw new IllegalStateException(s"stream not in chunk order: chunk ${h.head._1} after $chunk")
        }
        (chunk, group.toSeq)
      }
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

/** The per-chunk scoring kernel — runs inside the range tasks, plain
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

  /** Sentinel term carrying a chunk's norms blob among its posting rows. */
  val NormsTerm = "\u0000norms"

  /** One chunk's conjunction walk, shared by [[foreachMatch]] and
    * [[scoreChunk]]: one cursor per query term, `order` rarest first (the
    * driver `drv` is the rarest, like the reference starting from the
    * smallest DocItemList in DocIdIntersect, doc_gz_client.go:73-104), every
    * cursor advanced onto its first posting. */
  private final class Walk(val cursors: Array[PostingCodec.Cursor]) {
    val order: Array[Int] = Array.range(0, cursors.length).sortBy(i => cursors(i).numPostings)
    val drv: PostingCodec.Cursor = cursors(order(0))
    var alive: Boolean = order.forall(i => cursors(i).advance())

    /** One alignment step on the driver's docId: true when every cursor sits
      * on it. A cursor past it moves the driver up to that cursor's docId
      * (false: the caller steps again); an exhausted cursor clears `alive`. */
    def aligned(): Boolean = {
      val target = drv.docId
      var bumped = false
      var j = 1
      while (alive && j < order.length && !bumped) {
        val c = cursors(order(j))
        if (!c.advanceTo(target)) alive = false
        else if (c.docId > target) {
          alive = drv.advanceTo(c.docId)
          bumped = true
        }
        j += 1
      }
      alive && !bumped
    }
  }

  /** A chunk's (field, term) -> blob map (norm rows under [[NormsTerm]]), or
    * None when a query term has no postings in the chunk: the AND is empty. */
  private def blobsOf(terms: Array[(String, String)], rows: Iterator[(String, String, Array[Byte])])
      : Option[Map[(String, String), Array[Byte]]] = {
    val blobs = rows.map { case (f, t, b) => (f, t) -> b }.toMap
    if (terms.forall(blobs.contains)) Some(blobs) else None
  }

  /** Every docId of the conjunction within one chunk, ascending, passed to
    * `emit` — no scoring, no dl, no heap. */
  private def foreachMatch(terms: Array[(String, String)], rows: Iterator[(String, String, Array[Byte])])(
      emit: Long => Unit): Unit =
    blobsOf(terms, rows).foreach { blobs =>
      val w = new Walk(terms.map(t => new PostingCodec.Cursor(blobs(t))))
      while (w.alive) if (w.aligned()) { emit(w.drv.docId); w.alive = w.drv.advance() }
    }

  /** Count the conjunction within one chunk. */
  def countChunk(terms: Array[(String, String)], rows: Iterator[(String, String, Array[Byte])]): Long = {
    var n = 0L
    foreachMatch(terms, rows)(_ => n += 1)
    n
  }

  /** The conjunction's docIds within one chunk, ascending. */
  def matchChunk(terms: Array[(String, String)], rows: Iterator[(String, String, Array[Byte])]): Iterator[Long] = {
    val ids = scala.collection.mutable.ArrayBuffer[Long]()
    foreachMatch(terms, rows)(ids += _)
    ids.iterator
  }

  /** Conjunctive document-at-a-time traversal with block-max skipping.
    *
    * When the heap holds k results, a driver block whose upper bound (its
    * idf * block-max tfNorm + the other terms' static score ceilings
    * idf*(k1+1)) cannot beat the current kth score is skipped without
    * decoding — block-max WAND; exact because the bound is conservative and
    * within a chunk later candidates have larger docIds (tie order score
    * desc / docId asc preserved). `rows` carries the chunk's postings and
    * the query fields' norms under [[NormsTerm]].
    */
  def scoreChunk(
      terms: Array[(String, String)],
      idfs: Array[Double],
      avgdls: Array[Double],
      baseDocId: Long,
      k: Int,
      rows: Iterator[(String, String, Array[Byte])],
      tel: KernelTelemetry = null): Iterator[(Long, Double)] = {

    if (k <= 0) return Iterator.empty // k=0 top-k is legitimately empty
    val blobs = blobsOf(terms, rows) match {
      case Some(b) => b
      case None => return Iterator.empty
    }
    val dlOfField: Map[String, Long => Int] = terms.map(_._1).distinct.map { f =>
      val blob = blobs.getOrElse((f, NormsTerm),
        throw new IllegalStateException(s"norms missing for field $f in chunk base $baseDocId"))
      f -> PostingCodec.dlLookup(PostingCodec.decodeNorms(blob), baseDocId)
    }.toMap
    val w = new Walk(terms.map(t => new PostingCodec.Cursor(blobs(t), dlOfField(t._1))))
    val nT = terms.length
    val drv = w.drv
    // static ceilings for the non-driver terms (tfNorm < k1+1 always)
    var othersCeil = 0.0
    var oi = 1
    while (oi < nT) { othersCeil += idfs(w.order(oi)) * (Bm25.K1 + 1.0); oi += 1 }

    // heap head = current worst of the top-k: lowest score, tie -> larger docId
    // (PriorityQueue dequeues the ordering's max, so "worst" must rank highest)
    implicit val ord: Ordering[(Long, Double)] =
      Ordering.by[(Long, Double), (Double, Long)] { case (d, s) => (-s, d) }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord)

    var docsScored = 0L
    while (w.alive) {
      // block-max skip on the driver
      if (heap.size >= k && k != Int.MaxValue) {
        val threshold = heap.head._2
        var skipped = true
        while (w.alive && skipped) {
          // idf > 0 and rounding is monotone: idf * the block's max tfNorm
          // is bit for bit the block's max contribution
          if (idfs(w.order(0)) * drv.blockMaxScore + othersCeil <= threshold) {
            val lastBefore = drv.blockLastDocId
            w.alive = drv.advanceTo(lastBefore + 1)
            // no-progress guard: on a corrupt blob (entry docIds beyond the
            // block's recorded last) advanceTo can return true in place —
            // fail loudly instead of spinning forever
            if (w.alive && drv.blockLastDocId <= lastBefore)
              throw new IllegalStateException(
                s"corrupt posting block: lastDocId $lastBefore did not advance (docId=${drv.docId})")
          } else skipped = false
        }
      }
      if (w.alive && w.aligned()) {
        // score in QUERY-TERM order (FP-identical to the oracle)
        val target = drv.docId
        var s = 0.0
        var qi = 0
        while (qi < nT) {
          val c = w.cursors(qi)
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
        w.alive = drv.advance()
      }
    }
    if (tel != null) {
      tel.docsScored.add(docsScored)
      w.cursors.foreach { c =>
        tel.postingsDecoded.add(c.decodedPostings)
        tel.postingsSkipped.add(c.skippedPostings)
        tel.blocksSkipped.add(c.skippedBlocks)
      }
    }
    heap.iterator
  }
}
