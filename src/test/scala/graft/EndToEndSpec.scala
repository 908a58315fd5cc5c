package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import graft.build.{DocIds, IndexBuilder, IndexConfig}
import graft.gen.TranscriptGen
import graft.model.DocTurn
import graft.query.{Bm25Oracle, QueryEngine, SearchQuery}

/** The core correctness gate (SURVEY.md §5.3): engine top-k docIds AND BM25
  * scores exactly (==) equal the brute-force oracle on the fixed query set;
  * per-turn text equality end-to-end; reference pv/uv stats semantics.
  */
class EndToEndSpec extends SparkFunSuite {
  import spark.implicits._

  val N = 3000L
  lazy val indexDir: String = SparkSpec.tmpDir("graft-e2e-index")
  lazy val built = IndexBuilder.build(
    spark, TranscriptGen.turns(spark, N, 4).toDF(), indexDir,
    IndexConfig(buckets = 8, chunkDocs = 256, blockSize = 32))
  lazy val engine: QueryEngine = { built; new QueryEngine(spark, indexDir) }

  lazy val oracleDocs: Seq[DocTurn] = {
    val docs = DocIds.assign(TranscriptGen.turns(spark, N, 4).toDF())
    docs.select("docId", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      .as[DocTurn].collect().toSeq.sortBy(_.docId)
  }
  lazy val oracle = Bm25Oracle.buildIndex(oracleDocs)

  // the fixed "reference query set" (FIXTURES.md §2 shape)
  val queries: Seq[(String, SearchQuery)] = Seq(
    "q01_single" -> SearchQuery.of(Seq("text" -> Seq("error")), 10),
    "q02_and2" -> SearchQuery.of(Seq("text" -> Seq("error", "timeout")), 10),
    "q03_needle" -> SearchQuery.of(Seq("text" -> Seq("needle-000001")), 10),
    "q04_stopword_k100" -> SearchQuery.of(Seq("text" -> Seq("the")), 100),
    "q05_crossfield" -> SearchQuery.of(Seq("tool" -> Seq("grep"), "text" -> Seq("match")), 25),
    "q06_and3" -> SearchQuery.of(Seq("text" -> Seq("w000017", "w000042", "ok")), 10),
    "q07_case_norm" -> SearchQuery.of(Seq("text" -> Seq("ERROR ")), 10),
    "q08_absent" -> SearchQuery.of(Seq("text" -> Seq("zzznotpresent")), 10),
    "q09_role" -> SearchQuery.of(Seq("role" -> Seq("tool"), "text" -> Seq("fail")), 15),
    "q10_dup_terms" -> SearchQuery.of(Seq("text" -> Seq("error", "error", "retry")), 10))

  /** A fresh engine on the task-side norms path (a norms cache cap of 0):
    * each range task reads its own norms files. */
  private def taskNormsEngine(dir: String = indexDir): QueryEngine = {
    val prop = "graft.norms.cache.max.bytes"
    sys.props(prop) = "0"
    try new QueryEngine(spark, dir) finally sys.props.remove(prop)
  }

  test("driver flagship entry() returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("rank identity: engine top-k docIds AND scores == oracle, exactly") {
    // on both norms paths: the broadcast map and the task-side read
    Seq("broadcast" -> engine, "task-side norms" -> taskNormsEngine()).foreach { case (path, e) =>
      queries.foreach { case (name, q) =>
        val expected = Bm25Oracle.topK(oracle, q)
        val got = e.topK(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got.map(_._1) == expected.map(_._1), s"$path $name docIds differ\n got=$got\n exp=$expected")
        got.zip(expected).foreach { case ((gd, gs), (ed, es)) =>
          assert(gs == es, s"$path $name doc $gd/$ed score $gs != $es (exact)")
        }
      }
    }
  }

  test("profiled top-k: identical results + kernel counters expose block-max skipping") {
    // result identity: the profiled path is the same plan with accumulators
    queries.foreach { case (name, q) =>
      val plain = engine.topK(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val (prof, _) = engine.topKProfiled(q)
      assert(prof.toSeq == plain, s"$name profiled != plain")
    }
    // across the query set (blockSize=32, AND queries align a rare cursor
    // against common terms; stopword queries fill the heap), the kernel must
    // demonstrably skip postings/blocks undecoded — the block-max +
    // alignment benefit as a measured number
    val totals = queries.map { case (_, q) => engine.topKProfiled(q)._2 }
      .reduce((a, b) => a.map { case (k0, v) => k0 -> (v + b(k0)) })
    assert(totals("docs_scored") > 0 && totals("postings_decoded") > 0, s"$totals")
    assert(totals("blocks_skipped") > 0 && totals("postings_skipped") > 0,
      s"kernel never skipped undecoded: $totals")
    // absent term: nothing decoded, nothing scored
    val (h8, s8) = engine.topKProfiled(SearchQuery.of(Seq("text" -> Seq("zzznotpresent")), 10))
    assert(h8.isEmpty && s8("postings_decoded") == 0 && s8("docs_scored") == 0)
  }

  test("concurrent queries on a fresh engine match serial results (cache races)") {
    // topK builds plans OUTSIDE the cache map and publishes with putIfAbsent;
    // 8 threads hammering a COLD engine with the full query set must agree
    // with the serial answers (duplicate concurrent builds are allowed,
    // divergent results are not)
    val serial = queries.map { case (name, q) =>
      name -> engine.topK(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }.toMap
    val coldEngine = new QueryEngine(spark, indexDir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).flatMap { i =>
        queries.map { case (name, q) =>
          name -> pool.submit(new java.util.concurrent.Callable[Seq[(Long, Double)]] {
            def call(): Seq[(Long, Double)] =
              coldEngine.topK(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          })
        }
      }
      futures.foreach { case (name, f) =>
        assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS) == serial(name),
          s"$name diverged under concurrency")
      }
    } finally pool.shutdownNow()
  }

  test("per-turn text equality: fetched text == generator text for every hit") {
    val q = queries(1)._2 // error AND timeout
    val rows = engine.fetch(q).collect()
    assert(rows.nonEmpty)
    val textByDocId = oracleDocs.map(d => d.docId -> d.text).toMap
    rows.foreach { r =>
      val docId = r.getLong(r.fieldIndex("docId"))
      assert(r.getString(r.fieldIndex("text")) == textByDocId(docId))
      // stable turn ordering invariant: docId really is the rank key
      val d = oracleDocs(docId.toInt)
      assert(r.getString(r.fieldIndex("conv_id")) == d.conv_id)
      assert(r.getInt(r.fieldIndex("turn_idx")) == d.turn_idx)
    }
  }

  test("fetch == topK: (docId, score) in row order, bit for bit, on both norms paths") {
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = df.collect().toSeq.map(r =>
      (r.getLong(r.fieldIndex("docId")), java.lang.Double.doubleToRawLongBits(r.getDouble(r.fieldIndex("score")))))
    def check(e: QueryEngine, path: String): Unit = queries.foreach { case (name, q) =>
      assert(pairs(e.fetch(q)) == pairs(e.topK(q)), s"$path $name: fetch != topK")
    }
    check(engine, "broadcast")
    check(taskNormsEngine(), "task-side norms")
  }

  test("empty fetch (absent term, k = 0) has the non-empty fetch's columns and types") {
    def shape(df: org.apache.spark.sql.DataFrame) = df.schema.fields.toSeq.map(f => (f.name, f.dataType))
    val full = engine.fetch(queries(0)._2)
    assert(full.collect().nonEmpty)
    val absent = engine.fetch(queries.toMap.apply("q08_absent"))
    val k0 = engine.fetch(queries(0)._2.copy(k = 0))
    Seq("absent term" -> absent, "k = 0" -> k0).foreach { case (name, df) =>
      assert(df.collect().isEmpty, name)
      assert(shape(df) == shape(full), s"$name: ${shape(df)} != ${shape(full)}")
    }
    assert(shape(full).map(_._1) == ("docId" +: engine.docstore.columns.filterNot(_ == "docId") :+ "score").toSeq)
  }

  test("SearchQuery requires k >= 0 and names the bad value") {
    val e = intercept[IllegalArgumentException](SearchQuery(Seq("text" -> "error"), -1))
    assert(e.getMessage.contains("k=-1"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](SearchQuery.of(Seq("text" -> Seq("error")), -5))
    assert(e2.getMessage.contains("k=-5"), e2.getMessage)
    // k = 0 stays legal: an empty top-k (scoreAll callers build such queries)
    assert(engine.topK(SearchQuery(Seq("text" -> "error"), 0)).collect().isEmpty)
  }

  test("topKPage requires pageNumber >= 0 and names the bad value") {
    val q = SearchQuery.of(Seq("text" -> Seq("error")), 10)
    val e = intercept[IllegalArgumentException](engine.topKPage(q, -1, 10))
    assert(e.getMessage.contains("pageNumber=-1"), e.getMessage)
  }

  test("topKPage requires pageSize > 0 and names the bad value") {
    val q = SearchQuery.of(Seq("text" -> Seq("error")), 10)
    Seq(0, -3).foreach { size =>
      val e = intercept[IllegalArgumentException](engine.topKPage(q, 0, size))
      assert(e.getMessage.contains(s"pageSize=$size"), e.getMessage)
    }
    // a page end past Int.MaxValue is refused, not wrapped to a negative k
    val e = intercept[IllegalArgumentException](engine.topKPage(q, Int.MaxValue / 2, 4))
    assert(e.getMessage.contains("pageSize=4"), e.getMessage)
  }

  test("pv/uv stats match reference semantics (single=header, multi=|intersection|)") {
    queries.foreach { case (name, q) =>
      val got = engine.searchStats(q)
      val exp = Bm25Oracle.stats(oracle, q)
      assert(got == exp, s"$name stats")
    }
  }

  test("needle query returns exactly its one turn") {
    val q = SearchQuery.of(Seq("text" -> Seq("needle-000002")), 10)
    val hits = engine.fetch(q).collect()
    assert(hits.length == 1)
    assert(hits(0).getString(hits(0).fieldIndex("text")).contains("needle-000002"))
  }

  test("index layout: postings are bucket-partitioned, docstore docId-sorted") {
    val buckets = new java.io.File(s"$indexDir/postings").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName)
    assert(buckets.nonEmpty && buckets.length <= 8)
    // 12 chunks of 256 docs over 4 shuffle partitions: 4 contiguous chunk
    // ranges; postings sit in (bucket, range) directories and norms in
    // range directories, each row in the range of its chunk
    val m = engine.manifest
    val numChunks = (N + m.chunkDocs - 1) / m.chunkDocs
    assert(m.ranges == 4, s"ranges=${m.ranges}")
    def rangeOf(chunk: Long): Int = (chunk * m.ranges / numChunks).toInt
    Seq("postings" -> IndexBuilder.PostingsSchema, "norms" -> IndexBuilder.NormsSchema).foreach { case (t, schema) =>
      val rows = spark.read.schema(schema).parquet(s"$indexDir/$t").select("chunk", "range").collect()
      assert(rows.forall(r => r.getInt(1) == rangeOf(r.getLong(0))), t)
      assert(rows.map(_.getInt(1)).distinct.sorted.toSeq == (0 until m.ranges), t)
    }
    // one file per (bucket, range) and per norms range: a range task reads
    // each query term as one stream
    def parquetIn(d: java.io.File) = d.listFiles().count(_.getName.endsWith(".parquet"))
    val rangeDirs = buckets.flatMap(b => new java.io.File(s"$indexDir/postings/$b").listFiles()) ++
      new java.io.File(s"$indexDir/norms").listFiles().filter(_.getName.startsWith("range="))
    assert(rangeDirs.nonEmpty && rangeDirs.forall(_.getName.startsWith("range=")))
    rangeDirs.foreach(d => assert(parquetIn(d) == 1, d.toString))
    // within each file, every (field, term)'s posting rows and every
    // field's norms rows are chunk-ascending: the order a range task streams
    // them in
    Seq("postings" -> (IndexBuilder.PostingsSchema, Seq("field", "term")),
        "norms" -> (IndexBuilder.NormsSchema, Seq("field"))).foreach { case (t, (schema, key)) =>
      val rows = spark.read.schema(schema).parquet(s"$indexDir/$t")
        .select((input_file_name() +: col("chunk") +: key.map(col)): _*).collect()
      rows.groupBy(r => (r.getString(0), (2 until r.length).map(r.getString))).foreach { case (k, rs) =>
        val chunks = rs.map(_.getLong(1)).toSeq
        assert(chunks == chunks.sorted, s"$t $k chunks $chunks")
      }
    }
    // every termstats file is (field, term)-ascending, so row-group
    // statistics can prune a term pushdown read of its bucket
    val ts = spark.read.schema(IndexBuilder.TermstatsSchema).parquet(s"$indexDir/termstats")
      .select(input_file_name(), col("field"), col("term")).collect()
    assert(ts.nonEmpty)
    ts.groupBy(_.getString(0)).foreach { case (f, rs) =>
      val keys = rs.map(r => (r.getString(1), r.getString(2))).toSeq
      assert(keys == keys.sorted, s"termstats $f")
    }
    val ds = spark.read.parquet(s"$indexDir/docstore").select("docId").collect().map(_.getLong(0))
    assert(ds.length == N)
    assert(ds.toSeq.sorted == (0L until N))
  }

  test("a range task holds one chunk's rows at a time, over many chunks per range") {
    // 16 chunks of 64 docs in 2 ranges (2 shuffle partitions)
    val n = 1024L
    val dir = SparkSpec.tmpDir("graft-ranges")
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "2")
    try IndexBuilder.build(spark, TranscriptGen.turns(spark, n, 4).toDF(), dir,
      IndexConfig(buckets = 4, chunkDocs = 64, blockSize = 16))
    finally spark.conf.set(key, saved)
    val e = new QueryEngine(spark, dir)
    assert(e.manifest.ranges == 2)
    val docs = DocIds.assign(TranscriptGen.turns(spark, n, 4).toDF())
      .select("docId", "conv_id", "turn_idx", "role", "text", "tool", "ts").as[DocTurn].collect().toSeq.sortBy(_.docId)
    val orc = Bm25Oracle.buildIndex(docs)

    // the two most frequent text terms' range-0 rows: one file per (bucket,
    // range), so one stream per term, merged by chunk
    val terms = orc.tfs.keys.filter(_._1 == "text").toSeq.sortBy(t => (-orc.tfs(t).size, t._2)).take(2)
    assert(e.rangeFiles(terms).head._2.map(_._1).toSeq == Seq(0, 1))
    var pulled = 0
    val streams = e.postingStreams(terms, 0).map(_.map { x => pulled += 1; x })
    var released = 0
    val chunks = QueryEngine.byChunk(streams).map { case (chunk, rows) =>
      // held now: this chunk's rows plus one read-ahead row per stream
      assert(pulled - released <= rows.size + streams.size, s"chunk $chunk")
      assert(rows.map(r => (r._1, r._2)).sorted == terms.filter(t => orc.tfs(t).keys.exists(_ / 64 == chunk)).sorted,
        s"chunk $chunk")
      released += rows.size
      chunk
    }.toList
    assert(chunks == terms.flatMap(t => orc.tfs(t).keys.map(_ / 64)).filter(_ < 8).distinct.sorted)
    assert(chunks.size >= 6 && released == pulled)

    // and the queries stay exact on both norms paths
    Seq("broadcast" -> e, "task-side norms" -> taskNormsEngine(dir)).foreach { case (path, eng) =>
      queries.foreach { case (name, q) =>
        val got = eng.topK(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got == Bm25Oracle.topK(orc, q), s"$path $name")
        assert(eng.matchCount(q) == Bm25Oracle.stats(orc, q).total, s"$path $name")
        val posts = q.terms.map(t => orc.tfs.getOrElse(t, Map.empty[Long, Int]).keySet)
        assert(eng.matchingDocIds(q).collect().map(_.getLong(0)).toSeq == posts.reduce(_ intersect _).toSeq.sorted,
          s"$path $name")
      }
    }
  }

  test("byChunk merges chunk-ascending streams and refuses one that steps back") {
    val merged = QueryEngine.byChunk(Seq(Iterator(1L -> "a", 4L -> "b"), Iterator.empty, Iterator(1L -> "c", 2L -> "d")))
    assert(merged.toList == List(1L -> Seq("a", "c"), 2L -> Seq("d"), 4L -> Seq("b")))
    val e = intercept[IllegalStateException](QueryEngine.byChunk(Seq(Iterator(3L -> 0, 1L -> 0))).toList)
    assert(e.getMessage.contains("chunk order"), e.getMessage)
  }

  test("count-only kernel: matchCount == oracle intersection size on the query set") {
    queries.foreach { case (name, q) =>
      val posts = q.terms.map(t => oracle.tfs.getOrElse(t, Map.empty[Long, Int]))
      val exp =
        if (q.terms.isEmpty || posts.exists(_.isEmpty)) 0L
        else posts.map(_.keySet).reduce(_ intersect _).size.toLong
      assert(engine.matchCount(q) == exp, name)
    }
  }

  test("matchingDocIds == oracle AND intersection, ascending, on both norms paths") {
    def check(e: QueryEngine, path: String): Unit = queries.foreach { case (name, q) =>
      val posts = q.terms.map(t => oracle.tfs.getOrElse(t, Map.empty[Long, Int]).keySet)
      val exp = if (posts.isEmpty) Seq.empty[Long] else posts.reduce(_ intersect _).toSeq.sorted
      val df = e.matchingDocIds(q)
      assert(df.columns.toSeq == Seq("docid"), s"$path $name")
      assert(df.collect().map(_.getLong(0)).toSeq == exp, s"$path $name")
    }
    assert(queries.count { case (_, q) => Bm25Oracle.stats(oracle, q).total > 1 } >= 5)
    check(engine, "broadcast")
    check(taskNormsEngine(), "task-side norms")
  }

  /** A fresh engine on the serving profile (perfbench's and graft.Bench's):
    * adaptive re-planning off, so a ranked query is one job. */
  private def servingEngine(dir: String = indexDir): QueryEngine = {
    built
    val serve = spark.newSession()
    serve.conf.set("spark.sql.adaptive.enabled", "false")
    new QueryEngine(serve, dir)
  }

  /** (Spark jobs, their stages) `f` submits from this thread. */
  private def jobsAndStagesOf(f: => Any): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"e2e-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          stages.addAndGet(e.stageInfos.size)
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try { f; ListenerBusDrain.drain(sc) } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    (jobs.get, stages.get)
  }

  /** Spark jobs `f` submits from this thread. */
  private def jobsOf(f: => Any): Int = jobsAndStagesOf(f)._1

  private def bucketOf(t: String): Int = IndexBuilder.bucketOf(t, engine.manifest.buckets)
  private def single(t: (String, String)) = SearchQuery(Seq(t), 10)
  private def oracleStats(t: (String, String)): Option[(Long, Long)] =
    oracle.tfs.get(t).map(m => (m.size.toLong, m.values.map(_.toLong).sum))

  test("term dictionary: a loaded bucket answers present and absent terms with no job") {
    val first = ("text", "error")
    val b = bucketOf(first._2)
    val other = oracle.tfs.keys.toSeq.sorted.find { case (f, t) => f == "text" && t != first._2 && bucketOf(t) == b }.get
    val absent = Iterator.from(0).map(i => ("text", s"zzzabsent$i")).find(t => bucketOf(t._2) == b).get
    // a URI with a scheme is sized from the same file listing as a path
    Seq(indexDir, "file://" + indexDir).foreach { dir =>
      val e = servingEngine(dir)
      assert(jobsOf(e.topK(single(first)).collect()) == 3, dir) // loads bucket b, the norms, then the kernel
      var got: Map[(String, String), (Long, Long)] = null
      assert(jobsOf { got = e.termStatsOf(single(other)) } == 0, s"$dir: present $other in loaded bucket $b")
      assert(got == oracleStats(other).map(other -> _).toMap)
      assert(jobsOf { got = e.termStatsOf(single(absent)) } == 0, s"$dir: absent $absent in loaded bucket $b")
      assert(got.isEmpty)
      // a new key whose terms are all resident: the kernel job only
      var hits: Seq[(Long, Double)] = Nil
      assert(jobsOf { hits = e.topK(single(other)).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq } == 1, dir)
      assert(hits == Bm25Oracle.topK(oracle, single(other)), dir)
    }
  }

  test("term dictionary: single-term termStatsOf == the termstats table, one job per bucket at most") {
    val e = servingEngine()
    val rows = spark.read.parquet(s"$indexDir/termstats").select("field", "term", "df", "pv").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
    assert(rows.length == oracle.tfs.size)
    // the engine knows the termstats schema: its first load is one job, with
    // no schema inference before it
    val first = jobsOf(assert(e.termStatsOf(single(rows.head._1)) == Map(rows.head)))
    assert(first == 1, s"$first jobs for a fresh engine's first dictionary load")
    val jobs = first + jobsOf(rows.foreach { case (t, dfPv) =>
      assert(e.termStatsOf(single(t)) == Map(t -> dfPv), s"$t")
    })
    assert(jobs <= e.manifest.buckets, s"$jobs termstats jobs for ${e.manifest.buckets} buckets")
  }

  test("one stage per query: with the dictionary warm, topK and a 2-term searchStats are 1 job of 1 stage") {
    val e = servingEngine()
    val q = SearchQuery.of(Seq("text" -> Seq("error", "timeout")), 10)
    e.termStatsOf(q)
    e.topK(SearchQuery.of(Seq("text" -> Seq("error")), 10)).collect() // the norms broadcast loads
    var hits: Seq[(Long, Double)] = Nil
    assert(jobsAndStagesOf { hits = e.topK(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq } == ((1, 1)))
    assert(hits == Bm25Oracle.topK(oracle, q))
    var stats: graft.query.SearchStats = null
    assert(jobsAndStagesOf { stats = e.searchStats(q) } == ((1, 1)))
    assert(stats == Bm25Oracle.stats(oracle, q) && stats.total > 0)
  }

  /** Opening an engine on `manifest`, a core.json of layout `old`, fails,
    * naming `old`, the reader's layout and the cure. */
  private def assertRefusesLayout(old: Int, manifest: String): Unit = {
    val dir = SparkSpec.tmpDir(s"graft-v$old")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "_manifest"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_manifest", "core.json"), manifest)
    val e = intercept[IllegalArgumentException](new QueryEngine(spark, dir))
    Seq(s"layout v$old", s"layout v${IndexBuilder.LayoutVersion}", "rebuild").foreach { s =>
      assert(e.getMessage.contains(s), e.getMessage)
    }
  }

  // named when the reader was layout v5; every later reader refuses v4 too.
  // A v4 manifest has no "ranges" and a 4-part buildId: the reader must
  // still parse it to refuse it readably.
  test("layout v5 reader refuses a v4 index with a message naming both layouts") {
    assertRefusesLayout(4,
      """{"buildId":"build-v4-3000-8-256-1a2b3c","numDocs":3000,"buckets":8,"chunkDocs":256,"blockSize":32,""" +
        """"avgdl":{"role":1.0,"text":9.5,"tool":1.0},"phasesMs":{}}""")
  }

  test("the reader refuses an index of the previous layout with a message naming both layouts") {
    val old = IndexBuilder.LayoutVersion - 1
    assertRefusesLayout(old,
      s"""{"buildId":"build-v$old-3000-8-256-4-1a2b3c","numDocs":3000,"buckets":8,"chunkDocs":256,"blockSize":32,""" +
        """"ranges":4,"avgdl":{"role":1.0,"text":9.5,"tool":1.0},"phasesMs":{}}""")
  }

  /** (field, term) rows in `t`'s termstats bucket. */
  private def bucketRows(t: (String, String)): Int = oracle.tfs.keys.count(k => bucketOf(k._2) == bucketOf(t._2))

  test("term dictionary: a load past the entry cap clears it wholesale, the query keeps its terms") {
    val e = servingEngine()
    val a = ("text", "error")
    val b = oracle.tfs.keys.toSeq.sorted.find { case (f, t) => f == "text" && bucketOf(t) != bucketOf(a._2) }.get
    def exp(ts: (String, String)*) = ts.map(t => t -> oracleStats(t).get).toMap
    def lookup(max: Int, ts: (String, String)*) = e.dictionaryLookup(ts, max, Long.MaxValue)
    assert(lookup(Int.MaxValue, a) == exp(a)) // a's bucket
    // room for either bucket, not both: publishing b's clears a's, yet the
    // result still holds a, read from the bucket map taken before the clear
    val cap = math.max(bucketRows(a), bucketRows(b))
    assert(bucketRows(a) + bucketRows(b) > cap)
    assert(jobsOf(assert(lookup(cap, a, b) == exp(a, b))) == 1)
    assert(jobsOf(assert(lookup(Int.MaxValue, b) == exp(b))) == 0, "b's bucket stays")
    assert(jobsOf(assert(lookup(Int.MaxValue, a) == exp(a))) == 1, "a's bucket was cleared")
  }

  test("term dictionary: a bucket past either cap never becomes resident, its stats stay exact") {
    val e = servingEngine()
    val a = ("text", "error")
    assert(e.dictionaryLookup(Seq(a), Int.MaxValue, Long.MaxValue) == Map(a -> oracleStats(a).get))
    val c = oracle.tfs.keys.toSeq.sorted.find { case (f, t) => f == "text" && bucketOf(t) != bucketOf(a._2) }.get
    val absent = Iterator.from(0).map(i => ("text", s"zzzabsent$i")).find(t => bucketOf(t._2) == bucketOf(c._2)).get
    val exp = Map(c -> oracleStats(c).get)
    // entry cap below the bucket's row count: loaded whole, served, not kept
    for (_ <- 1 to 2) assert(jobsOf(assert(e.dictionaryLookup(Seq(c, absent), bucketRows(c) - 1, Long.MaxValue) == exp)) == 1)
    // byte cap below the bucket's files: read by term pushdown, not kept
    for (_ <- 1 to 2) assert(jobsOf(assert(e.dictionaryLookup(Seq(c, absent), Int.MaxValue, 0L) == exp)) == 1)
    // neither evicted the resident bucket
    assert(jobsOf(assert(e.dictionaryLookup(Seq(a), Int.MaxValue, Long.MaxValue) == Map(a -> oracleStats(a).get))) == 0)
  }

  test("property: random AND queries, topK and matchCount == oracle on both norms paths") {
    // terms come from the index's own vocabulary: the 40 most frequent text
    // terms (so 2-4 term ANDs often intersect), any text term, every tool
    // and role term, and absent terms in each field
    def sorted(f: String) = oracle.tfs.toSeq.filter(_._1._1 == f).sortBy { case ((_, t), m) => (-m.size, t) }.map(_._1)
    val term: Gen[(String, String)] = Gen.frequency(
      4 -> Gen.oneOf(sorted("text").take(40)),
      1 -> Gen.oneOf(sorted("text")),
      2 -> Gen.oneOf(sorted("tool")),
      2 -> Gen.oneOf(sorted("role")),
      1 -> Gen.oneOf(Bm25Oracle.Fields).map(f => (f, "zzzabsent")))
    val query: Gen[SearchQuery] = for {
      n <- Gen.choose(1, 4)
      terms <- Gen.listOfN(n, term)
      k <- Gen.oneOf(1, 10, 100)
    } yield SearchQuery(terms.distinct, k)

    val taskEngine = taskNormsEngine()
    def bits(hits: Seq[(Long, Double)]) = hits.map { case (d, s) => (d, java.lang.Double.doubleToRawLongBits(s)) }
    var multiTermHits = 0
    val property = Prop.forAllNoShrink(query) { q =>
      val expTop = bits(Bm25Oracle.topK(oracle, q))
      val expCount = Bm25Oracle.stats(oracle, q).total
      if (q.terms.size > 1 && expCount > 0) multiTermHits += 1
      Seq("broadcast" -> engine, "task-side norms" -> taskEngine).map { case (path, e) =>
        val got = bits(e.topK(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
        (got == expTop) :| s"$path topK $q" && (e.matchCount(q) == expCount) :| s"$path matchCount $q"
      }.reduce(_ && _)
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(30)
      .withWorkers(1)
      .withInitialSeed(Seed(20261018L))
    val result = Test.check(params, property)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    assert(multiTermHits >= 5, s"only $multiTermHits multi-term cases had matches")
  }

  test("fetchFiltered: predicate applies below the top-k cut, scores exact") {
    val q = SearchQuery.of(Seq("text" -> Seq("error")), 12)
    val got = engine.fetchFiltered(q, col("role") === "user")
      .select("docId", "role", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val roleOf = oracleDocs.map(d => d.docId -> d.role).toMap
    val exp = Bm25Oracle.topK(oracle, q.copy(k = Int.MaxValue))
      .filter { case (d, _) => roleOf(d) == "user" }
      .take(12)
    assert(got.length == exp.length && got.nonEmpty)
    got.zip(exp).foreach { case ((d, role, s), (ed, es)) =>
      assert(d == ed && role == "user" && s == es) // exact-score parity
    }
    // the filter must NOT shrink the page below k while matches remain
    val unfiltered = Bm25Oracle.topK(oracle, q).map(_._1).toSet
    assert(got.exists(g => !unfiltered.contains(g._1)),
      "filtered page should reach past the unfiltered top-k (over-fetch works)")

    // cache correctness (round 5): the scoring subtree is cached per term
    // set — a SECOND call with a DIFFERENT predicate must not inherit the
    // first predicate's filter, and repeat calls stay stable
    val tools = engine.fetchFiltered(q, col("role") === "tool")
      .select("role").collect().map(_.getString(0))
    assert(tools.nonEmpty && tools.forall(_ == "tool"))
    val again = engine.fetchFiltered(q, col("role") === "user")
      .select("docId", "role", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(again.toSeq == got.toSeq)
    // matchCount memo: repeat call returns the identical count
    val q2 = SearchQuery.of(Seq("text" -> Seq("error", "timeout")), 10)
    assert(engine.matchCount(q2) == engine.matchCount(q2))
  }

}
