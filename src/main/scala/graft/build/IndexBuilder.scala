package graft.build

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.analyze.{Analyzer, Analyzers}
import graft.codec.PostingCodec
import graft.model.Posting
import graft.query.Bm25

/** Index layout + build configuration.
  *
  * Layout decisions vs the reference (SURVEY.md §1.3):
  *  - postings are doc-range CHUNKED (chunk = docId / chunkDocs) and
  *    term-hash BUCKETED (bucket = hash(term) % buckets). The bucket is the
  *    partition column — the analog of Poseidon's FileId = hash(TokenId)%1000
  *    sharding (docs/build_inverted_index.md:78-87) and gives query-time
  *    partition pruning; the chunk is the salt of the two-phase merge AND the
  *    unit of distributed intersection: every group is bounded by chunkDocs,
  *    so a stopword term at 10^12 turns becomes many parallel chunks instead
  *    of one 10^12-entry group (the reference instead CAPS lists at 1e6 and
  *    loses recall, ReduceGroupData.java:104-128 — we keep recall).
  *  - the chunks fall into `ranges` contiguous runs (range = chunk *
  *    ranges / numChunks). Postings are partitioned by (bucket, range) and
  *    norms by range, so one query task reads exactly its range's files of
  *    the query's buckets — no chunk shuffle (the Jigsaw idea: lay the data
  *    out to match the access unit). Each (bucket, range) directory is
  *    one file sorted by (field, term, chunk) (norms: one file per range,
  *    (field, chunk)), so the task reads one stream per query term, merges
  *    them by chunk and holds one chunk at a time, plus each stream's
  *    current row group: the chunkDocs bound holds for a query task as well
  *    as for the build.
  *  - docstore = plain columnar Parquet sorted by docId (rowgroup min/max
  *    prune hit fetches); replaces DocGz blocks + DocGzMeta KV
  *    (poseidon_if.proto:9-17).
  */
final case class IndexConfig(
    buckets: Int = 16,
    chunkDocs: Long = 1L << 16,
    blockSize: Int = PostingCodec.DefaultBlockSize,
    bucketGroups: Int = 1,
    docIdPartitions: Int = 0,
    /** Optional per-(field,term) posting cap: keep only the first N docIds,
      * mirroring the reference's 1e6-docId truncation skew guard
      * (ReduceGroupData.java:104-128 isInvalidData,
      * docs/build_inverted_index.md:66-68 — documented recall loss). Default
      * OFF (0): rank-identity requires complete postings; the rebuild's real
      * skew answer is the chunked layout, which bounds groups without
      * dropping data. */
    maxDocsPerTerm: Long = 0L)

final case class IndexManifest(
    buildId: String,
    numDocs: Long,
    buckets: Int,
    chunkDocs: Long,
    blockSize: Int,
    /** Chunk ranges: min(chunk count, the building session's shuffle
      * partitions); 0 in a manifest of a layout before v5. */
    ranges: Int,
    avgdl: Map[String, Double])

object IndexBuilder {

  /** Bumped on any change to the on-disk index layout; stamped into buildId
    * so cached indexes from older code are detected as stale. */
  val LayoutVersion = 5

  /** On-disk schemas, data columns then partition columns. Readers pass them
    * instead of inferring one, which costs a Spark job per table. */
  val PostingsSchema: StructType = new StructType()
    .add("field", StringType).add("term", StringType).add("chunk", LongType)
    .add("dfChunk", LongType).add("blob", BinaryType)
    .add("bucket", IntegerType).add("range", IntegerType)
  val NormsSchema: StructType = new StructType()
    .add("field", StringType).add("chunk", LongType).add("blob", BinaryType)
    .add("sum_dl", LongType).add("n_docs", LongType)
    .add("range", IntegerType)
  val TermstatsSchema: StructType = new StructType()
    .add("field", StringType).add("term", StringType).add("df", LongType).add("pv", LongType)
    .add("bucket", IntegerType)

  /** Term -> shard bucket: murmur3(seed 42), the same dispersion family the
    * reference uses for its HashId (LogParser.java:26-31, util/MurmurHash3
    * .java:66) AND exactly Spark's built-in `hash()` — so the build assigns
    * buckets with a codegen'd `pmod(hash(term), buckets)` column (no Scala
    * UDF in the per-occurrence hot path) while the query side computes the
    * identical bucket on the driver for partition pruning. */
  def bucketOf(term: String, buckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType, 42L).toInt
    ((h % buckets) + buckets) % buckets
  }

  /** Column form of bucketOf — MUST stay value-identical (BucketSpec). */
  def bucketCol(term: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(hash(term), lit(buckets))

  /** Default field set (sorted; the transcripts schema). Custom indexes pass
    * their own field->Analyzer map — any column set, any chain (ChainSpec). */
  val Fields: Seq[String] = Analyzers.byField.keys.toSeq.sorted

  /** Deterministic field order of an analyzer config. */
  def fieldsOf(analyzers: Map[String, Analyzer]): Seq[String] = analyzers.keys.toSeq.sorted

  /** (field, term, docId, tf, dl) — the analog of the reference mapper's
    * intermediate row (LogParser.java:21-53), with tf pre-counted per doc and
    * dl (per-field doc length) carried for local scoring.
    *
    * One typed flatMap, NO shuffle: a turn's tokens live in its own row, so
    * tf is countable in place — exactly the reference's map-side shape.
    * Each field's tokens come from its analyzer's Scala [[Analyzer.tokens]],
    * the one tokenizer every build and gate path shares.
    */
  def termOccs(docs: DataFrame,
               analyzers: Map[String, Analyzer] = Analyzers.byField): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fields = fieldsOf(analyzers)
    val anals = fields.map(analyzers) // positional, serializable (spec-carrying)
    docs.select((col("docId") +: fields.map(col)): _*)
      .flatMap { row =>
        val docId = row.getLong(0)
        fields.indices.flatMap { fi =>
          val v = if (row.isNullAt(fi + 1)) null else row.getString(fi + 1)
          val toks = anals(fi).tokens(v)
          val dl = toks.length
          if (dl == 0) Nil
          else {
            // tf per term via sort + run-length — same multiset as a
            // groupBy(identity) without its per-doc HashMap/Vector churn
            // (this flatMap runs once per turn in the build hot path)
            val arr = toks.toArray
            java.util.Arrays.sort(arr, Ordering.String)
            val out = scala.collection.mutable.ArrayBuffer[graft.model.TermOcc]()
            var i = 0
            while (i < arr.length) {
              var j = i + 1
              while (j < arr.length && arr(j) == arr(i)) j += 1
              out += graft.model.TermOcc(fields(fi), arr(i), docId, j - i, dl)
              i = j
            }
            out
          }
        }
      }
      .toDF()
      .select(col("field"), col("term"), col("docId"), col("tf"), col("dl"))
  }

  /** Full build: docIds -> docstore + postings + termstats + manifest.
    * Resumable: bucket-group g is skipped when its manifest part exists
    * (kill/rerun produces identical index content — ResumeSpec).
    */
  def build(spark: SparkSession, turns: DataFrame, dir: String,
            cfg: IndexConfig = IndexConfig(),
            analyzers: Map[String, Analyzer] = Analyzers.byField): IndexManifest = {
    val fields = fieldsOf(analyzers)
    import spark.implicits._
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // the posting aggregation has ~|vocab| * chunks groups; the default
    // ObjectHashAggregate fallback (128 groups) would silently degrade it to
    // a full sort of every occurrence row per partition
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "33554432")

    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifestDir = new Path(dir, "_manifest")
    fs.mkdirs(manifestDir)

    def wipeForNewBuild(buildId: String): Unit = {
      Seq("docstore", "norms", "postings", "termstats", "_manifest").foreach { d =>
        fs.delete(new Path(dir, d), true)
      }
      fs.mkdirs(manifestDir)
      val tmp = new Path(manifestDir, ".build_id.txt.tmp")
      val out = fs.create(tmp, true)
      out.write(buildId.getBytes("UTF-8"))
      out.close()
      fs.rename(tmp, new Path(manifestDir, "build_id.txt"))
    }
    def priorBuildId(): Option[String] = {
      val p = new Path(manifestDir, "build_id.txt")
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes); in.close()
        Some(new String(bytes, "UTF-8"))
      }
    }

    // wall time per build phase, recorded in _manifest/core.json (phasesMs)
    val phasesMs = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    var tPhase = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phasesMs += name -> (now - tPhase) / 1000000L
      tPhase = now
    }

    // docs itself is not persisted — every consumer streams a cheap
    // per-partition pass over DocIds' pinned sorted intermediate
    // numDocs rides out of DocIds pass 1 (the P-row partition tally) — the
    // pinned sort is already materialized by that pass's collect, so a
    // separate docs.count() here would re-walk the whole persisted corpus
    // for a number we already have (a measured serial second on the 1-core
    // scaling leg). Per-field avgdl is likewise NOT a separate tokenize
    // pass — it rides out of the norms job below (sum_dl/n_docs columns),
    // which already tokenizes every field once.
    val (docs, sortedHandle, numDocs) = DocIds.assignWithHandle(turns, cfg.docIdPartitions)
    phase("docids")
    // analyzer config identity rides in the id: a field set or chain change
    // must invalidate resume, not silently reuse old postings
    val cfgHash = (fields.map(f => s"$f=${analyzers(f).spec}").mkString(";").hashCode
      & 0x7fffffff).toHexString
    // the query's unit of work: min(chunk count, shuffle partitions) ranges,
    // the size the chunk shuffle used to take at query time. Part of the id,
    // so a resume under another partition count cannot mix range layouts.
    val numChunks = math.max(1L, (numDocs + cfg.chunkDocs - 1) / cfg.chunkDocs)
    val ranges = math.min(numChunks, spark.sessionState.conf.numShufflePartitions.toLong).toInt
    // range of the `chunk` column: `ranges` contiguous runs of the chunks,
    // in chunk order (integral division, exact)
    val rangeOfChunk = expr(s"CAST((chunk * $ranges) div $numChunks AS INT)")
    val buildId = f"build-v${IndexBuilder.LayoutVersion}%d-${numDocs}%d-${cfg.buckets}%d-${cfg.chunkDocs}%d-$ranges%d-$cfgHash%s"

    // Resume gate: everything under `dir` is trusted ONLY if it was produced
    // by this exact buildId (layout version + corpus size + config). A
    // leftover index from an older layout or different config is wiped
    // whole — resuming "around" it would silently mix incompatible artifacts
    // (found in round 2: a pre-LayoutVersion postings dir surviving under a
    // new manifest sent the WAND skip loop spinning on garbage block
    // metadata). A killed build of the SAME id leaves build_id.txt behind
    // and resumes as before. NOTE: the id hashes config + numDocs, not
    // corpus content — resume assumes the same input, like the reference's
    // begin-docid side files.
    if (!priorBuildId().contains(buildId)) wipeForNewBuild(buildId)

    // docstore: sorted by docId => parquet min/max rowgroup pruning on fetch.
    // DocIds.assign already range-partitioned + sorted by (conv_id, turn_idx)
    // == docId order, so no re-sort exchange is needed — write as-is.
    if (!fs.exists(new Path(dir, "docstore/_SUCCESS"))) {
      docs.write.mode("overwrite").parquet(s"$dir/docstore")
    }
    phase("docstore")

    // norms sidecar: per (field, chunk) packed dl array, direct-indexed by
    // docId - chunk*chunkDocs (docIds are rank-dense). Lucene-style: dl is
    // per (field, doc); keeping it out of the postings saves ~30% of index
    // bytes (it would otherwise repeat ~df times per doc). Each row also
    // carries (sum_dl, n_docs) so corpus avgdl falls out of a metadata-sized
    // aggregate instead of a second full tokenize pass (dl is integer, so
    // any summation order gives the identical double avgdl the oracle's
    // avg() computes).
    if (!fs.exists(new Path(dir, "norms/_SUCCESS"))) {
      val chunkDocsL = cfg.chunkDocs
      val dlRows = fields.map { f =>
        docs.select(
          lit(f).as("field"),
          (col("docId") / cfg.chunkDocs).cast("long").as("chunk"),
          col("docId"),
          size(analyzers(f).tokensUdf(col(f))).as("dl"))
      }.reduce(_ unionAll _)
      dlRows.as[(String, Long, Long, Int)]
        .groupByKey(r => (r._1, r._2))
        .mapGroups { (key: (String, Long), it: Iterator[(String, Long, Long, Int)]) =>
          val (field, chunk) = key
          val entries = it.toArray
          val base = chunk * chunkDocsL
          val arr = new Array[Int](entries.length)
          var sumDl = 0L
          entries.foreach { case (_, _, docId, dl) =>
            arr((docId - base).toInt) = dl
            sumDl += dl
          }
          (field, chunk, graft.codec.PostingCodec.encodeNorms(arr), sumDl, entries.length.toLong)
        }
        .toDF("field", "chunk", "blob", "sum_dl", "n_docs")
        .withColumn("range", rangeOfChunk)
        // one file per range, in (field, chunk) order: the task-side norms
        // read streams each field's rows chunk-ascending from one file
        // (partition columns lead the sort, as for the postings below)
        .repartition(col("range"))
        .sortWithinPartitions("range", "field", "chunk")
        .write.mode("overwrite").partitionBy("range").parquet(s"$dir/norms")
    }
    phase("norms")
    // avgdl over ALL docs (zero-token docs included), from the norms stats
    val avgdl = spark.read.schema(NormsSchema).parquet(s"$dir/norms")
      .groupBy("field").agg(sum("sum_dl").as("s"), sum("n_docs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble / r.getLong(2).toDouble)
      .toMap
    phase("avgdl")

    val occs = termOccs(docs, analyzers)
      .withColumn("bucket", bucketCol(col("term"), cfg.buckets))
      .withColumn("chunk", (col("docId") / cfg.chunkDocs).cast("long"))

    // Posting grouping: one hash-aggregate with the PostingAgg UDAF per
    // (field, term, bucket, chunk). A sort-based alternative (re-sort every
    // occurrence row on the 5-part key, then a streaming run-length grouper)
    // produced identical groups but measured 3-15% slower at every size and
    // parallelism tried (BASELINE.md), so the hash path is the only one.
    val postingUdaf = udaf(PostingAgg)
    val groupedRaw = occs.groupBy("field", "term", "bucket", "chunk")
      .agg(postingUdaf(col("docId"), col("tf"), col("dl")).as("p"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // header stats: df (uv) + pv per term, reference header semantics
    // (InvertedIndexGenerateReducer.java:390-395). Derived from the chunk
    // rows — a #(term,chunk)-row aggregate — instead of re-shuffling every
    // occurrence row a second time.
    // persisted: consumed by BOTH the encode join and the termstats write —
    // unpersisted it re-scans the heavy groupedRaw cache (deserializing every
    // posting array a second time just to size it); the persisted frame is
    // vocab-sized (field, term, bucket, df, pv), tiny next to the arrays
    val stats = groupedRaw
      .select(col("field"), col("term"), col("bucket"),
        size(col("p.docIds")).cast("long").as("dfc"),
        expr("aggregate(p.tfs, CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("pvc"))
      .groupBy("field", "term", "bucket")
      .agg(sum("dfc").as("df"), sum("pvc").as("pv"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // optional truncation cap (isInvalidData mirror): running doc count per
    // term over chunk order; drop/trim chunks past the cap. The window
    // partitions by (field, term) over per-chunk rows — bounded by
    // #chunks-per-term, never by postings.
    val capped = if (cfg.maxDocsPerTerm <= 0) groupedRaw else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("field", "term").orderBy("chunk")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      groupedRaw
        .withColumn("prior", coalesce(sum(size(col("p.docIds"))).over(w), lit(0L)))
        .filter(col("prior") < cfg.maxDocsPerTerm)
        .withColumn("keep", least(lit(cfg.maxDocsPerTerm) - col("prior"),
          size(col("p.docIds")).cast("long")).cast("int"))
        .withColumn("p", struct(
          slice(col("p.docIds"), lit(1), col("keep")).as("docIds"),
          slice(col("p.tfs"), lit(1), col("keep")).as("tfs"),
          slice(col("p.dls"), lit(1), col("keep")).as("dls")))
        .drop("prior", "keep")
    }
    // no broadcast hint here on purpose: stats is vocab-sized (can be tens
    // of GB at web scale) — AQE converts to broadcast at runtime when it IS
    // small; a measured A/B at 2M turns showed the hint changes nothing
    // (the phase cost is encode+write, not this join)
    val grouped = capped
      .join(stats.select("field", "term", "df"), Seq("field", "term"))

    val n = numDocs
    val avgdlB = spark.sparkContext.broadcast(avgdl)
    val blockSize = cfg.blockSize
    val encodeU = udf((docIds: Seq[Long], tfs: Seq[Int], dls: Seq[Int], df: Long, field: String) => {
      val idf = Bm25.idf(n, df)
      val avg = avgdlB.value(field)
      val arr = new Array[Posting](docIds.length)
      var i = 0
      while (i < arr.length) { arr(i) = Posting(docIds(i), tfs(i), dls(i)); i += 1 }
      PostingCodec.encode(arr, (tf, dl) => Bm25.contribution(tf, dl, idf, avg), blockSize)
    })

    val postingRows = grouped.select(
      col("field"), col("term"), col("bucket"), col("chunk"),
      size(col("p.docIds")).cast("long").as("dfChunk"),
      encodeU(col("p.docIds"), col("p.tfs"), col("p.dls"), col("df"), col("field")).as("blob"))

    // (groupedRaw cache materializes with the first consumer — no extra job)

    val groups = math.max(1, cfg.bucketGroups)
    (0 until groups).foreach { g =>
      val done = new Path(manifestDir, s"group-$g.json")
      if (!fs.exists(done)) {
        val t0 = System.nanoTime()
        // one task per (bucket, range) directory, so each holds one file and
        // a query task reads a term of the range as ONE stream, row group by
        // row group. Several files per directory would be several streams
        // open at once, each holding its current row group's pages. Keys
        // are no fewer than the parallelism: with at least as many chunks as
        // shuffle partitions there are buckets x partitions of them, else
        // one chunk per range. The file is in (field, term, chunk) order: the
        // term's rows are chunk-ascending and its row groups contiguous for
        // its pushdown. The sort leads with the partition columns, so the
        // writer keeps it: given any other order the writer re-sorts by the
        // partition columns alone and the (field, term, chunk) order is lost.
        val part = postingRows.filter(col("bucket") % groups === g)
          .withColumn("range", rangeOfChunk)
          .repartition(col("bucket"), col("range"))
          .sortWithinPartitions("bucket", "range", "field", "term", "chunk")
        part.write.mode("overwrite").partitionBy("bucket", "range").parquet(s"$dir/postings")
        phase(s"postings_g$g")
        stats.filter(col("bucket") % groups === g)
          .repartition(col("bucket")) // one task per bucket dir: files stay
          // bounded by #buckets, not tasks x buckets (commit cost is per file)
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/termstats")
        phase(s"termstats_g$g")
        val wallMs = (System.nanoTime() - t0) / 1000000L
        // lineage + metrics per completed group, written atomically (tmp+rename)
        val tmp = new Path(manifestDir, s".group-$g.json.tmp")
        val out = fs.create(tmp, true)
        out.write(
          s"""{"buildId":"$buildId","group":$g,"groups":$groups,"wallMs":$wallMs,"finishedAt":"${java.time.Instant.now()}"}"""
            .getBytes("UTF-8"))
        out.close()
        fs.rename(tmp, done)
      }
    }

    val manifest = IndexManifest(buildId, numDocs, cfg.buckets, cfg.chunkDocs, cfg.blockSize, ranges, avgdl)
    writeManifest(fs, new Path(manifestDir, "core.json"), manifest, phasesMs.toSeq)
    groupedRaw.unpersist(); stats.unpersist(); sortedHandle.unpersist()
    manifest
  }

  /** `phasesMs` (phase name -> wall ms, in build order) is written as an
    * additive `phasesMs` object after the layout keys; [[readManifest]]
    * does not need it. */
  def writeManifest(fs: org.apache.hadoop.fs.FileSystem, p: Path, m: IndexManifest,
                    phasesMs: Seq[(String, Long)]): Unit = {
    val avg = m.avgdl.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val phases = phasesMs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val json =
      s"""{"buildId":"${m.buildId}","numDocs":${m.numDocs},"buckets":${m.buckets},"chunkDocs":${m.chunkDocs},"blockSize":${m.blockSize},"ranges":${m.ranges},"avgdl":$avg,"phasesMs":$phases}"""
    val tmp = new Path(p.getParent, "." + p.getName + ".tmp")
    val out = fs.create(tmp, true)
    out.write(json.getBytes("UTF-8"))
    out.close()
    fs.delete(p, false)
    fs.rename(tmp, p)
  }

  def readManifest(spark: SparkSession, dir: String): IndexManifest = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(dir, "_manifest/core.json")
    val in = fs.open(p)
    val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    in.readFully(bytes)
    in.close()
    val s = new String(bytes, "UTF-8")
    def longOpt(k: String): Option[Long] = s"""\"$k\":(\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
    def longOf(k: String): Long = longOpt(k).get
    def strOf(k: String): String = (s"""\"$k\":\"([^\"]*)\"""").r.findFirstMatchIn(s).get.group(1)
    // the avgdl object only: keys written after it (phasesMs) are not fields
    val avgFrom = s.indexOf("\"avgdl\":") + 8
    val avg = """"(\w+)":([0-9.Ee+-]+)""".r.findAllMatchIn(
      s.substring(avgFrom, s.indexOf('}', avgFrom))).map(m => m.group(1) -> m.group(2).toDouble).toMap
    IndexManifest(strOf("buildId"), longOf("numDocs"), longOf("buckets").toInt,
      longOf("chunkDocs"), longOf("blockSize").toInt, longOpt("ranges").getOrElse(0L).toInt, avg)
  }
}
