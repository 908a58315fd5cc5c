package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted doc-level signature store — incremental dedup WITHOUT
  * re-tokenizing the corpus: each ingest batch appends its documents'
  * minhash signatures, sorted token sets, and JOIN-READY band rows once;
  * thereafter a batch's near-dup check is a band-key join of the batch's
  * (small, broadcast) band rows against the persisted band table plus a
  * candidate-driven verify over the persisted token sets. Per-batch cost
  * scales with the batch and its candidates — the corpus is touched only
  * through columnar reads of slim tables, never through text analysis
  * again. This closes `minhashLshIncremental`'s documented caveat (it
  * recomputes signatures corpus-wide per call).
  *
  * Layout under `dir`:
  *   signatures/batch_id=N/          (doc_id LONG, mhs ARRAY<LONG>)
  *   tokensets/batch_id=N/           (doc_id LONG, ts ARRAY<STRING>)
  *   bands/batch_id=N/bucket=K/      (sid LONG, band INT, sigh LONG,
  *                                    bslice ARRAY<LONG>)
  * Appends are idempotent per batch (dynamic partition overwrite), matching
  * StreamDedup's replay contract.
  *
  * Scale shape of the per-batch check (round-5 redesign — the previous
  * shape exploded and SHUFFLED the full signature table per batch, so
  * per-batch cost grew with the store: IncrProbe measured 5.5 s at a 190k
  * store → 14.7 s at 950k):
  *   - band rows are precomputed at APPEND time — no per-batch xxhash /
  *     explode over the store;
  *   - the store side is partitioned by (batch_id, bucket = sigh mod
  *     [[BandBuckets]]); the batch's touched buckets prune the scan to
  *     colliding partitions (decisive when batches are small relative to
  *     the bucket count);
  *   - the batch's band rows are BROADCAST, so the store side never
  *     shuffles: the join is a columnar scan probing an in-memory hash
  *     table (falls back to a planner-chosen join above
  *     [[BroadcastFreshLimit]] rows);
  *   - candidate exactness matches the in-memory operator: band keys
  *     compare by 64-bit sigh for speed, then by the REAL band slice
  *     (`bslice`), so a hash collision cannot create a candidate;
  *     multi-band collisions collapse via a candidate-scale distinct.
  *
  * Semantics: doc-level LSH — identical to [[Dedup.minhashLsh]]'s output
  * restricted to pairs touching the fresh suffix (identical-set docs carry
  * identical signatures, so they always collide in every band and verify at
  * J = 1; SigStoreSpec asserts equality with minhashLshIncremental).
  * Token-less docs are outside the similarity domain, as everywhere.
  */
object SignatureStore {

  /** Band-bucket partition fan-out of the bands table. Trade-off: pruning
    * granularity (a batch touching T distinct band keys reads ≈
    * min(T, BandBuckets)/BandBuckets of the store) vs. files-per-append
    * (≤ BandBuckets); compaction (below) keeps the long-run file count at
    * one well-sized file per bucket regardless of batch count. */
  val BandBuckets = 32

  /** Above this many fresh band rows the batch side is no longer hinted as
    * a broadcast (≈ 4M rows ≈ 1M docs ≈ 250 MB hashed) — the planner picks
    * the join for the rare giant-batch case instead. */
  val BroadcastFreshLimit = 4000000L

  private def numBands = Dedup.NumHashes / Dedup.BandRows

  /** Append one batch's signatures + token sets + band rows (documents:
    * doc_id, text). All three writes are idempotent per batch: a replay
    * rewrites its own batch_id partition(s). */
  def append(spark: SparkSession, batchDocs: DataFrame, dir: String,
             batchId: Long): Unit = {
    import spark.implicits._
    val sets = batchDocs.select(col("doc_id"), Dedup.tokenSetC(col("text")).as("ts"))
      .filter(size(col("ts")) > 0)
    // signatures via the shared compiled kernel (Dedup.minhashOfTerms —
    // value-identical to the former explode + 16-column min-agg, see
    // Dedup.affineMins): one narrow pass over the batch, no token explode,
    // no extra shuffle at append time
    val mh = sets.as[(Long, Array[String])]
      .map { case (id, ts) => (id, Dedup.minhashOfTerms(ts)) }
      .toDF("doc_id", "mhs")
    mh.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$dir/signatures")
    sets.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$dir/tokensets")
    // join-ready band rows, bucketed by sigh so future batches prune;
    // repartition(bucket) first or every task writes a file per bucket
    bandRowsOf(spark.read.parquet(s"$dir/signatures")
        .filter(col("batch_id") === lit(batchId)).select("doc_id", "mhs"))
      .withColumn("batch_id", lit(batchId))
      .repartition(col("bucket"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "bucket").parquet(s"$dir/bands")
  }

  /** (sid, band, sigh, bslice, bucket) rows for a (doc_id, mhs) frame. */
  private def bandRowsOf(mh: DataFrame): DataFrame =
    (0 until numBands).map { b =>
      mh.select(col("doc_id").as("sid"), lit(b).as("band"),
        slice(col("mhs"), b * Dedup.BandRows + 1, Dedup.BandRows).as("bslice"))
    }.reduce(_ unionAll _)
      .withColumn("sigh", xxhash64(col("bslice")))
      .withColumn("bucket", pmod(col("sigh"), lit(BandBuckets.toLong)).cast("int"))

  /** Near-dup pairs (a, b, j) with J >= threshold touching the fresh docId
    * suffix (b >= freshFrom), computed entirely from the store. Pass the
    * fresh batch's `batchId` when known (StreamDedup does) so the fresh
    * side reads ONE batch partition instead of filtering the whole table. */
  def pairsTouchingFresh(spark: SparkSession, dir: String, freshFrom: Long,
                         threshold: Double,
                         batchId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    recover(spark, dir) // finish a crash-interrupted compaction's deletes
    val bands = spark.read.parquet(s"$dir/bands")
    val fresh0 = batchId.fold(bands)(id => bands.filter(col("batch_id") === lit(id)))
      .filter(col("sid") >= lit(freshFrom))
    val fresh = fresh0.select(col("sid").as("fsid"), col("band").as("fband"),
      col("sigh").as("fsigh"), col("bslice").as("fbslice"), col("bucket"))
    // one batch-sized pass: touched buckets (drives partition pruning of
    // the store scan) + fresh row count (drives the broadcast decision)
    val stats = fresh.groupBy("bucket").count().collect()
    val touched = stats.map(_.getInt(0)).toSeq
    val freshRows = stats.map(_.getLong(1)).sum
    val store = bands.filter(col("bucket").isin(touched: _*))
      .select(col("sid"), col("band"), col("sigh"), col("bslice"))
    val freshSide = if (freshRows <= BroadcastFreshLimit) broadcast(fresh) else fresh
    // epoch-ordered suffix: the larger side b of every emitted pair is
    // fresh, so the store side joins against FRESH rows only — including
    // fresh×fresh in-batch pairs, whose smaller member is also in the
    // store (append ran first). sigh equi-key for join speed, real-slice
    // equality for exactness, candidate-scale distinct for multi-band hits.
    val cand = store.join(freshSide,
        col("band") === col("fband") && col("sigh") === col("fsigh") &&
          col("bslice") === col("fbslice") && col("sid") < col("fsid"))
      .select(col("sid").as("sa"), col("fsid").as("sb"))
      .distinct()
    // every doc is its own "group": members = [doc_id], sid = doc_id — the
    // shared verify cogroup then ships only candidate docs' token sets
    val groups = spark.read.parquet(s"$dir/tokensets")
      .select(col("ts"), array(col("doc_id")).as("members"), col("doc_id").as("sid"))
    Dedup.verifyCandidatePairs(groups, cand, threshold)
      .filter(col("b") >= lit(freshFrom))
      .select(col("a"), col("b"), round(col("j"), 6).as("j"))
      .orderBy("a", "b")
  }

  // ---- compaction ----------------------------------------------------

  /** The consolidated partition every compaction folds into. Real batch ids
    * are >= 0, so no collision with a replayed append. */
  private val CompactedBatchId = -1L

  private def manifestPath(dir: String) = s"$dir/_compact_manifest.json"

  /** Merge every batch partition with 0 <= batch_id <= upTo (plus any prior
    * consolidated partition) into the single partition batch_id = -1, then
    * delete the source partitions — the compaction story for a long-lived
    * store, where thousands of micro-batches otherwise mean thousands of
    * small files per subtable (bands gets ≤ BandBuckets files per APPEND).
    *
    * SAFETY: `upTo` must only cover batches the streaming engine has
    * COMMITTED (StreamDedup passes batchId - 1: foreachBatch serializes
    * batches, so only the in-flight batch can ever replay). Crash windows
    * are benign and self-healing:
    *   - crash before the consolidated write commits: nothing changed;
    *   - crash after the write but before source deletion: rows exist
    *     twice, but every read path collapses duplicates by construction
    *     (candidates are distinct, the verify cogroup keys sets by sid,
    *     signature aggs are max/min) and the next compact() dropDuplicates
    *     pass heals the store itself;
    *   - crash mid-deletion: the manifest (written only AFTER the
    *     consolidated commit) lists the doomed directories; recover() —
    *     called by compact and the read path — finishes the deletes. */
  def compact(spark: SparkSession, dir: String, upTo: Long): Unit = {
    require(upTo >= 0, s"compact upTo must be >= 0, got $upTo")
    recover(spark, dir)
    val subs = Seq(
      ("signatures", Seq("doc_id"), Seq("batch_id")),
      ("tokensets", Seq("doc_id"), Seq("batch_id")),
      ("bands", Seq("sid", "band"), Seq("batch_id", "bucket")))
    val doomed = scala.collection.mutable.ArrayBuffer.empty[String]
    subs.foreach { case (sub, keys, partCols) =>
      val path = s"$dir/$sub"
      val all = spark.read.parquet(path)
      val merged = all
        .filter(col("batch_id") <= lit(upTo)) // includes a prior -1
        .dropDuplicates(keys) // heals a half-finished earlier compaction
        .withColumn("batch_id", lit(CompactedBatchId))
      val sized =
        if (partCols.contains("bucket")) merged.repartition(col("bucket"))
        else merged.coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4))
      sized.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCols: _*).parquet(path)
      val dirFile = new java.io.File(path)
      Option(dirFile.listFiles()).getOrElse(Array.empty).foreach { f =>
        val n = f.getName
        if (n.startsWith("batch_id=") && !n.endsWith(s"=$CompactedBatchId")) {
          val id = n.stripPrefix("batch_id=").toLong
          if (id >= 0 && id <= upTo) doomed += f.getAbsolutePath
        }
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(manifestPath(dir)),
      doomed.map(p => "\"" + p + "\"").mkString("[", ",", "]"))
    deleteDoomed(dir)
  }

  /** Finish a crash-interrupted compaction: delete the directories the
    * manifest marked doomed (their rows are already in batch_id=-1). */
  def recover(spark: SparkSession, dir: String): Unit =
    if (new java.io.File(manifestPath(dir)).exists()) deleteDoomed(dir)

  private def deleteDoomed(dir: String): Unit = {
    val mp = java.nio.file.Paths.get(manifestPath(dir))
    val listed = java.nio.file.Files.readString(mp)
      .split(',').map(_.trim.stripPrefix("[").stripSuffix("]").trim)
      .filter(_.nonEmpty).map(_.stripPrefix("\"").stripSuffix("\""))
    listed.foreach(p => graft.FsUtil.deleteRecursively(new java.io.File(p)))
    java.nio.file.Files.deleteIfExists(mp)
  }
}
