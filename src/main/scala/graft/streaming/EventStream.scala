package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming rebuild of the reference's incremental ingestion
  * semantics (docformat daemon, SURVEY.md §2.8): event-time bucketing
  * (T1, logto_hdfs_collector.go:276-307 getMinute) becomes a tumbling
  * window; the flush-after-lateness rule (T2, flush:337-390) becomes a
  * watermark. Driven synchronously over the batch parquet via the file
  * source + memory sink so the same code is testable without a daemon.
  */
object EventStream {

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private val nameCounter = new AtomicInteger(0)

  /** Windowed per-hour counts/sums by event_type, computed by an actual
    * streaming query — COMPLETE output mode to a memory sink. This is the
    * gate-harness form: the input arrives as one batch, and a watermark
    * never finalizes windows it hasn't seen data beyond, so append mode
    * would emit nothing here; complete mode shows the full aggregate (the
    * declared watermark is inert in this mode). The production shape — the
    * reference's T2 lateness flush — is `hourlyAppendToParquet` below,
    * exercised across multiple micro-batches in StreamAppendSpec. */
  def hourlyByType(spark: SparkSession, sfDir: String): DataFrame = {
    val table = s"graft_stream_out_${nameCounter.incrementAndGet()}"
    // the file source needs a directory: expose the single parquet via a
    // symlinked temp dir (testdata itself is read-only)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream")
    streamDir.toFile.deleteOnExit()
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("events.parquet"),
      java.nio.file.Path.of(sfDir, "events.parquet").toAbsolutePath)
    val stream = spark.readStream
      .schema(schema)
      .parquet(streamDir.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
    // 8 state partitions for ~720 hour windows — see hourlyAppendGate
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = stream.writeStream
        .format("memory")
        .queryName(table)
        .outputMode("complete")
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    spark.table(table).orderBy("hour", "event_type")
  }

  /** Gate harness for the append-mode production shape below: feeds the
    * batch events table as TWO chronological micro-batches through
    * `hourlyAppendToParquet` (so the emit-once-on-watermark path actually
    * runs across batch boundaries) and returns the parquet the stream
    * wrote. Output rows exist only for windows the final watermark closed —
    * hour end <= max(ts) - 1 hour — each exactly once, which is what the
    * DuckDB oracle reproduces. Chronological batches mean nothing arrives
    * beyond-bound late, so no rows drop and the oracle stays exact. */
  def hourlyAppendGate(spark: SparkSession, sfDir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft-stream-append")
    base.toFile.deleteOnExit()
    val src = s"$base/src"; val out = s"$base/out"; val ckp = s"$base/ckp"
    new java.io.File(src).mkdirs()
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val stage = s"$base/stage"
    if (!stageBatches(ev, stage)) // schema-stable empty result for an empty events table
      return spark.range(0).select(lit("").as("hour"), lit("").as("event_type"),
        lit(0L).as("n"), lit(0.0).as("sum_value"))
    // Files land in the SOURCE dir one batch at a time, only while NO query
    // is running (see below), so the non-atomic multi-file move cannot be
    // half-read.
    def landBatch(name: String): Unit = {
      val dir = new java.io.File(s"$stage/b=$name")
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (part, i) =>
          java.nio.file.Files.move(part.toPath, java.nio.file.Path.of(src, s"$name-$i.parquet"))
        }
    }
    // one query RUN per batch, resumed from the shared checkpoint: the
    // stream is stopped while b2's files land (a live file source could
    // list a partial multi-file batch, advance the watermark on the subset
    // and drop the rest as late), and the gate additionally exercises
    // checkpoint restart — watermark state carries across the resume
    def runBatch(): Unit = {
      val q = hourlyAppendToParquet(spark, src, out, ckp)
      try q.processAllAvailable() finally q.stop()
    }
    // scope the stateful operator to 8 state-store partitions for the gate
    // run (720 hour windows need no more; 32 stores × 2 query runs is pure
    // per-batch commit overhead) — the count is baked into the checkpoint at
    // first start, so both runs see the same value
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      landBatch("b1")
      runBatch()
      landBatch("b2")
      runBatch()
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    spark.read.schema("hour STRING, event_type STRING, n BIGINT, sum_value DOUBLE")
      .parquet(out).orderBy("hour", "event_type")
  }

  /** Stages `ev` as two chronological batches for [[hourlyAppendGate]]:
    * `stage/b=b1` holds ts < boundary and `stage/b=b2` holds ts >= boundary,
    * where boundary is the middle DISTINCT HOUR (a few collected rows — a
    * row_number split needed a single-partition global sort of the whole
    * table, the gate-harness hotspot at sf0.1). BOTH batches are written in
    * ONE partitioned write (a per-batch write ran the events scan twice);
    * the partitionBy flag column is layout-only and is not written into the
    * parquet schema. A row with a null ts has no event time, so it belongs
    * to neither batch and is dropped. Returns false, writing nothing, when
    * no row has a ts. */
  private[graft] def stageBatches(ev: DataFrame, stage: String): Boolean = {
    val timed = ev.filter(col("ts").isNotNull)
    val hours = timed.select(date_trunc("hour", col("ts")).as("h"))
      .distinct().orderBy("h").collect().map(_.getTimestamp(0))
    if (hours.isEmpty) return false
    val boundary = hours(hours.length / 2)
    timed.withColumn("b", when(col("ts") < lit(boundary), "b1").otherwise("b2"))
      .write.mode("overwrite").partitionBy("b").parquet(stage)
    true
  }

  /** Production shape — the reference's size/lateness flush (T2/T3,
    * logto_hdfs_collector.go:337-390) as a watermarked APPEND-mode stream to
    * a parquet sink: a window row is written exactly once, when the
    * watermark (max event time - 1 hour) passes its end — late data inside
    * the lateness bound still lands in its window; anything later is
    * dropped, like the reference's flushed-minute rule. Caller drives the
    * returned query (processAllAvailable per arriving file batch) and owns
    * the checkpoint dir — kill/restart resumes exactly-once from it. */
  def hourlyAppendToParquet(spark: SparkSession, srcDir: String, outDir: String,
                            checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }
}
