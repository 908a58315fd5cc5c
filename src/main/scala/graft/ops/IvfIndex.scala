package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-flat approximate-nearest-neighbor index — the coarse-quantizer scale
  * path complementing the sign-LSH buckets (AnnIndex): vectors are assigned
  * to their nearest CENTROID (inverted list) and the index table is
  * partitionBy(centroid); a query scans only its `nprobe` nearest centroids'
  * partitions. Centroid count scales as ~sqrt(n) (the classic IVF sizing),
  * so candidate volume per query is ~n/sqrt(n)*nprobe — sub-linear scan
  * with a tunable recall knob, where sign-LSH selectivity is fixed by bits.
  *
  * Centroids are DETERMINISTIC: seeded as the k lowest-vec_id vectors (a
  * uniform sample under hash-assigned ids), optionally refined with
  * deterministic Lloyd iterations (`refine`, partitioning-independent
  * vec_id-ordered means). Refinement only moves bucket boundaries — the
  * index/query contract (argmin-L2 assignment, nprobe probing, exact cosine
  * re-rank) is identical, so the oracle-checked gates run unrefined while
  * production builds opt into `lloydIters`.
  */
object IvfIndex {

  /** The k lowest-vec_id vectors as centroids: (centroidId 0..k-1 in vec_id
    * order, vector). A uniform sample under hash-assigned ids; `refine`
    * below moves them toward the data's real cluster structure. */
  def centroids(emb: DataFrame, k: Int): Array[(Int, Array[Float])] =
    emb.select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").limit(k).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).toArray) }

  /** df + `centroid` column = argmin-L2 over the centroids, computed by a
    * COMPILED kernel over a BROADCAST k×dim centroid matrix — the shape that
    * holds k in the thousands (a 10⁹-vector corpus wants k ≈ √n ≈ 30k;
    * 30k × 768 floats ≈ 90 MB, broadcast-sized). The k-literal-column
    * Catalyst fold used through round 3 was correct but capped near k ≈ 100:
    * expression-tree analysis and constant-folding cost grow with k, and the
    * plan itself carried k copies of the centroid literals.
    *
    * FP contract (unchanged — the DuckDB oracle reproduces it exactly):
    * dist² = dim-ascending double sum of (x-c)², widened BEFORE subtraction;
    * ties break to the lower centroid id (strict `<` while scanning cid
    * ascending). The inner loop early-abandons once the partial sum reaches
    * the current best — safe because the sum is non-decreasing and the
    * abandoned centroid would lose the strict-< comparison anyway; the
    * winning centroid's distance is always fully accumulated, so the
    * result is bit-identical to the unabandoned fold. */
  def withCentroid(df: DataFrame, embCol: String,
                   cents: Array[(Int, Array[Float])]): DataFrame = {
    if (cents.isEmpty) return df.withColumn("centroid", lit(0))
    val sorted = cents.sortBy(_._1)
    require(sorted.indices.forall(i => sorted(i)._1 == i),
      "centroid ids must be 0..k-1 (dense): assignment emits the matrix row index")
    val matrix = sorted.map(_._2)
    val bc = df.sparkSession.sparkContext.broadcast(matrix)
    val assign = udf { emb: Seq[Float] =>
      val a = emb.toArray
      val cs = bc.value
      var bestId = 0
      var best = Double.MaxValue
      var ci = 0
      while (ci < cs.length) {
        val c = cs(ci)
        var d = 0.0
        var j = 0
        while (j < a.length && d < best) {
          val t = a(j).toDouble - c(j).toDouble
          d += t * t
          j += 1
        }
        if (j == a.length && d < best) { best = d; bestId = ci }
        ci += 1
      }
      bestId
    }
    df.withColumn("centroid", assign(col(embCol)))
  }

  /** Deterministic Lloyd refinement: `iters` rounds of (assign → per-cluster
    * mean). Cluster means accumulate in vec_id order inside a sorted-group
    * stream (per-task state = ONE dim-length double array, so a cluster of
    * any size streams), which makes the result independent of partitioning —
    * reproducible like every other stage. Empty clusters keep their previous
    * centroid. Refinement only moves bucket boundaries; the index/query
    * contract (argmin-L2 assignment, nprobe probing, exact re-rank) is
    * unchanged, which is why the oracle-checked gates run with iters = 0. */
  def refine(emb: DataFrame, embCol: String, cents0: Array[(Int, Array[Float])],
             iters: Int): Array[(Int, Array[Float])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    var cents = cents0
    var it = 0
    while (it < iters) {
      val assigned = withCentroid(
          emb.select(col("vec_id"), col(embCol).as("e")), "e", cents)
        .select(col("centroid"), col("vec_id"), col("e"))
        .as[(Int, Long, Array[Float])]
      val sums = assigned.groupByKey(_._1)
        .flatMapSortedGroups(col("vec_id")) { (cid: Int, rows: Iterator[(Int, Long, Array[Float])]) =>
          var n = 0L
          var acc: Array[Double] = null
          rows.foreach { case (_, _, v) =>
            if (acc == null) acc = new Array[Double](v.length)
            var j = 0
            while (j < v.length) { acc(j) += v(j); j += 1 }
            n += 1
          }
          Iterator.single((cid, n, acc))
        }
        .collect() // k rows (one per non-empty cluster) — driver-sized
      val means = sums.map { case (cid, n, acc) =>
        cid -> acc.map(x => (x / n).toFloat)
      }.toMap
      cents = cents.map { case (cid, c) => (cid, means.getOrElse(cid, c)) }
      it += 1
    }
    cents
  }

  /** Mean within-cluster squared L2 distance — the quantity Lloyd descends;
    * diagnostic for refine() (IvfSpec asserts it never increases). */
  def meanSquaredError(emb: DataFrame, embCol: String,
                       cents: Array[(Int, Array[Float])]): Double = {
    val byId = cents.toMap
    val rows = withCentroid(emb.select(col(embCol).as("e")), "e", cents)
      .select(col("centroid"), col("e")).collect()
    val total = rows.iterator.map { r =>
      val c = byId(r.getInt(0)); val v = r.getSeq[Float](1)
      var d = 0.0; var j = 0
      while (j < c.length) { val t = v(j).toDouble - c(j).toDouble; d += t * t; j += 1 }
      d
    }.sum
    total / math.max(1, rows.length)
  }

  /** Build the inverted-file table at `dir` (partitionBy(centroid)).
    * `lloydIters` > 0 runs deterministic centroid refinement first and
    * writes the refined centroids alongside the index (centroids.parquet)
    * so query-side probing uses the SAME quantizer the lists were built
    * with; iters = 0 (the gates' oracle-parity mode) keeps the raw
    * lowest-vec_id sample and writes it too. */
  def build(spark: SparkSession, embeddings: DataFrame, dir: String, k: Int,
            lloydIters: Int = 0): Array[(Int, Array[Float])] = {
    val cents = refine(embeddings, "embedding", centroids(embeddings, k), lloydIters)
    withCentroid(embeddings, "embedding", cents)
      // co-locate each inverted list before the partitioned write: without
      // this every input task writes a file per centroid it touches (tasks×k
      // small files — measured 175 s at n=200k, k=512); after the hash
      // shuffle each task owns a few whole lists and writes k files total
      .repartition(col("centroid"))
      .write.mode("overwrite").partitionBy("centroid").parquet(dir)
    writeCentroids(dir, cents)
    cents
  }

  /** Persist the quantizer as a flat binary sidecar, written and read
    * driver-side: the quantizer is driver-resident k×dim data (it already
    * rides the assignment broadcast), so a Spark write job + a Spark read
    * job per build/load — two full job launches for ≤ a few MB — was pure
    * overhead. Format: magic, k, then per centroid (cid, dim, floats).
    * Atomic via write-temp + rename. */
  private val CentroidsMagic = 0x49564643 // "IVFC"

  private[graft] def writeCentroids(dir: String, cents: Array[(Int, Array[Float])]): Unit = {
    val target = new java.io.File(s"$dir-centroids.bin")
    val tmp = new java.io.File(s"$dir-centroids.bin.tmp")
    Option(target.getParentFile).foreach(_.mkdirs())
    val o = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(tmp)))
    try {
      o.writeInt(CentroidsMagic)
      o.writeInt(cents.length)
      cents.foreach { case (cid, v) =>
        o.writeInt(cid); o.writeInt(v.length)
        v.foreach(o.writeFloat)
      }
    } finally o.close()
    java.nio.file.Files.move(tmp.toPath, target.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Reload the quantizer persisted by build() — query-side probing must use
    * the centroids the lists were built with, not a recomputation. Throws
    * IllegalStateException naming the missing sidecar when `dir` has none
    * (an index from the older parquet-sidecar layout, or an incomplete
    * build): such an index must be rebuilt. */
  def loadCentroids(spark: SparkSession, dir: String): Array[(Int, Array[Float])] = {
    val f = new java.io.File(s"$dir-centroids.bin")
    if (!f.isFile) throw new IllegalStateException(
      s"IVF centroid sidecar $f not found: the index at $dir predates the binary " +
        "sidecar layout or is incomplete; rebuild it with IvfIndex.build")
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(f)))
    try {
      require(in.readInt() == CentroidsMagic, s"bad centroid sidecar at $f")
      val k = in.readInt()
      Array.fill(k) {
        val cid = in.readInt()
        val d = in.readInt()
        val v = new Array[Float](d)
        var i = 0
        while (i < d) { v(i) = in.readFloat(); i += 1 }
        (cid, v)
      }.sortBy(_._1)
    } finally in.close()
  }

  /** Driver-side assignment of one vector (same fold order as assignCol). */
  def nearestCentroids(v: Array[Float], cents: Array[(Int, Array[Float])], nprobe: Int): Seq[Int] =
    cents.map { case (i, c) =>
      var d = 0.0; var j = 0
      while (j < v.length) { val t = v(j).toDouble - c(j).toDouble; d += t * t; j += 1 }
      (i, d)
    }.sortBy { case (i, d) => (d, i) }.take(nprobe).map(_._1).toSeq

  /** All candidates in the nprobe nearest centroids' partitions, with exact
    * cosine — no ordering or cut, so callers control the tie-break contract
    * (the gate rounds BEFORE ordering to match its oracle exactly).
    *
    * The re-rank is a COMPILED kernel over a broadcast query vector —
    * Spark's higher-order-function lambdas evaluate interpreted, which
    * dominated the probe at scale (OpsScale: ~1.2 s/probe over ~3k
    * candidates before). FP shape is unchanged and oracle-identical:
    * dim-ascending double folds (widen-then-multiply), cos grouped as
    * dot / (‖v‖·‖q‖). */
  def queryCandidates(spark: SparkSession, dir: String, cents: Array[(Int, Array[Float])],
                      queryVec: Array[Float], nprobe: Int): DataFrame = {
    val probes = nearestCentroids(queryVec, cents, nprobe)
    val qNorm = math.sqrt(queryVec.map(v => v.toDouble * v.toDouble).sum)
    val qB = spark.sparkContext.broadcast(queryVec)
    val cosU = udf { emb: Seq[Float] =>
      val q = qB.value
      var dot = 0.0
      var na = 0.0
      var j = 0
      while (j < q.length) {
        val x = emb(j).toDouble
        dot += x * q(j).toDouble
        na += x * x
        j += 1
      }
      dot / (math.sqrt(na) * qNorm)
    }
    spark.read.parquet(dir)
      .filter(col("centroid").isin(probes: _*)) // partition pruning
      .select(col("vec_id"), col("label"), col("centroid"),
        cosU(col("embedding")).as("cos"))
  }

  /** Top-k by cosine among the nprobe nearest centroids' partitions only. */
  def query(spark: SparkSession, dir: String, cents: Array[(Int, Array[Float])],
            queryVec: Array[Float], k: Int, nprobe: Int): DataFrame =
    queryCandidates(spark, dir, cents, queryVec, nprobe)
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)

  /** Centroid histogram — gate-query surface (mirrors lshBuckets). */
  def ivfBuckets(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    if (Similarity.dimOf(emb).isEmpty)
      return emb.limit(0).select(lit(0).as("centroid"), lit(0L).as("n"),
        col("vec_id").as("min_vec"))
    val cents = centroids(emb, k)
    withCentroid(emb, "embedding", cents)
      .groupBy("centroid").agg(count(lit(1)).as("n"), min("vec_id").as("min_vec"))
      .orderBy("centroid")
  }
}
