package graft

import org.apache.spark.sql.functions._
import graft.ops.{IvfIndex, Similarity}

/** IVF-flat ANN: deterministic coarse quantizer, partition pruning, recall. */
class IvfSpec extends SparkFunSuite {

  val sf = "/root/testdata/sf0.01"
  val K = 16
  lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  lazy val cents = IvfIndex.centroids(emb, K)
  lazy val dir: String = {
    val d = SparkSpec.tmpDir("graft-ivf")
    IvfIndex.build(spark, emb, d, K)
    d
  }

  test("inverted lists partition all vectors across k centroids") {
    val n = spark.read.parquet(dir).count()
    assert(n == emb.count())
    val hist = IvfIndex.ivfBuckets(spark, sf, K).collect()
    assert(hist.map(_.getLong(1)).sum == n)
    assert(hist.forall(r => r.getInt(0) >= 0 && r.getInt(0) < K))
    // column-form assignment == driver-side assignment (same fold order)
    val colAssign = spark.read.parquet(dir).select("vec_id", "centroid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    emb.select("vec_id", "embedding").collect().take(50).foreach { r =>
      val drv = IvfIndex.nearestCentroids(r.getSeq[Float](1).toArray, cents, 1).head
      assert(colAssign(r.getLong(0)) == drv, s"vec ${r.getLong(0)}")
    }
  }

  test("query scan is partition-pruned to nprobe inverted lists") {
    val q = emb.filter(col("vec_id") === 2L).collect()(0).getSeq[Float](1).toArray
    val df = IvfIndex.query(spark, dir, cents, q, 10, nprobe = 4)
    df.collect()
    val parts = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(parts.exists(_ <= 4), s"scanned $parts partitions")
  }

  // ---- scale path: broadcast-matrix kernel at k = 256 + Lloyd refinement ----

  /** 20k deterministic vectors in 32 well-separated planted clusters:
    * vector = cluster center (hash-derived per dim) + small per-vector
    * deterministic jitter. Big enough that a k-literal-column plan would
    * be unusable, structured enough that Lloyd has something to find. */
  lazy val bigEmb = {
    import org.apache.spark.sql.functions.{array => fArray}
    val dim = 8
    spark.range(0, 20000, 1, 16)
      .select(col("id").as("vec_id"), (col("id") % 32).as("cl"))
      .select(col("vec_id"), fArray((0 until dim).map { d =>
        ((pmod(hash(col("cl") * lit(dim) + lit(d)), lit(200)) - 100).cast("float") +
          (pmod(hash(col("vec_id") * lit(dim) + lit(d)), lit(100)).cast("float") / 100f))
          .cast("float")
      }: _*).as("embedding"),
        (col("vec_id") % 5).cast("int").as("label"))
  }

  test("k=256 assignment runs via the broadcast kernel and matches the driver loop") {
    val k = 256
    val cents256 = IvfIndex.centroids(bigEmb, k)
    val assigned = IvfIndex.withCentroid(bigEmb, "embedding", cents256)
    val rows = assigned.select("vec_id", "centroid", "embedding").collect()
    assert(rows.length == 20000)
    val used = rows.map(_.getInt(1)).distinct
    assert(used.forall(c => c >= 0 && c < k))
    // kernel assignment == driver-side assignment (same FP fold + tie rule)
    rows.take(64).foreach { r =>
      val drv = IvfIndex.nearestCentroids(r.getSeq[Float](2).toArray, cents256, 1).head
      assert(r.getInt(1) == drv, s"vec ${r.getLong(0)}")
    }
  }

  test("Lloyd refinement is deterministic, descends MSE, and pulls centroids onto planted clusters") {
    val k = 64
    val seed = IvfIndex.centroids(bigEmb, k)
    val mse0 = IvfIndex.meanSquaredError(bigEmb, "embedding", seed)
    val r1 = IvfIndex.refine(bigEmb, "embedding", seed, 1)
    val mse1 = IvfIndex.meanSquaredError(bigEmb, "embedding", r1)
    val r2 = IvfIndex.refine(bigEmb, "embedding", seed, 2)
    val mse2 = IvfIndex.meanSquaredError(bigEmb, "embedding", r2)
    assert(mse1 <= mse0 + 1e-9, s"$mse1 > $mse0")
    assert(mse2 <= mse1 + 1e-9, s"$mse2 > $mse1")
    // seeds are the 64 lowest-vec_id vectors = exactly 2 per planted cluster
    // (vec_id % 32); refinement must cut the seed MSE, not just hold it
    assert(mse2 < mse0 * 0.9, s"refinement barely moved: $mse0 -> $mse2")
    // determinism: same input, same iters -> bit-identical centroids
    val r2b = IvfIndex.refine(bigEmb.repartition(7), "embedding", seed, 2)
    assert(r2.zip(r2b).forall { case ((i, a), (j, b)) => i == j && a.sameElements(b) })
  }

  test("refined build persists its quantizer; loadCentroids round-trips it") {
    val d = SparkSpec.tmpDir("graft-ivf-lloyd")
    val built = IvfIndex.build(spark, bigEmb, d, 64, lloydIters = 2)
    val loaded = IvfIndex.loadCentroids(spark, d)
    assert(built.length == loaded.length)
    assert(built.zip(loaded).forall { case ((i, a), (j, b)) => i == j && a.sameElements(b) })
    // query through the persisted quantizer: pruned scan, k rows back
    val q = bigEmb.filter(col("vec_id") === 5L).collect()(0).getSeq[Float](1).toArray
    val hits = IvfIndex.query(spark, d, loaded, q, 10, nprobe = 4).collect()
    assert(hits.length == 10)
    assert(hits.map(_.getLong(0)).contains(5L)) // its own cluster is probed
  }

  test("loadCentroids on an index without the binary sidecar names the path and says rebuild") {
    // the older layout kept the quantizer as a parquet dir `$dir-centroids`
    val d = SparkSpec.tmpDir("graft-ivf-legacy")
    emb.limit(4).write.parquet(s"$d-centroids")
    val e = intercept[IllegalStateException](IvfIndex.loadCentroids(spark, d))
    assert(e.getMessage.contains(s"$d-centroids.bin"))
    assert(e.getMessage.contains("rebuild"))
  }

  test("IVF recall@10 >= scanned coverage (isotropic-vector floor, like AnnIndexSpec)") {
    val total = emb.count().toDouble
    val qs = emb.filter(col("vec_id") < 5).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val (recalls, coverages) = qs.map { case (qid, vec) =>
      val exact = Similarity.cosineTopK(spark, sf, qid, 10).collect().map(_.getLong(0)).toSet
      val probed = IvfIndex.query(spark, dir, cents, vec, 11, nprobe = 4).collect()
      val approx = probed.map(_.getLong(0)).filter(_ != qid).take(10).toSet
      val probes = IvfIndex.nearestCentroids(vec, cents, 4)
      val scanned = spark.read.parquet(dir).filter(col("centroid").isin(probes: _*)).count().toDouble
      ((exact intersect approx).size.toDouble / exact.size, scanned / total)
    }.unzip
    val meanR = recalls.sum / recalls.length
    val meanC = coverages.sum / coverages.length
    assert(meanR >= meanC, f"mean recall $meanR%.3f below coverage $meanC%.3f")
  }
}
