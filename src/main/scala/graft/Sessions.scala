package graft

import org.apache.spark.sql.SparkSession

/** One place for local-mode session tuning so every entry point (CLI, Verify,
  * Bench, tests) behaves the same.
  *
  * Notes for cluster deployment: everything here is local-mode plumbing —
  * on a real cluster only shuffle.partitions/AQE matter (and shuffle
  * partitions should be ~2-3x total cores, or left to AQE coalescing).
  */
object Sessions {

  def localDir: String = {
    // shuffle/spill on tmpfs when available: the sandbox's single virtio disk
    // serializes 32-way shuffles that a cluster would spread across machines
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File("/dev/shm/graft-spark-local")
      d.mkdirs()
      d.getAbsolutePath
    } else sys.props.getOrElse("java.io.tmpdir", "/tmp")
  }

  /** Shuffle partitioning is a property of the JOB, not the hardware: a real
    * cluster fixes the data partitioning and varies executor count, so two
    * parallelism levels must run the IDENTICAL plan. Tying partitions to
    * `cpus` (rounds ≤4) made the scaling legs run DIFFERENT plans — at P=1
    * `repartitionByRange(1)` skips its range-sampling pass entirely (the
    * small leg did less work), and P=4 on 4 cores has a straggler tail that
    * 32 finer tasks smooth out — which is exactly the kind of artifact the
    * two-cluster-size criterion must not contain. 32 matches the bench/gate
    * sessions, so every entry point also shares one plan shape and file
    * layout. */
  val ShufflePartitions = 32

  def local(cpus: Int, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions) // vb_decode in SQL everywhere
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      // AQE on (Spark's posture for batch jobs; it skew-splits and
      // right-sizes the big shuffles on a real cluster)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", localDir))
      .config("spark.ui.enabled", "false")
      // task-side output commit (v2): v1 renames every output file serially
      // on the driver after the job — measured ~1s of pure driver time per
      // partitioned write at 128 files, flat across parallelism levels (it
      // was the biggest fixed cost in the scaling protocol). Semantics at
      // this batch-overwrite usage are equivalent; a mid-commit crash is
      // already handled by the buildId resume gate wiping partial output.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN"))
    s
  }
}
