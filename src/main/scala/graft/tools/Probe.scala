package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling micro-probe: times representative kernels at a given local[N]
  * (diagnostic main, not part of the engine). */
object Probe {
  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.getOrElse("8").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/tmp"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[probe $cpus] $name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }

    time("warmup")(spark.range(0, 1000000, 1, cpus).agg(sum("id")).collect())
    time("cpu_sum")(spark.range(0, 4000000000L, 1, cpus)
      .select((col("id") * 3 % 7).as("x")).agg(sum("x")).collect())
    val texts = graft.gen.TranscriptGen
    time("gen_map")(texts.turns(spark, 1000000, cpus).agg(count(lit(1))).collect())
    time("regex_tokens") {
      texts.turns(spark, 400000, cpus).toDF()
        .select(explode(graft.analyze.TextAnalyzer.tokensUdf(col("text"))).as("t"))
        .agg(count(lit(1))).collect()
    }
    (1 to 3).foreach { i =>
      time(s"shuffle_agg_$i") {
        texts.turns(spark, 400000, cpus).toDF()
          .select(explode(graft.analyze.TextAnalyzer.tokensUdf(col("text"))).as("t"))
          .groupBy("t").count().agg(sum("count")).collect()
      }
    }
    spark.stop()
  }
}
