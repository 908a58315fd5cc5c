package graft

import org.apache.spark.sql.SparkSession
import graft.build.{IndexBuilder, IndexConfig}
import graft.gen.TranscriptGen
import graft.query.{QueryEngine, SearchQuery}

/** Command-line entry — the rebuild's analog of the reference's searcher
  * HTTP endpoint (service/searcher/module/poseidon.go) collapsed into a
  * driver program (SURVEY.md §3.4: microservice hops become Spark jobs).
  *
  *   build <turns.parquet | gen:N> <indexDir> [buckets] [chunkDocs]
  *   query <indexDir> <field:tok[,field:tok...]> [k] [--pv-only]
  */
object SearchCli {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Sessions.local(cpus, "graft-search")
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = args.toList match {
    case "build" :: src :: dir :: rest =>
      val buckets = rest.headOption.map(_.toInt).getOrElse(16)
      val chunkDocs = rest.drop(1).headOption.map(_.toLong).getOrElse(1L << 16)
      val turns =
        if (src.startsWith("gen:")) TranscriptGen.turns(spark, src.drop(4).toLong).toDF()
        else spark.read.parquet(src)
      val t0 = System.nanoTime()
      val m = IndexBuilder.build(spark, turns, dir, IndexConfig(buckets = buckets, chunkDocs = chunkDocs))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"built index: docs=${m.numDocs} buckets=${m.buckets} chunkDocs=${m.chunkDocs} " +
        f"avgdl(text)=${m.avgdl("text")}%.3f wall=${sec}%.1fs (${m.numDocs / sec}%.0f turns/s)")

    case "query" :: dir :: kw :: rest =>
      val k = rest.filterNot(_.startsWith("--")).headOption.map(_.toInt).getOrElse(10)
      val pvOnly = rest.contains("--pv-only")
      val pairs = kw.split(',').toSeq.map { p =>
        val Array(f, t) = p.split(":", 2)
        (f, Seq(t))
      }
      val q = SearchQuery.of(pairs, k)
      val engine = new QueryEngine(spark, dir)
      val stats = engine.searchStats(q)
      println(s"query terms=${q.terms.mkString(" AND ")} k=$k")
      println(s"total=${stats.total} pv=${stats.pv} uv=${stats.uv}")
      if (!pvOnly) {
        val t0 = System.nanoTime()
        val hits = engine.fetch(q).collect()
        val ms = (System.nanoTime() - t0) / 1e6
        hits.foreach { r =>
          val text = r.getString(r.fieldIndex("text"))
          val short = if (text.length > 72) text.take(72) + "…" else text
          println(f"${r.getLong(r.fieldIndex("docId"))}%8d  ${r.getDouble(r.fieldIndex("score"))}%9.5f  " +
            f"${r.getString(r.fieldIndex("conv_id"))}/${r.getInt(r.fieldIndex("turn_idx"))}%d  $short")
        }
        println(f"[$ms%.0f ms]")
      }

    case "explain" :: dir :: kw :: _ =>
      // the top-k query is one task per chunk range, each streaming its
      // range's posting files of each query term's bucket: list them, then run
      // the query profiled so the block-max benefit is a measured number,
      // not an inference: postings/blocks bypassed undecoded vs decoded vs
      // scored
      val pairs = kw.split(',').toSeq.map { p =>
        val Array(f, t) = p.split(":", 2)
        (f, Seq(t))
      }
      val q = SearchQuery.of(pairs, 10)
      val engine = new QueryEngine(spark, dir)
      println(s"query terms=${q.terms.mkString(" AND ")}: ${engine.manifest.ranges} chunk ranges in the index")
      engine.rangeFiles(q.terms).foreach { case (r, files) =>
        println(s"[range $r] " + files.map { case (i, f) =>
          s"${q.terms(i)._1}:${q.terms(i)._2} <- ${f.path} (${f.bytes} B)" }.mkString(", "))
      }
      val (hits, kstats) = engine.topKProfiled(q)
      println(s"[kernel] hits=${hits.length} " +
        kstats.toSeq.sortBy(_._1).map { case (k0, v) => s"$k0=$v" }.mkString(" "))

    case other =>
      System.err.println(s"unknown args: $other\nusage: build <src> <dir> [buckets] [chunkDocs] | query <dir> <f:tok,...> [k] [--pv-only] | explain <dir> <f:tok,...>")
      sys.exit(2)
  }
}
