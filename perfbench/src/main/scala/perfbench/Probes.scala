package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.analyze.Analyzers
import graft.build.{DocIds, IndexBuilder}
import graft.codec.PostingCodec
import graft.gen.TranscriptGen
import graft.model.Posting
import graft.ops.Dedup
import graft.query.{Bm25, QueryEngine, SearchQuery}

/** Per-layer calls made only by the traced run, after its timed window:
  * each times one public function of a layer on the run's own inputs. */
object Probes {

  private def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One call attributed to phase `name` and kept as a span of that name. */
  private def call[A](w: Window, spark: SparkSession, name: String)(f: => A): (A, Double) =
    w.phase(spark, name) { val (a, s) = w.tracer.span(name)(f); (a, s.seconds) }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** DocIds with its materialisation, then termOccs to a counting sink. */
  def build(w: Window, spark: SparkSession, corpusDir: String): Map[String, Double] = {
    val turns = spark.read.parquet(corpusDir)
    val (handle, docidsS) = call(w, spark, "build.docids") {
      val (docs, handle, _) = DocIds.assignWithHandle(turns)
      noop(docs)
      handle
    }
    handle.unpersist()
    val docs = DocIds.assign(turns).cache()
    docs.count()
    val (occRows, termOccsS) = call(w, spark, "build.termoccs")(IndexBuilder.termOccs(docs).count())
    docs.unpersist()
    Map("build.docids_s" -> docidsS, "build.termoccs_s" -> termOccsS, "build.occ_rows" -> occRows.toDouble)
  }

  def indexSizes(dir: String): Map[String, Double] =
    Seq("postings", "termstats", "norms", "docstore").map { d =>
      s"build.${d}_mb" -> graft.FsUtil.dirSize(new java.io.File(dir, d)) / 1e6
    }.toMap

  /** Single-thread analyzer cost over the corpus window, best of 3 passes. */
  def analyze(seed: Long): Map[String, Double] = {
    val base = Inputs.corpusBase(seed)
    val turns = (0L until Inputs.CorpusTurns).map(i => TranscriptGen.turnAt(base + i))
    val fields = Analyzers.byField.toSeq
    val passes = (1 to 3).map { _ =>
      seconds {
        var n = 0L
        turns.foreach { t =>
          fields.foreach { case (f, a) =>
            n += a.tokens(f match { case "text" => t.text; case "role" => t.role; case _ => t.tool }).size
          }
        }
        n
      }._2
    }
    Map("analyze.tokens_ns_per_turn" -> passes.min * 1e9 / turns.size)
  }

  /** Encode and full-cursor decode over every posting list of the built
    * index, single thread, best of 3 passes. */
  def codec(spark: SparkSession, dir: String): Map[String, Double] = {
    val blobs = spark.read.parquet(s"$dir/postings").select("blob").collect().map(_.getAs[Array[Byte]](0))
    val lists = blobs.map(b => PostingCodec.decode(b))
    val postings = lists.map(_.length.toLong).sum
    val score: (Int, Int) => Double = (tf, dl) => Bm25.contribution(tf, dl, 1.0, 10.0)
    val decodeS = (1 to 3).map { _ =>
      seconds {
        var n = 0L
        blobs.foreach { b => val c = new PostingCodec.Cursor(b); while (c.advance()) n += c.tf }
        n
      }._2
    }.min
    val encodeS = (1 to 3).map { _ =>
      seconds(lists.foreach(l => PostingCodec.encode(l: Array[Posting], score)))._2
    }.min
    Map("codec.decode_ns_per_posting" -> decodeS * 1e9 / postings,
      "codec.encode_ns_per_posting" -> encodeS * 1e9 / postings)
  }

  /** Latency of topK keys the window already ran, so every call is a
    * plan-cache hit. */
  def repeats(engine: QueryEngine, keys: Seq[SearchQuery]): Map[String, Double] =
    Map("query.repeat_p50_ms" -> Stats.median(keys.map(q => seconds(engine.topK(q).collect())._2 * 1e3)))

  /** Kernel counters summed over the stream's distinct topK keys. */
  def kernel(engine: QueryEngine, keys: Seq[SearchQuery]): Map[String, Double] = {
    val sums = keys.map(q => engine.topKProfiled(q)._2)
      .foldLeft(Map.empty[String, Long])((acc, m) => m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0L) + v) })
    def v(k: String) = sums.getOrElse(k, 0L).toDouble
    Map("query.postings_decoded" -> v("postings_decoded"), "query.postings_skipped" -> v("postings_skipped"),
      "query.blocks_skipped" -> v("blocks_skipped"), "query.docs_scored" -> v("docs_scored"),
      "query.skip_ratio" -> v("postings_skipped") / math.max(1.0, v("postings_skipped") + v("postings_decoded")))
  }

  /** The LSH keeper pipeline split at its public functions. Returns the
    * metrics and the LSH pairs, which the dedup check reuses. */
  def dedup(w: Window, l: LayerListener, spark: SparkSession, docsDir: String): (Map[String, Double], Array[Row]) = {
    val docs = spark.read.parquet(docsDir)
    val (_, signS) = call(w, spark, "dedup.sign")(noop(Dedup.minhash(docs)))
    val lshDf = Dedup.minhashLsh(docs, Phases.DedupThreshold)
    val (lsh, lshS) = call(w, spark, "dedup.lsh")(lshDf.collect())
    val pairs = spark.createDataFrame(spark.sparkContext.parallelize(lsh.toSeq), lshDf.schema).localCheckpoint()
    val (_, compS) = call(w, spark, "dedup.components")(Dedup.components(pairs).collect())
    val (_, keepS) = call(w, spark, "dedup.keepers_from_pairs")(Dedup.keepersFromPairs(docs, pairs).collect())
    val lshC = l.get(spark.sparkContext, "dedup.lsh")
    (Map("dedup.sign_s" -> signS, "dedup.lsh_pairs_s" -> lshS, "dedup.components_s" -> compS,
      "dedup.keepers_join_s" -> math.max(0.0, keepS - compS), "dedup.pairs" -> lsh.length.toDouble,
      "dedup.lsh_jobs" -> lshC.jobs.toDouble, "dedup.lsh_stages" -> lshC.stages.toDouble), lsh)
  }
}
