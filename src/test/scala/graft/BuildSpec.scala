package graft

import scala.util.Random
import graft.build.{DocIds, IndexBuilder, IndexConfig, PostingAgg, OccRow}
import graft.gen.TranscriptGen

class BuildSpec extends SparkFunSuite {
  import spark.implicits._

  test("docIds = global rank of (conv_id, turn_idx), stable across parallelism") {
    val turns = TranscriptGen.turns(spark, 2000, 4).toDF()
    val expected = turns.collect()
      .map(r => (r.getString(0), r.getInt(1)))
      .sorted.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap

    Seq(2, 7).foreach { p =>
      val got = DocIds.assign(turns, p).select("conv_id", "turn_idx", "docId")
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(got.size == expected.size, s"p=$p")
      expected.foreach { case (k, v) => assert(got(k) == v, s"p=$p key=$k") }
    }
  }

  test("posting aggregator: merge is permutation-invariant and sorted") {
    val rnd = new Random(7)
    (1 to 30).foreach { _ =>
      val n = 1 + rnd.nextInt(500)
      val rows = (0 until n).map(i => OccRow(i.toLong * (1 + rnd.nextInt(3)), 1 + rnd.nextInt(9), 5 + rnd.nextInt(90)))
        .groupBy(_.docId).map(_._2.head).toSeq // unique docIds
      val shuffled = rnd.shuffle(rows)
      // simulate partial aggregation: split into random sub-buffers, merge
      val chunks = shuffled.grouped(1 + rnd.nextInt(50)).toSeq
      val bufs = chunks.map { ch =>
        ch.foldLeft(PostingAgg.zero)((b, r) => PostingAgg.reduce(b, r))
      }
      val merged = bufs.reduce(PostingAgg.merge)
      val out = PostingAgg.finish(merged)
      val expected = rows.sortBy(_.docId)
      assert(out.docIds.toSeq == expected.map(_.docId))
      assert(out.tfs.toSeq == expected.map(_.tf))
      assert(out.dls.toSeq == expected.map(_.dl))
    }
  }

  test("posting aggregator: run merging keeps bounded run count") {
    val bufs = (0 until 100).map { i =>
      PostingAgg.reduce(PostingAgg.zero, OccRow(i.toLong, 1, 10))
    }
    val merged = bufs.reduce(PostingAgg.merge)
    val out = PostingAgg.finish(merged)
    assert(out.docIds.toSeq == (0L until 100L))
  }

  test("every build records its phase wall times as phasesMs in the core manifest") {
    val dir = SparkSpec.tmpDir("graft-phases")
    val m = IndexBuilder.build(spark, TranscriptGen.turns(spark, 200, 4).toDF(), dir,
      IndexConfig(buckets = 4, chunkDocs = 64, bucketGroups = 2))
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest/core.json")), "UTF-8")
    val phases = """"phasesMs":\{([^}]*)\}""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse(fail(s"no phasesMs object in $json"))
    val keys = """"(\w+)":\d+""".r.findAllMatchIn(phases).map(_.group(1)).toSeq
    assert(keys == Seq("docids", "docstore", "norms", "avgdl",
      "postings_g0", "termstats_g0", "postings_g1", "termstats_g1"))
    // the additive object does not leak into the parsed layout fields
    val read = IndexBuilder.readManifest(spark, dir)
    assert(read == m)
    assert(read.avgdl.keySet == IndexBuilder.Fields.toSet)
  }
}
