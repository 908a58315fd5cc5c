package graft

import org.apache.spark.sql.functions._
import graft.build.{IndexBuilder, IndexConfig}
import graft.gen.TranscriptGen

/** Golden guard (SURVEY.md §5.3 item 3): a canonical digest of the complete
  * index layout for a tiny fixed corpus. ANY change to the analyzer, docId
  * assignment, posting codec, block-max stamps or stats fails this test —
  * update the constant only for intentional layout changes.
  */
class GoldenSpec extends SparkFunSuite {

  // Layout v6: every posting block is stamped with its max tfNorm, with no
  // idf, so the blob bytes changed. The termstats files are now sorted by
  // (field, term), but their rows are hashed in sorted order, so that does
  // not move the digest.
  val ExpectedDigest = "34dbaac837bacf7cac37a065c146f39a"

  test("index layout digest is stable") {
    val dir = SparkSpec.tmpDir("graft-golden")
    IndexBuilder.build(spark, TranscriptGen.turns(spark, 200, 4).toDF(), dir,
      IndexConfig(buckets = 4, chunkDocs = 64, blockSize = 16))

    val md = java.security.MessageDigest.getInstance("MD5")
    def feed(s: String): Unit = md.update(s.getBytes("UTF-8"))

    spark.read.parquet(s"$dir/postings")
      .select("field", "term", "bucket", "chunk", "dfChunk", "blob")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4),
        r.getAs[Array[Byte]](5).map("%02x".format(_)).mkString))
      .sortBy(t => (t._1, t._2, t._4))
      .foreach { t => feed(t.toString) }
    spark.read.parquet(s"$dir/norms")
      .select("field", "chunk", "blob").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2).map("%02x".format(_)).mkString))
      .sortBy(t => (t._1, t._2))
      .foreach(t => feed(t.toString))
    spark.read.parquet(s"$dir/termstats")
      .select("field", "term", "df", "pv").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
      .foreach(t => feed(t.toString))
    val m = IndexBuilder.readManifest(spark, dir)
    feed(s"${m.numDocs}|${m.buckets}|${m.chunkDocs}|${m.blockSize}|${m.avgdl.toSeq.sorted}")

    val digest = md.digest().map("%02x".format(_)).mkString
    assert(digest == ExpectedDigest,
      s"index layout drifted: digest=$digest (update ExpectedDigest if intentional)")
  }
}
