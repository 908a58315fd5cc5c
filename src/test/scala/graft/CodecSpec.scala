package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.codec.PostingCodec
import graft.model.Posting
import graft.query.Bm25

/** Property-style tests over seeded random posting lists (100 cases each;
  * no scalatestplus bridge in the offline cache, so generation is manual). */
class CodecSpec extends AnyFunSuite {

  private def randomPostings(rnd: Random, maxN: Int = 600): Array[Posting] = {
    val n = rnd.nextInt(maxN + 1)
    var doc = 0L
    Array.fill(n) {
      doc += 1 + rnd.nextInt(1000)
      Posting(doc, 1 + rnd.nextInt(500), 1 + rnd.nextInt(2000))
    }
  }

  private val score = (tf: Int, dl: Int) => tf.toDouble / (dl + 1)

  private def dlOf(ps: Array[Posting]): Long => Int = {
    val m = ps.map(p => p.docId -> p.dl).toMap
    d => m(d)
  }

  test("round-trip: decode(encode(xs)) == xs for sorted postings (dl via norms lookup)") {
    val rnd = new Random(1)
    (1 to 100).foreach { _ =>
      val ps = randomPostings(rnd)
      val bytes = PostingCodec.encode(ps, score, blockSize = 16)
      assert(PostingCodec.decode(bytes, dlOf(ps)).toSeq == ps.toSeq)
    }
  }

  test("round-trip with default block size and large docIds") {
    val ps = Array.tabulate(1000)(i => Posting(1000000000000L + i * 7L, i % 17 + 1, i % 63 + 1))
    val bytes = PostingCodec.encode(ps, score)
    assert(PostingCodec.decode(bytes, dlOf(ps)).toSeq == ps.toSeq)
  }

  test("norms sidecar: encode/decode round-trip and dlLookup") {
    val rnd = new Random(9)
    (1 to 50).foreach { _ =>
      val dls = Array.fill(rnd.nextInt(3000))(rnd.nextInt(5000))
      assert(PostingCodec.decodeNorms(PostingCodec.encodeNorms(dls)).toSeq == dls.toSeq)
      if (dls.nonEmpty) {
        val look = PostingCodec.dlLookup(dls, 1000L)
        assert(look(1000L) == dls(0))
        assert(look(1000L + dls.length - 1) == dls.last)
        assert(look(999L) == 0 && look(1000L + dls.length) == 0)
      }
    }
  }

  test("cursor walks every posting in order") {
    val rnd = new Random(2)
    (1 to 100).foreach { _ =>
      val ps = randomPostings(rnd)
      val c = new PostingCodec.Cursor(PostingCodec.encode(ps, score, blockSize = 8), dlOf(ps))
      val seen = scala.collection.mutable.ArrayBuffer[Posting]()
      while (c.advance()) seen += Posting(c.docId, c.tf, c.dl)
      assert(seen.toSeq == ps.toSeq)
    }
  }

  test("advanceTo lands on first docId >= target, block-skips included") {
    val rnd = new Random(3)
    (1 to 200).foreach { _ =>
      val ps = randomPostings(rnd, 300)
      if (ps.nonEmpty) {
        val target = rnd.nextLong(ps.last.docId + 100)
        val c = new PostingCodec.Cursor(PostingCodec.encode(ps, score, blockSize = 4), dlOf(ps))
        val expected = ps.find(_.docId >= target)
        val found = c.advanceTo(target)
        expected match {
          case Some(p) =>
            assert(found, s"target=$target")
            assert(c.docId == p.docId && c.tf == p.tf && c.dl == p.dl)
          case None => assert(!found)
        }
      }
    }
  }

  test("advanceTo is monotone across repeated calls") {
    val ps = Array.tabulate(500)(i => Posting(i * 10L, 1 + i % 5, 10 + i % 20))
    val c = new PostingCodec.Cursor(PostingCodec.encode(ps, score, blockSize = 32), dlOf(ps))
    assert(c.advanceTo(95) && c.docId == 100)
    assert(c.advanceTo(100) && c.docId == 100) // no-move when already satisfied
    assert(c.advanceTo(101) && c.docId == 110)
    assert(c.advanceTo(4990) && c.docId == 4990)
    assert(!c.advanceTo(5000))
  }

  test("interleaved advance + advanceTo stays consistent") {
    val rnd = new Random(4)
    (1 to 50).foreach { _ =>
      val ps = randomPostings(rnd, 400)
      if (ps.length > 10) {
        val c = new PostingCodec.Cursor(PostingCodec.encode(ps, score, blockSize = 7), dlOf(ps))
        var i = -1 // index of current posting in ps
        var continue = true
        while (continue) {
          if (rnd.nextBoolean()) {
            continue = c.advance()
            if (continue) i += 1
          } else {
            val jump = (if (i < 0) ps(0).docId else ps(i).docId) + rnd.nextInt(2000)
            val exp = ps.indexWhere(_.docId >= jump)
            continue = c.advanceTo(jump)
            if (exp == -1) assert(!continue)
            else if (exp > i) i = exp // advanceTo never moves backwards
          }
          if (continue) assert(c.docId == ps(i).docId && c.tf == ps(i).tf && c.dl == ps(i).dl)
        }
      }
    }
  }

  test("block max scores bound every posting's score in the block") {
    val ps = Array.tabulate(300)(i => Posting(i * 3L, 1 + (i * 13) % 40, 5 + (i * 7) % 90))
    val bytes = PostingCodec.encode(ps, score, blockSize = 16)
    val c = new PostingCodec.Cursor(bytes, dlOf(ps))
    while (c.advance()) {
      assert(score(c.tf, c.dl) <= c.blockMaxScore + 1e-12)
      assert(c.docId <= c.blockLastDocId)
    }
  }

  test("idf * a tfNorm stamp == the stamp of idf * tfNorm, bit for bit, every block") {
    val rnd = new Random(5)
    (1 to 100).foreach { _ =>
      val ps = randomPostings(rnd)
      val avgdl = 1.0 + rnd.nextDouble() * 500
      val n = 1L + rnd.nextLong(1L << 40)
      val idf = Bm25.idf(n, 1L + rnd.nextLong(n))
      val bs = 1 + rnd.nextInt(64)
      val norm = new PostingCodec.Cursor(PostingCodec.encode(ps, (tf, dl) => Bm25.tfNorm(tf, dl, avgdl), bs))
      val full = new PostingCodec.Cursor(PostingCodec.encode(ps, (tf, dl) => Bm25.contribution(tf, dl, idf, avgdl), bs))
      while (norm.advance()) {
        assert(full.advance())
        val (got, want) = (idf * norm.blockMaxScore, full.blockMaxScore)
        assert(java.lang.Double.doubleToRawLongBits(got) == java.lang.Double.doubleToRawLongBits(want),
          s"idf=$idf avgdl=$avgdl doc=${norm.docId}: $got != $want")
      }
      assert(!full.advance())
    }
  }

  test("empty postings encode/decode") {
    val bytes = PostingCodec.encode(Array.empty[Posting], score)
    assert(PostingCodec.decode(bytes).isEmpty)
    val c = new PostingCodec.Cursor(bytes)
    assert(!c.advance())
    assert(!c.advanceTo(0))
  }

  test("compression: 1000 dense postings fit well under raw size") {
    val ps = Array.tabulate(1000)(i => Posting(i.toLong * 2, 1, 30))
    val bytes = PostingCodec.encode(ps, score)
    // raw = 1000 * (8+4) = 12000 bytes; delta+varbyte ~2 B/posting
    assert(bytes.length < 3500, s"got ${bytes.length}")
  }
}
