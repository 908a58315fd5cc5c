package graft.codec

import graft.model.Posting

/** Delta + variable-byte posting codec with block-max metadata.
  *
  * Rebuild of the reference's posting compression: docIds stored
  * delta-encoded ascending for varint compression (reference
  * common/proto/poseidon_if.proto:28-33, encode
  * InvertedIndexGenerateReducer.java:371-416, decode
  * inverted_index_gz_client.go:130-145). Differences by design (SURVEY §2.10):
  *  - the (uv, pv) sentinel header element becomes explicit df/pv columns on
  *    the posting table row, not element 0 of the list;
  *  - entries carry tf for BM25 scoring instead of rowIndex (docId alone
  *    addresses a turn); doc length (dl) is NOT per posting — it lives in a
  *    per-chunk norms sidecar (Lucene-style norms: dl is per (field, doc),
  *    storing it per posting would repeat it ~df times — measured ~30%
  *    of index bytes). Readers take a `dlOf: docId => dl` lookup backed by
  *    the chunk's norm array.
  *  - postings are cut into fixed-size blocks, each with (lastDocId,
  *    maxScore) — the block-max metadata WAND uses to skip blocks. The
  *    index stamps the block's max BM25 tfNorm, idf-free, so a blob does
  *    not depend on corpus-wide df; the query multiplies it by the term's
  *    idf (see [[encode]]).
  *
  * Layout (all varints unless noted):
  *   numPostings, blockSize,
  *   repeat per block:
  *     count, firstDocIdDelta(from prev block's lastDocId; absolute for the
  *     first block), lastDocIdDeltaFromFirst, maxScore(8B IEEE double),
  *     then `count` entries: docIdDelta, tf
  *     (the first entry's docIdDelta is from the block's firstDocId, i.e. 0).
  *
  * Norms sidecar layout: count varint, then `count` dl varints, direct-
  * indexed by (docId - chunk*chunkDocs) — docIds are rank-dense so the
  * array has no holes.
  */
object PostingCodec {

  val DefaultBlockSize = 128

  // ---- varint primitives (unsigned LEB128 over Long) ----

  final class ByteBuf(initial: Int = 64) {
    private[codec] var arr = new Array[Byte](initial)
    private[codec] var len = 0
    def ensure(n: Int): Unit = {
      if (len + n > arr.length) {
        var cap = arr.length * 2
        while (cap < len + n) cap *= 2
        arr = java.util.Arrays.copyOf(arr, cap)
      }
    }
    def putVarLong(v0: Long): Unit = {
      require(v0 >= 0, s"varint requires non-negative, got $v0")
      ensure(10)
      var v = v0
      while ((v & ~0x7fL) != 0) { arr(len) = ((v & 0x7f) | 0x80).toByte; len += 1; v >>>= 7 }
      arr(len) = v.toByte; len += 1
    }
    def putDouble(d: Double): Unit = {
      ensure(8)
      val bits = java.lang.Double.doubleToLongBits(d)
      var i = 7
      while (i >= 0) { arr(len) = ((bits >>> (i * 8)) & 0xff).toByte; len += 1; i -= 1 }
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(arr, len)
  }

  final class ByteReader(val arr: Array[Byte], var pos: Int = 0) {
    def getVarLong(): Long = {
      var v = 0L; var shift = 0
      var b = arr(pos); pos += 1
      while ((b & 0x80) != 0) {
        v |= (b & 0x7fL) << shift; shift += 7
        b = arr(pos); pos += 1
      }
      v | ((b & 0x7fL) << shift)
    }
    def getDouble(): Double = {
      var bits = 0L
      var i = 0
      while (i < 8) { bits = (bits << 8) | (arr(pos) & 0xffL); pos += 1; i += 1 }
      java.lang.Double.longBitsToDouble(bits)
    }
    def hasMore: Boolean = pos < arr.length
  }

  // ---- encode ----

  /** Encode postings (MUST be sorted by docId ascending, docIds unique).
    * `score(tf, dl)` is evaluated at build time to stamp per-block maxima;
    * the index passes BM25 tfNorm (max tfNorm, idf-free). For any idf >= 0,
    * round-to-nearest multiplication is monotone, so idf * the stamp equals,
    * bit for bit, the stamp of the full contribution idf * tfNorm.
    */
  def encode(postings: Array[Posting], score: (Int, Int) => Double,
             blockSize: Int = DefaultBlockSize): Array[Byte] = {
    val buf = new ByteBuf(postings.length * 3 + 32)
    buf.putVarLong(postings.length.toLong)
    buf.putVarLong(blockSize.toLong)
    var i = 0
    var prevLast = 0L
    var first = true
    while (i < postings.length) {
      val end = math.min(i + blockSize, postings.length)
      val firstDoc = postings(i).docId
      val lastDoc = postings(end - 1).docId
      var maxScore = Double.NegativeInfinity
      var j = i
      while (j < end) { val s = score(postings(j).tf, postings(j).dl); if (s > maxScore) maxScore = s; j += 1 }
      buf.putVarLong((end - i).toLong)
      buf.putVarLong(if (first) firstDoc else firstDoc - prevLast)
      buf.putVarLong(lastDoc - firstDoc)
      buf.putDouble(maxScore)
      var prev = firstDoc
      j = i
      while (j < end) {
        val p = postings(j)
        buf.putVarLong(p.docId - prev)
        buf.putVarLong(p.tf.toLong)
        prev = p.docId
        j += 1
      }
      prevLast = lastDoc
      first = false
      i = end
    }
    buf.toArray
  }

  // ---- decode ----

  /** Full decode — used by tests and non-WAND paths. `dlOf` resolves doc
    * length from the chunk's norms array (identity for tf-only callers). */
  def decode(bytes: Array[Byte], dlOf: Long => Int = _ => 0): Array[Posting] = {
    val r = new ByteReader(bytes)
    val n = r.getVarLong().toInt
    r.getVarLong() // blockSize
    val out = new Array[Posting](n)
    var k = 0
    var prevLast = 0L
    var first = true
    while (k < n) {
      val count = r.getVarLong().toInt
      val firstDoc = (if (first) 0L else prevLast) + r.getVarLong()
      r.getVarLong() // lastDocDelta
      r.getDouble()  // maxScore
      var prev = firstDoc
      var j = 0
      while (j < count) {
        val doc = prev + r.getVarLong()
        val tf = r.getVarLong().toInt
        out(k) = Posting(doc, tf, dlOf(doc))
        prev = doc
        k += 1
        j += 1
      }
      prevLast = prev
      first = false
    }
    out
  }

  /** Streaming cursor with block skipping — the WAND-side reader.
    *
    * Protocol: call advance()/advanceTo() first; `docId/tf/dl` are valid only
    * after a call returned true. advanceTo skips whole blocks via each block's
    * stored lastDocId without decoding their entries; `blockMaxScore` exposes
    * the current block's stamp (in the index: max tfNorm) for block-max
    * pruning.
    */
  final class Cursor(bytes: Array[Byte], dlOf: Long => Int = _ => 0) {
    private val r = new ByteReader(bytes)
    val numPostings: Int = r.getVarLong().toInt
    r.getVarLong() // blockSize (not needed by the reader)

    private var blkCount = 0
    private var blkRead = 0
    private var blkFirst = 0L
    private var blkLast = 0L
    private var blkMax = 0.0
    private var prevBlockLast = 0L
    private var firstBlock = true
    private var readTotal = 0

    var docId: Long = -1L
    var tf: Int = 0
    var dl: Int = 0

    // telemetry, read by QueryKernel after a chunk walk: entries decoded by
    // advance() vs entries/blocks bypassed undecoded by block skipping —
    // the measurable form of the block-max benefit (one add per posting /
    // per skipped block; negligible against the varint decode they count)
    var decodedPostings: Long = 0L
    var skippedPostings: Long = 0L
    var skippedBlocks: Long = 0L

    def blockMaxScore: Double = blkMax
    def blockLastDocId: Long = blkLast

    /** Loads next block header; false when no blocks remain. */
    private def loadBlockHeader(): Boolean = {
      if (readTotal >= numPostings) return false
      blkCount = r.getVarLong().toInt
      blkFirst = (if (firstBlock) 0L else prevBlockLast) + r.getVarLong()
      blkLast = blkFirst + r.getVarLong()
      blkMax = r.getDouble()
      blkRead = 0
      firstBlock = false
      true
    }

    /** Skip the rest of the current block WITHOUT decoding entry values. */
    private def skipBlockEntries(): Unit = {
      var j = blkRead
      while (j < blkCount) { r.getVarLong(); r.getVarLong(); j += 1 }
      skippedBlocks += 1
      skippedPostings += (blkCount - blkRead)
      readTotal += (blkCount - blkRead)
      blkRead = blkCount
      prevBlockLast = blkLast
    }

    /** Move to next posting; returns false when exhausted. */
    def advance(): Boolean = {
      if (blkRead >= blkCount && !loadBlockHeader()) return false
      val delta = r.getVarLong()
      docId = if (blkRead == 0) blkFirst + delta else docId + delta
      tf = r.getVarLong().toInt
      dl = dlOf(docId)
      blkRead += 1
      readTotal += 1
      decodedPostings += 1
      if (blkRead == blkCount) prevBlockLast = blkLast
      true
    }

    /** Advance to the first posting with docId >= target; returns false when
      * exhausted. Blocks whose lastDocId < target are skipped undecoded.
      */
    def advanceTo(target: Long): Boolean = {
      if (readTotal > 0 && blkRead > 0 && docId >= target) return true
      while (true) {
        if (blkRead >= blkCount && !loadBlockHeader()) return false
        if (blkLast < target) {
          skipBlockEntries() // next loop iteration loads the following header
        } else {
          while (blkRead < blkCount) {
            advance()
            if (docId >= target) return true
          }
        }
      }
      false // unreachable
    }
  }

  // ---- norms sidecar (per-chunk dl arrays) ----

  def encodeNorms(dls: Array[Int]): Array[Byte] = {
    val buf = new ByteBuf(dls.length + 8)
    buf.putVarLong(dls.length.toLong)
    var i = 0
    while (i < dls.length) { buf.putVarLong(dls(i).toLong); i += 1 }
    buf.toArray
  }

  def decodeNorms(bytes: Array[Byte]): Array[Int] = {
    val r = new ByteReader(bytes)
    val n = r.getVarLong().toInt
    val out = new Array[Int](n)
    var i = 0
    while (i < n) { out(i) = r.getVarLong().toInt; i += 1 }
    out
  }

  /** dl lookup over a chunk's norm array (base = chunk * chunkDocs). */
  def dlLookup(norms: Array[Int], baseDocId: Long): Long => Int = { docId =>
    val i = (docId - baseDocId).toInt
    if (i >= 0 && i < norms.length) norms(i) else 0
  }
}
