package graft.codec

import scala.collection.mutable.ArrayBuffer

/** Variable-byte (VByte / LEB128) codec for unsigned longs.
  *
  * 7 data bits per byte, high bit set on all bytes except the last of a
  * value. Values must be non-negative (docIDs, gaps, tfs, positions all
  * are).
  */
object VarByte {
  def write(out: ArrayBuffer[Byte], v0: Long): Unit = {
    require(v0 >= 0, s"varbyte value must be >= 0, got $v0")
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      out += ((v & 0x7fL) | 0x80L).toByte
      v >>>= 7
    }
    out += v.toByte
  }

  /** Mutable cursor for sequential decode. */
  final class Reader(val bytes: Array[Byte]) {
    var pos: Int = 0
    def hasNext: Boolean = pos < bytes.length
    def read(): Long = {
      var shift = 0
      var v = 0L
      var b = bytes(pos); pos += 1
      while ((b & 0x80) != 0) {
        v |= (b & 0x7fL) << shift
        shift += 7
        b = bytes(pos); pos += 1
      }
      v | ((b & 0x7fL) << shift)
    }
  }
}

/** One compressed posting block: up to [[PostingCodec.BlockSize]] postings.
  *
  * Layout (generalizes the reference's raw `Vec<u64>` posting lists,
  * /root/reference/src/storage/block.rs:92, into the delta + varbyte +
  * block-max form required for web scale):
  *  - `docBytes`: self-describing (1-byte tag), first docID as absolute
  *    varbyte, then gaps — either varbyte gaps or FOR bit-packed (gap-1 at
  *    fixed width = bits(maxGap-1)), whichever is smaller per block. Blocks
  *    decode independently either way.
  *  - `tfBytes`: term frequency per posting, varbyte.
  *  - `posBytes`: optional per-posting position list: varbyte count, then
  *    delta-encoded positions (first absolute, then gaps). Empty array when
  *    the index is built without positions.
  *  - `maxDocId` / `maxTf` / `minDl`: block-max metadata for skipping /
  *    WAND upper bounds. `minDl` is the minimum document length among the
  *    block's postings: BM25 decreases in dl, so
  *    `idf·maxTf(k1+1)/(maxTf + k1(1−b+b·minDl/avgdl))` upper-bounds every
  *    score in the block — materially tighter than the dl-free bound
  *    (minDl = 0, the sound fallback when lengths are unknown, e.g. blocks
  *    re-encoded during compaction without per-posting dls).
  */
final case class PBlock(
    maxDocId: Long,
    maxTf: Int,
    minDl: Int,
    n: Int,
    docBytes: Array[Byte],
    tfBytes: Array[Byte],
    posBytes: Array[Byte])

/** A decoded posting block. `positions` is empty when not indexed. */
final case class DecodedBlock(
    docIds: Array[Long],
    tfs: Array[Int],
    positions: Array[Array[Int]])

/** Posting-block encoder/decoder (layout in [[PBlock]]).
  *
  * `graft.codec` is the only module that knows the index's byte layouts:
  * the posting block, the per-posting position stream ([[packPositions]])
  * and the per-segment norms ([[NormsCodec]]). Builder, compactor and
  * searcher call these functions and never write or read varbytes
  * themselves, so a layout change is made here once.
  */
object PostingCodec {
  val BlockSize = 128

  /** docBytes encodings (first byte of the blob). */
  private val EncVarByte: Byte = 0
  private val EncFor: Byte = 1

  /** Frame-of-reference bit width for a gap set; capped so the packing
    * accumulator (<= 7 carried bits + w new bits) fits in a Long.
    */
  private val MaxForBits = 56

  private def bitsFor(v: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(v | 1L)

  /** Encode docIds of one block: absolute first docId varbyte, then gaps.
    * Chooses per block between plain varbyte gaps and FOR bit-packing
    * (fixed width = bits(maxGap-1)) — whichever is smaller. Self-describing
    * via a 1-byte tag so blocks stay independently decodable.
    */
  private def encodeDocs(docIds: Array[Long], start: Int, end: Int): Array[Byte] = {
    val n = end - start
    // gaps-1 (gaps are >= 1)
    var maxG = 0L
    var vbSize = 0
    var i = start + 1
    while (i < end) {
      val g = docIds(i) - docIds(i - 1)
      require(g > 0, s"docIds must be strictly ascending: ${docIds(i)} after ${docIds(i - 1)}")
      if (g - 1 > maxG) maxG = g - 1
      vbSize += (63 - java.lang.Long.numberOfLeadingZeros(g | 1L)) / 7 + 1
      i += 1
    }
    val w = bitsFor(maxG)
    val forSize = 1 + ((n - 1).toLong * w + 7).toInt / 8
    val useFor = n > 4 && w <= MaxForBits && forSize < vbSize
    val out = new ArrayBuffer[Byte](forSize + 12)
    out += (if (useFor) EncFor else EncVarByte)
    VarByte.write(out, docIds(start))
    if (useFor) {
      out += w.toByte
      var bitBuf = 0L
      var bitCnt = 0
      i = start + 1
      while (i < end) {
        val v = docIds(i) - docIds(i - 1) - 1
        bitBuf |= v << bitCnt
        bitCnt += w
        while (bitCnt >= 8) {
          out += bitBuf.toByte
          bitBuf >>>= 8
          bitCnt -= 8
        }
        i += 1
      }
      if (bitCnt > 0) out += bitBuf.toByte
    } else {
      i = start + 1
      while (i < end) {
        VarByte.write(out, docIds(i) - docIds(i - 1))
        i += 1
      }
    }
    out.toArray
  }

  private def decodeDocs(bytes: Array[Byte], n: Int): Array[Long] = {
    val docs = new Array[Long](n)
    val enc = bytes(0)
    val r = new VarByte.Reader(bytes)
    r.pos = 1
    docs(0) = r.read()
    if (enc == EncFor) {
      val w = bytes(r.pos) & 0xff
      var pos = r.pos + 1
      var bitBuf = 0L
      var bitCnt = 0
      val mask = if (w == 64) -1L else (1L << w) - 1L
      var i = 1
      while (i < n) {
        while (bitCnt < w) {
          bitBuf |= (bytes(pos) & 0xffL) << bitCnt
          pos += 1
          bitCnt += 8
        }
        docs(i) = docs(i - 1) + (bitBuf & mask) + 1L
        bitBuf >>>= w
        bitCnt -= w
        i += 1
      }
    } else {
      var i = 1
      while (i < n) {
        docs(i) = docs(i - 1) + r.read()
        i += 1
      }
    }
    docs
  }

  private val EmptyBytes = Array.empty[Byte]

  /** Delta+varbyte pack the first `n` of `ps` (strictly ascending token
    * offsets): first absolute, then gaps, no count prefix. The position
    * stream of one posting as [[encodePacked]] splices it.
    */
  def packPositions(ps: Array[Int], n: Int): Array[Byte] = {
    val out = new ArrayBuffer[Byte](n + 2)
    var i = 0
    var prev = 0
    while (i < n) {
      VarByte.write(out, (if (i == 0) ps(0) else ps(i) - prev).toLong)
      prev = ps(i)
      i += 1
    }
    out.toArray
  }

  /** Encode one posting run (a single term within a single segment) into
    * fixed-size blocks. `docIds` must be strictly ascending; `tfs` parallel;
    * `positions(i)` (may be null/empty when positions are disabled) must be
    * strictly ascending token offsets, exactly `tfs(i)` of them. `dls`
    * (parallel document lengths, may be null) feeds each block's `minDl`
    * WAND bound; when absent, 0 (the loosest sound bound) is stamped.
    */
  def encode(
      docIds: Array[Long],
      tfs: Array[Int],
      positions: Array[Array[Int]],
      blockSize: Int = BlockSize,
      dls: Array[Int] = null): Array[PBlock] = {
    val packed = if (positions == null) null else Array.tabulate(docIds.length) { i =>
      val ps = positions(i)
      if (ps == null || ps.isEmpty) EmptyBytes
      else {
        require(ps.length == tfs(i),
          s"posting ${docIds(i)}: ${ps.length} positions but tf ${tfs(i)}")
        packPositions(ps, ps.length)
      }
    }
    encodePacked(docIds, tfs, packed, blockSize, dls)
  }

  /** Encode a run whose positions are already delta+varbyte packed per
    * posting (`posBytes(i)` = the gap stream of posting i, NO count prefix;
    * the count is the posting's tf, or 0 when the slice is empty).
    *
    * This is the build hot path: the tokenize UDF packs positions BEFORE
    * the (term, segId) shuffle, so the exchange moves ~tf bytes per posting
    * instead of an unpacked int array (UnsafeRow arrays cost ~8 bytes per
    * element plus headers — measured ~10x the raw corpus bytes through the
    * shuffle). [[encode]] packs its positions and calls this: the one
    * block-encoding loop of the format.
    */
  def encodePacked(
      docIds: Array[Long],
      tfs: Array[Int],
      posBytes: Array[Array[Byte]],
      blockSize: Int = BlockSize,
      dls: Array[Int] = null): Array[PBlock] = {
    val nBlocks = (docIds.length + blockSize - 1) / blockSize
    val out = new Array[PBlock](nBlocks)
    var b = 0
    while (b < nBlocks) {
      val start = b * blockSize
      val end = math.min(start + blockSize, docIds.length)
      val docBytes = encodeDocs(docIds, start, end)
      val tfBuf = new ArrayBuffer[Byte](end - start)
      val posBuf = new ArrayBuffer[Byte]()
      // decodeBlock reads one varbyte count PER posting whenever posBytes is
      // non-empty — so if ANY posting in this block carries positions, every
      // position-less posting must still write an explicit 0 count, or the
      // stream misaligns and decodes garbage
      var blockHasPos = false
      if (posBytes != null) {
        var i0 = start
        while (!blockHasPos && i0 < end) {
          if (posBytes(i0) != null && posBytes(i0).nonEmpty) blockHasPos = true
          i0 += 1
        }
      }
      var maxTf = 0
      var minDl = if (dls == null) 0 else Int.MaxValue
      var i = start
      while (i < end) {
        VarByte.write(tfBuf, tfs(i).toLong)
        if (tfs(i) > maxTf) maxTf = tfs(i)
        if (dls != null && dls(i) < minDl) minDl = dls(i)
        if (blockHasPos) {
          val pb = posBytes(i)
          if (pb == null || pb.isEmpty) VarByte.write(posBuf, 0L)
          else {
            VarByte.write(posBuf, tfs(i).toLong)
            posBuf ++= pb
          }
        }
        i += 1
      }
      out(b) = PBlock(docIds(end - 1), maxTf, minDl, end - start,
        docBytes, tfBuf.toArray, posBuf.toArray)
      b += 1
    }
    out
  }

  /** Decode docIDs + tfs of one block (skips positions — the scoring path). */
  def decodeDocsTfs(blk: PBlock): (Array[Long], Array[Int]) = {
    val docs = decodeDocs(blk.docBytes, blk.n)
    val tfs = new Array[Int](blk.n)
    val tr = new VarByte.Reader(blk.tfBytes)
    var i = 0
    while (i < blk.n) {
      tfs(i) = tr.read().toInt
      i += 1
    }
    (docs, tfs)
  }

  /** Full decode including positions (empty arrays if not indexed). */
  def decodeBlock(blk: PBlock): DecodedBlock = {
    val (docs, tfs) = decodeDocsTfs(blk)
    val positions = new Array[Array[Int]](blk.n)
    if (blk.posBytes.nonEmpty) {
      val pr = new VarByte.Reader(blk.posBytes)
      var i = 0
      while (i < blk.n) {
        val cnt = pr.read().toInt
        val ps = new Array[Int](cnt)
        var j = 0
        var prev = 0
        while (j < cnt) {
          prev = if (j == 0) pr.read().toInt else prev + pr.read().toInt
          ps(j) = prev
          j += 1
        }
        positions(i) = ps
        i += 1
      }
    } else {
      java.util.Arrays.fill(positions.asInstanceOf[Array[AnyRef]], Array.empty[Int])
    }
    DecodedBlock(docs, tfs, positions)
  }

  /** Decode a whole run of blocks into flat arrays (docIds ascending). */
  def decodeRun(blocks: Seq[PBlock]): DecodedBlock = {
    val total = blocks.iterator.map(_.n).sum
    val docs = new Array[Long](total)
    val tfs = new Array[Int](total)
    val pos = new Array[Array[Int]](total)
    var off = 0
    blocks.foreach { b =>
      val d = decodeBlock(b)
      System.arraycopy(d.docIds, 0, docs, off, b.n)
      System.arraycopy(d.tfs, 0, tfs, off, b.n)
      System.arraycopy(d.positions, 0, pos, off, b.n)
      off += b.n
    }
    DecodedBlock(docs, tfs, pos)
  }
}
