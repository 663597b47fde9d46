package graft

import graft.codec.{NormsCodec, PBlock, PostingCodec, VarByte}
import graft.util.Hashing
import org.scalatest.funsuite.AnyFunSuite

/** Codec round-trip properties — ≙ the reference's serialize->reread
  * equality tests (/root/reference/src/storage/tests/block.rs:16-41,78-133),
  * over our delta+varbyte blocks instead of msgpack sections. Property
  * inputs are generated from a fixed seed (FIXTURES.md: no unseeded RNG).
  */
class CodecSpec extends AnyFunSuite {

  private def seededDocs(seed: Long, n: Int, maxGap: Long): Array[Long] = {
    val out = new Array[Long](n)
    var cur = (Hashing.mix(seed, 0) & 0xffffL)
    var i = 0
    while (i < n) {
      out(i) = cur
      cur += 1 + ((Hashing.mix(seed, i + 1) % maxGap + maxGap) % maxGap)
      i += 1
    }
    out
  }

  private def small(seed: Long, i: Int, mod: Int): Int =
    ((Hashing.mix(seed, i) % mod + mod) % mod).toInt

  /** `tf` strictly ascending positions for posting i. */
  private def seededPositions(seed: Long, i: Int, tf: Int): Array[Int] = {
    val ps = new Array[Int](tf)
    var cur = small(seed, i * 31, 5)
    var j = 0
    while (j < tf) {
      ps(j) = cur
      cur += 1 + small(seed, i * 31 + j + 1, 300)
      j += 1
    }
    ps
  }

  /** Mostly-dense gaps with rare 2^30 jumps: FOR would need 30 bits per
    * gap, so varbyte wins.
    */
  private def jumpyDocs(seed: Long, n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var cur = 5L
    var i = 0
    while (i < n) {
      out(i) = cur
      cur += (if (small(seed, i, 40) == 0) 1L << 30 else 1L + small(seed, i + n, 3))
      i += 1
    }
    out
  }

  private def goldenPostingRuns(): Seq[Array[PBlock]] = {
    val regimes = Seq((1L, 1L, 1000), (3L, 2L, 700), (200L, 3L, 500),
      (1L << 30, 4L, 300), (1L << 55, 5L, 60))
    val gapRuns = regimes.flatMap { case (maxGap, seed, n) =>
      val docs = seededDocs(seed, n, maxGap)
      val tfs = Array.tabulate(n)(i => 1 + small(seed, i, 9))
      val dls = Array.tabulate(n)(i => tfs(i) + small(seed + 100, i, 400))
      Seq(PostingCodec.encode(docs, tfs, null),
        PostingCodec.encode(docs, tfs, null, blockSize = 32, dls = dls))
    }
    val jumpy = {
      val docs = jumpyDocs(6L, 600)
      PostingCodec.encode(docs, Array.fill(600)(1), null, blockSize = 64)
    }
    val fullPos = {
      val n = 400
      val docs = seededDocs(7L, n, 50)
      val tfs = Array.tabulate(n)(i => 1 + small(7L, i, 6))
      val pos = Array.tabulate(n)(i => seededPositions(7L, i, tfs(i)))
      val dls = Array.tabulate(n)(i => pos(i).last + 1 + small(8L, i, 90))
      Seq(PostingCodec.encode(docs, tfs, pos, blockSize = 16, dls = dls),
        PostingCodec.encode(docs, tfs, pos))
    }
    val mixedPos = {
      // block 0 (postings 0-7) has no positions at all; later blocks mix
      // null, empty and full lists
      val n = 90
      val docs = seededDocs(9L, n, 20)
      val tfs = Array.tabulate(n)(i => 1 + small(9L, i, 4))
      val pos = Array.tabulate(n) { i =>
        if (i < 8 || i % 3 == 0) null
        else if (i % 5 == 0) Array.empty[Int]
        else seededPositions(9L, i, tfs(i))
      }
      val dls = Array.tabulate(n)(i => 10 + small(10L, i, 70))
      Seq(PostingCodec.encode(docs, tfs, pos, blockSize = 8),
        PostingCodec.encode(docs, tfs, pos, blockSize = 8, dls = dls))
    }
    gapRuns ++ Seq(jumpy) ++ fullPos ++ mixedPos
  }

  private def postingCrc(runs: Seq[Array[PBlock]]): Long = {
    val crc = new java.util.zip.CRC32()
    val meta = java.nio.ByteBuffer.allocate(20)
    for (blocks <- runs; b <- blocks) {
      crc.update(b.docBytes)
      crc.update(b.tfBytes)
      crc.update(b.posBytes)
      meta.clear()
      meta.putLong(b.maxDocId).putInt(b.maxTf).putInt(b.minDl).putInt(b.n)
      crc.update(meta.array())
    }
    crc.getValue
  }

  /** (docIds, dls) runs for the norms layout. */
  private def goldenNormRuns(): Seq[(Array[Long], Array[Int])] =
    Seq((21L, 700, 50L), (22L, 300, 1L << 40), (23L, 1, 7L)).map {
      case (seed, n, maxGap) =>
        val docs = seededDocs(seed, n, maxGap)
        val dls = Array.tabulate(n) { i =>
          if (i % 97 == 5) 1 << 20 else small(seed, i, 300)
        }
        (docs, dls)
    }

  private def normsCrc(encoded: Seq[(Array[Byte], Array[Byte])]): Long = {
    val crc = new java.util.zip.CRC32()
    encoded.foreach { case (docBytes, dlBytes) =>
      crc.update(docBytes)
      crc.update(dlBytes)
    }
    crc.getValue
  }

  test("varbyte round-trips seeded non-negative longs incl. extremes") {
    val vs = (0 until 2000).map(i => Hashing.mix(7L, i).abs match {
      case v if v < 0 => 0L // Long.MinValue.abs
      case v => v
    }).toArray ++ Array(0L, 1L, 127L, 128L, 16383L, 16384L, Long.MaxValue)
    val out = new scala.collection.mutable.ArrayBuffer[Byte]()
    vs.foreach(VarByte.write(out, _))
    val r = new VarByte.Reader(out.toArray)
    val back = Array.fill(vs.length)(r.read())
    assert(!r.hasNext, "reader must consume exactly the written bytes")
    assert(back.sameElements(vs))
  }

  test("posting blocks round-trip docIds and tfs across sizes (property)") {
    for (n <- Seq(1, 2, 7, 127, 128, 129, 1000); seed <- 1L to 5L) {
      val docs = seededDocs(seed, n, 1000)
      val tfs = docs.map(d => (d % 17 + 1).toInt)
      val blocks = PostingCodec.encode(docs, tfs, null, blockSize = 7)
      val dec = PostingCodec.decodeRun(blocks.toSeq)
      assert(dec.docIds.sameElements(docs), s"n=$n seed=$seed")
      assert(dec.tfs.sameElements(tfs), s"n=$n seed=$seed")
    }
  }

  test("positions round-trip") {
    val docs = Array(3L, 10L, 11L, 500L)
    val tfs = Array(2, 1, 3, 1)
    val pos = Array(Array(0, 7), Array(4), Array(1, 2, 9), Array(0))
    val blocks = PostingCodec.encode(docs, tfs, pos, blockSize = 3)
    val dec = PostingCodec.decodeRun(blocks.toSeq)
    assert(dec.docIds.sameElements(docs))
    (0 until 4).foreach(i => assert(dec.positions(i).sameElements(pos(i))))
  }

  test("mixed position presence within a block decodes without misalignment") {
    // postings with and without positions in the SAME block: the codec must
    // write an explicit 0 count for position-less entries, or the position
    // stream misaligns and decodes garbage
    val docs = Array(1L, 2L, 3L, 4L)
    val tfs = Array(1, 2, 1, 2)
    val pos = Array(Array(5), null, Array.empty[Int], Array(2, 8))
    val blocks = PostingCodec.encode(docs, tfs, pos, blockSize = 16)
    val dec = PostingCodec.decodeRun(blocks.toSeq)
    assert(dec.docIds.sameElements(docs))
    assert(dec.tfs.sameElements(tfs))
    assert(dec.positions(0).sameElements(Array(5)))
    assert(dec.positions(1).isEmpty)
    assert(dec.positions(2).isEmpty)
    assert(dec.positions(3).sameElements(Array(2, 8)))
  }

  test("block-max metadata is exact per block") {
    val docs = (0L until 300L).toArray
    val tfs = docs.map(d => (d % 31 + 1).toInt)
    val blocks = PostingCodec.encode(docs, tfs, null, blockSize = 128)
    assert(blocks.length == 3)
    blocks.zipWithIndex.foreach { case (b, i) =>
      val lo = i * 128
      val hi = math.min(lo + 128, 300)
      assert(b.maxDocId == docs(hi - 1))
      assert(b.maxTf == tfs.slice(lo, hi).max)
      assert(b.n == hi - lo)
    }
  }

  test("empty posting run encodes to zero blocks") {
    assert(PostingCodec.encode(Array.empty[Long], Array.empty[Int], null).isEmpty)
  }

  test("blocks decode independently (absolute first docId per block)") {
    val docs = Array(100L, 200L, 300L, 400L)
    val tfs = Array(1, 1, 1, 1)
    val blocks = PostingCodec.encode(docs, tfs, null, blockSize = 2)
    val (d2, _) = PostingCodec.decodeDocsTfs(blocks(1))
    assert(d2.sameElements(Array(300L, 400L)))
  }

  test("non-ascending docIds rejected") {
    intercept[IllegalArgumentException] {
      PostingCodec.encode(Array(5L, 5L), Array(1, 1), null)
    }
  }

  test("compression: dense postings bit-pack to well under 1 byte per docId") {
    val docs = (0L until 10000L).toArray
    val tfs = Array.fill(10000)(1)
    val blocks = PostingCodec.encode(docs, tfs, null)
    val docBytes = blocks.map(_.docBytes.length).sum
    assert(docBytes < 10000 / 2, s"got $docBytes docId bytes for 10k dense postings")
  }

  test("FOR and varbyte paths round-trip identically across gap regimes") {
    for ((maxGap, seed, n) <- Seq((1L, 1L, 500), (3L, 2L, 500), (200L, 3L, 500),
        (1L << 30, 4L, 500), (1L << 55, 5L, 50))) {
      val docs = seededDocs(seed, n, maxGap)
      val tfs = docs.map(d => (d % 9 + 1).toInt)
      val dec = PostingCodec.decodeRun(PostingCodec.encode(docs, tfs, null).toSeq)
      assert(dec.docIds.sameElements(docs), s"maxGap=$maxGap")
      assert(dec.tfs.sameElements(tfs), s"maxGap=$maxGap")
    }
  }

  // Golden bytes: CRC32s of the seeded runs above, computed with the
  // encoders as they stood before `encode` was folded into `encodePacked`
  // and the norms layout moved into NormsCodec. A mismatch means the
  // on-disk format drifted: every committed index would misdecode.
  private val GoldenPostingCrc = 3652450979L
  private val GoldenNormsCrc = 3440189515L

  test("posting block bytes match the pinned golden checksum") {
    val runs = goldenPostingRuns()
    val blocks = runs.flatten
    // the runs cover both docId encodings and position-less, full and mixed
    // position blocks
    assert(blocks.exists(_.docBytes(0) == 0) && blocks.exists(_.docBytes(0) == 1))
    assert(blocks.exists(_.posBytes.isEmpty) && blocks.exists(_.posBytes.nonEmpty))
    assert(postingCrc(runs) == GoldenPostingCrc)
  }

  test("norms bytes match the pinned golden checksum") {
    val enc = goldenNormRuns().map { case (docs, dls) =>
      val e = new NormsCodec.Encoder
      docs.indices.foreach(i => e.add(docs(i), dls(i)))
      assert(e.n == docs.length)
      (e.docBytes, e.dlBytes)
    }
    assert(normsCrc(enc) == GoldenNormsCrc)
  }

  test("norms codec round-trips, appending at an offset") {
    val runs = goldenNormRuns()
    val total = runs.map(_._1.length).sum
    val docs = new Array[Long](total)
    val dls = new Array[Int](total)
    var off = 0
    runs.foreach { case (d, l) =>
      val e = new NormsCodec.Encoder
      d.indices.foreach(i => e.add(d(i), l(i)))
      NormsCodec.decode(e.docBytes, e.dlBytes, e.n, docs, dls, off)
      off += d.length
    }
    assert(docs.sameElements(runs.flatMap(_._1)))
    assert(dls.sameElements(runs.flatMap(_._2)))
  }

  test("positions whose count differs from tf are rejected") {
    val docs = Array(1L, 2L, 3L)
    intercept[IllegalArgumentException] {
      PostingCodec.encode(docs, Array(1, 2, 1), Array(Array(4), Array(3), Array(7)))
    }
    intercept[IllegalArgumentException] {
      PostingCodec.encode(docs, Array(1, 1, 1), Array(Array(4), Array(3, 5), null))
    }
    // position-less postings may sit next to positioned ones at any tf
    PostingCodec.encode(docs, Array(1, 3, 2), Array(Array(4), null, Array.empty[Int]))
  }
}
