package graft.codec

import scala.collection.mutable.ArrayBuffer

/** Per-segment norms layout: one row holds `n` (docId, dl) pairs in docId
  * order as two varbyte streams — `docBytes` (first docId absolute, then
  * gaps) and `dlBytes` (one document length per doc).
  */
object NormsCodec {

  /** Streaming encoder for one norms row: `add` pairs in ascending docId
    * order, then read `docBytes` / `dlBytes`.
    */
  final class Encoder {
    private val docBuf = new ArrayBuffer[Byte]()
    private val dlBuf = new ArrayBuffer[Byte]()
    private var prev = 0L
    private var count = 0

    def add(docId: Long, dl: Int): Unit = {
      VarByte.write(docBuf, if (count == 0) docId else docId - prev)
      VarByte.write(dlBuf, dl.toLong)
      prev = docId
      count += 1
    }

    def n: Int = count
    def docBytes: Array[Byte] = docBuf.toArray
    def dlBytes: Array[Byte] = dlBuf.toArray
  }

  /** Decode one row's `n` pairs into `docs` / `dls` starting at `off`. */
  def decode(docBytes: Array[Byte], dlBytes: Array[Byte], n: Int,
      docs: Array[Long], dls: Array[Int], off: Int): Unit = {
    val dr = new VarByte.Reader(docBytes)
    val lr = new VarByte.Reader(dlBytes)
    var i = 0
    var prev = 0L
    while (i < n) {
      prev = if (i == 0) dr.read() else prev + dr.read()
      docs(off + i) = prev
      dls(off + i) = lr.read().toInt
      i += 1
    }
  }
}
