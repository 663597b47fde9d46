package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded synthetic corpus: `docs` documents whose words are drawn from a
  * `vocab`-word Zipf(`zipfS`) distribution.
  *
  * Every value is a pure function of (seed, doc index), so executors build
  * the DataFrame rows and the driver builds the oracle's token arrays from
  * the same function without shipping the corpus. `docId` and `ts` ascend
  * with the doc index, which `IndexBuilder.append` requires of successive
  * waves. Words are lowercase ASCII letters joined by single spaces, so the
  * engine's tokenizer returns exactly the generated token sequence.
  */
final case class GenSpec(seed: Long, docs: Int, vocab: Int, zipfS: Double,
    minLen: Int = 40, maxLen: Int = 200) {

  @transient private lazy val cum: Array[Double] = {
    val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1.0, zipfS))
    val total = w.sum
    val c = new Array[Double](vocab)
    var acc = 0.0
    var r = 0
    while (r < vocab) { acc += w(r) / total; c(r) = acc; r += 1 }
    c(vocab - 1) = 1.0
    c
  }

  @transient lazy val words: Array[String] = Array.tabulate(vocab)(GenSpec.word)

  /** Zipf rank for a uniform double in [0, 1). */
  def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cum, u)
    math.min(if (i >= 0) i + 1 else -i - 1, vocab - 1)
  }

  /** Token ranks of document `i`. */
  def tokens(i: Int): Array[Int] = {
    val len = minLen + (GenSpec.mix(seed, i.toLong) >>> 33).toInt % (maxLen - minLen + 1)
    val out = new Array[Int](len)
    var j = 0
    while (j < len) {
      out(j) = zipfRank(GenSpec.unit(GenSpec.mix(seed ^ 0x5bd1e995L, i * 1000003L + j)))
      j += 1
    }
    out
  }

  def text(i: Int): String = {
    val t = tokens(i)
    val sb = new java.lang.StringBuilder(t.length * 6)
    var j = 0
    while (j < t.length) {
      if (j > 0) sb.append(' ')
      sb.append(words(t(j)))
      j += 1
    }
    sb.toString
  }

  /** UTF-8 bytes of `text(i)` (ASCII, so one byte per char). */
  def textBytes(i: Int): Long = {
    val t = tokens(i)
    var n = t.length - 1L
    t.foreach(r => n += words(r).length)
    n
  }

  /** Docs [lo, hi) as the `IndexBuilder` input schema (docId, key, text, ts). */
  def frame(spark: SparkSession, lo: Int, hi: Int, partitions: Int): DataFrame = {
    import spark.implicits._
    val g = this
    spark.range(lo.toLong, hi.toLong, 1, partitions).map { i =>
      val d = i.longValue.toInt
      (i.longValue, s"doc-$d", g.text(d),
        new java.sql.Timestamp(GenSpec.Epoch + i.longValue * 1000L))
    }.toDF("docId", "key", "text", "ts")
  }
}

object GenSpec {
  val Epoch = 1704067200000L // 2024-01-01T00:00:00Z

  /** splitmix64 of (seed, v). */
  def mix(seed: Long, v: Long): Long = {
    var x = (seed ^ (v * 0xff51afd7ed558ccdL)) + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def unit(h: Long): Double = (h >>> 11) * 1.1102230246251565e-16 // 2^-53

  /** Bijective base-26 word for rank r: frequent ranks get short words. */
  def word(r: Int): String = {
    val sb = new StringBuilder
    var n = r + 1
    while (n > 0) {
      n -= 1
      sb.append(('a' + n % 26).toChar)
      n /= 26
    }
    sb.reverse.toString
  }
}

/** Brute-force answers over the generated token arrays — never the index.
  *
  * Holds a CSR term -> (docs, tfs) table built by one scan of the corpus
  * with ascending doc ids, so every query can be restricted to the docs
  * committed at the time it ran (`limit` = committed doc count).
  */
final class Oracle(g: GenSpec) {
  private val docs = g.docs
  private val toks: Array[Array[Int]] = Array.tabulate(docs)(g.tokens)
  private val dlPrefix: Array[Long] = {
    val p = new Array[Long](docs + 1)
    var i = 0
    while (i < docs) { p(i + 1) = p(i) + toks(i).length; i += 1 }
    p
  }
  val textBytes: Array[Long] = {
    val p = new Array[Long](docs + 1)
    var i = 0
    while (i < docs) { p(i + 1) = p(i) + g.textBytes(i); i += 1 }
    p
  }

  private val (off, pDoc, pTf) = {
    val df = new Array[Int](g.vocab)
    val seen = new Array[Int](g.vocab)
    java.util.Arrays.fill(seen, -1)
    var i = 0
    while (i < docs) {
      toks(i).foreach { t => if (seen(t) != i) { seen(t) = i; df(t) += 1 } }
      i += 1
    }
    val off = new Array[Int](g.vocab + 1)
    var t = 0
    while (t < g.vocab) { off(t + 1) = off(t) + df(t); t += 1 }
    val fill = java.util.Arrays.copyOf(off, g.vocab)
    val pDoc = new Array[Int](off(g.vocab))
    val pTf = new Array[Int](off(g.vocab))
    i = 0
    while (i < docs) {
      toks(i).foreach { t =>
        val at = fill(t)
        if (at > off(t) && pDoc(at - 1) == i) pTf(at - 1) += 1
        else { pDoc(at) = i; pTf(at) = 1; fill(t) = at + 1 }
      }
      i += 1
    }
    (off, pDoc, pTf)
  }

  def tokensOf(i: Int): Array[Int] = toks(i)

  /** Number of postings of `t` among docs [0, limit). */
  def df(t: Int, limit: Int): Int = {
    val lo = off(t)
    val hi = off(t + 1)
    val i = java.util.Arrays.binarySearch(pDoc, lo, hi, limit)
    (if (i >= 0) i else -i - 1) - lo
  }

  private def docsOf(t: Int, limit: Int): Array[Int] =
    java.util.Arrays.copyOfRange(pDoc, off(t), off(t) + df(t, limit))

  /** BM25 (k1 1.2, b 0.75, Lucene idf) over docs [0, limit), ranked by
    * (score desc, docId asc); returns the full ranking.
    */
  def bm25(terms: Seq[Int], limit: Int): Array[(Long, Double)] = {
    val n = limit.toDouble
    val avgdl = dlPrefix(limit).toDouble / n
    val k1 = 1.2
    val b = 0.75
    val scores = new java.util.HashMap[Int, Double]()
    terms.distinct.foreach { t =>
      val d = df(t, limit)
      if (d > 0) {
        val idf = math.log((n - d + 0.5) / (d + 0.5) + 1.0)
        var k = off(t)
        while (k < off(t) + d) {
          val doc = pDoc(k)
          val tf = pTf(k).toDouble
          val dl = toks(doc).length.toDouble
          val s = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
          scores.merge(doc, s, (a: Double, c: Double) => a + c)
          k += 1
        }
      }
    }
    val out = new Array[(Long, Double)](scores.size())
    var i = 0
    scores.forEach((d, s) => { out(i) = (d.toLong, s); i += 1 })
    out.sortWith((x, y) => if (x._2 != y._2) x._2 > y._2 else x._1 < y._1)
  }

  def and(terms: Seq[Int], limit: Int): Set[Long] =
    terms.distinct.map(t => docsOf(t, limit).toSet).reduce(_ intersect _).map(_.toLong)

  /** docId -> number of distinct query terms it contains. */
  def or(terms: Seq[Int], limit: Int): Map[Long, Int] =
    terms.distinct.flatMap(t => docsOf(t, limit).toSeq).groupBy(identity)
      .map { case (d, hits) => d.toLong -> hits.size }

  def phrase(terms: Seq[Int], limit: Int): Set[Long] =
    and(terms, limit).filter { d =>
      val ts = toks(d.toInt)
      (0 to ts.length - terms.length).exists(p => terms.indices.forall(s => ts(p + s) == terms(s)))
    }
}
