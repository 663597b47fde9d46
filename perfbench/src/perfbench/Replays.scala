package perfbench

import graft.codec.PostingCodec
import graft.index.{Bm25Params, SegmentNorms, SegmentPosting, Searcher}
import graft.text.Tokenize
import org.apache.spark.sql.SparkSession

/** Layer replays for the traced run: each times one public function of the
  * program on inputs taken from the benchmark's own corpus and index (the
  * postings and norms are fetched through `Searcher`, then the function is
  * called in the driver), and records a replay span.
  */
final class Replays(spark: SparkSession, t: Tracer, g: GenSpec, dir: String) {

  /** Runs `f` until at least `minMs` elapsed; returns (units of work, seconds).
    * `f` returns the units it processed.
    */
  private def loop(name: String, minMs: Double)(f: => Long): (Long, Double) = {
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var units = 0L
    var iters = 0
    while (iters < 2 || (System.nanoTime() - t0) / 1e6 < minMs) { units += f; iters += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    t.replay(name, wall0, System.currentTimeMillis(), Map("units" -> units.toDouble, "seconds" -> s))
    (units, s)
  }

  private def rate(r: (Long, Double)): Double = r._1 / r._2

  /** Every replay metric over `queries`, a seed-fixed set of the workload's
    * term sets; `warm` are the term sets a fresh searcher is warmed with
    * before the term-stats replay. Also returns the term-stats call spans.
    */
  def all(queries: Seq[Main.Q], warm: Seq[Main.Q]): (Map[String, Double], Seq[Int]) = {
    val texts = (0 until 2000).map(g.text)
    val textBytes = texts.map(_.length.toLong).sum
    val tok = loop("text.tokenize", 300) { texts.foreach(Tokenize.tokenizeScala); textBytes }

    val opens = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      new Searcher(spark, dir)
      (System.nanoTime() - t0) / 1e6
    }
    t.replay("searcher.open", System.currentTimeMillis() - opens.sum.toLong,
      System.currentTimeMillis(), Map("opens" -> opens.length.toDouble))
    val s = new Searcher(spark, dir)
    def words(q: Main.Q) = q.terms.map(g.words)
    val distinct = queries.distinct
    val postings: Array[SegmentPosting] =
      s.postings(distinct.flatMap(words).distinct).collect()
    val blocks = postings.flatMap(_.blocks)
    val dec = loop("codec.decode", 200) {
      blocks.foreach(PostingCodec.decodeDocsTfs); blocks.map(_.n.toLong).sum
    }
    val runs = postings.map(p => PostingCodec.decodeRun(p.blocks.toSeq))
    val enc = loop("codec.encode", 200) {
      runs.foreach(r => PostingCodec.encode(r.docIds, r.tfs, r.positions))
      runs.map(_.docIds.length.toLong).sum
    }
    val bytesRow = s.segments.selectExpr(
      "aggregate(blocks, 0L, (a, b) -> a + octet_length(b.docBytes) + " +
        "octet_length(b.tfBytes) + octet_length(b.posBytes)) AS bytes", "df")
      .agg(org.apache.spark.sql.functions.sum("bytes"), org.apache.spark.sql.functions.sum("df"))
      .collect().head

    // term stats on a fresh searcher warmed like the workload's
    val ts = new Searcher(spark, dir)
    warm.foreach(q => ts.termStats(words(q)))
    val tsCalls = distinct.map { q =>
      val t0 = System.nanoTime()
      t.op("replay", "term_stats")(ts.termStats(words(q)))
      (System.nanoTime() - t0) / 1e6
    }
    val tsSpanIds = t.ops.filter(o => o.kind == "replay" && o.name == "term_stats").map(_.id)

    // block-max WAND per (wave, segId) on fetched postings and norms
    val norms: Map[(Int, Long), Array[SegmentNorms]] =
      s.norms.collect().groupBy(n => (n.wave, n.segId))
    val byTerm = postings.groupBy(_.term)
    val m = s.manifest
    val wandIn = distinct.filter(_.kind == "bm25").map { q =>
      val st = s.termStats(words(q))
      val present = words(q).distinct.filter(st.contains)
      val idf = present.map { w =>
        val df = st(w).df
        w -> math.log((m.totalDocs - df + 0.5) / (df + 0.5) + 1.0)
      }.toMap
      val ps = present.flatMap(w => byTerm.getOrElse(w, Array.empty[SegmentPosting]))
      (ps.groupBy(p => (p.wave, p.segId)).toSeq, idf)
    }
    val wandPostings = wandIn.map(_._1.flatMap(_._2).map(_.df).sum).sum
    def wandPass(): Long = {
      wandIn.foreach { case (groups, idf) =>
        groups.foreach { case (k, ps) =>
          Searcher.wandSegment(ps.toArray, norms.getOrElse(k, Array.empty), idf,
            m.avgdl, Bm25Params(), Main.TopK + 64).size
        }
      }
      wandPostings
    }
    val scored0 = Searcher.scoredCount.sum()
    wandPass()
    val scored = Searcher.scoredCount.sum() - scored0
    val wand = loop("searcher.wand", 300)(wandPass())

    val andIn = distinct.filter(_.kind == "and").map { q =>
      q.terms.map(g.words).distinct.flatMap(w => byTerm.getOrElse(w, Array.empty[SegmentPosting]))
        .groupBy(p => (p.wave, p.segId)).values.map { ps =>
          ps.groupBy(_.term).values.map(rs => Searcher.mergeRunDocs(rs.toSeq)).toArray
        }.toSeq
    }
    val inter = loop("searcher.intersect", 200) {
      andIn.foreach(_.foreach(Searcher.intersect))
      andIn.map(_.map(_.map(_.length.toLong).sum).sum).sum
    }

    (Map(
      "tokenize_mb_per_s" -> rate(tok) / 1e6,
      "encode_postings_per_s" -> rate(enc),
      "decode_postings_per_s" -> rate(dec),
      "bytes_per_posting" -> bytesRow.getLong(0).toDouble / bytesRow.getLong(1),
      "open_ms" -> Main.median(opens),
      "term_stats_ms" -> tsCalls.sum / math.max(1, tsCalls.length),
      "wand_postings_per_s" -> rate(wand),
      "wand_scored_frac" -> scored.toDouble / math.max(1L, wandPostings),
      "intersect_postings_per_s" -> rate(inter),
      "waves_visible" -> new Searcher(spark, dir).visibleWaves.size.toDouble), tsSpanIds)
  }
}
