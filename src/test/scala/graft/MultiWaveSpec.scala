package graft

import graft.index._
import graft.text.Tokenize
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-segment kernel and the trigram planner over an UNCOMPACTED
  * three-wave index whose wave boundaries fall inside segments, so the
  * postings of one (term, segId) sit in several waves. Every answer is
  * checked against a driver-side brute force over the same documents;
  * BM25 includes many docs tied at the k-th exact score. Compacting the
  * index concatenates those runs in wave order.
  */
class MultiWaveSpec extends SparkSpec {
  import spark.implicits._

  private val N = 1500
  private val WaveStarts = Seq(0, 500, 1000)
  // 500 and 1000 are not multiples of 128: both boundaries split a segment
  private val DocsPerSegment = 128

  /** Seeded skewed random text, plus two groups of identical docs: two
    * top scorers for "alpha" (docs 120 and 760) and 300 docs tied just
    * below them, 25 per segment in every wave. Doc 120 comes after 24 tied
    * docs of its segment, so a per-segment top-k heap must evict among
    * ties, keeping the smaller docIds.
    */
  private lazy val texts: IndexedSeq[String] = {
    val r = new scala.util.Random(7)
    (0 until N).map { i =>
      if (i == 120 || i == 760) "alpha alpha beta"
      else if (i % 5 == 3) "alpha beta gamma beta"
      else Seq.fill(5 + r.nextInt(20)) {
        val x = r.nextDouble()
        s"w${(x * x * 30).toInt}"
      }.mkString(" ")
    }
  }
  private lazy val tokens: IndexedSeq[Array[String]] = texts.map(Tokenize.tokenizeScala)

  private lazy val corpus: DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, i.toString, t) }
      .toDF("docId", "key", "text").cache()

  private def threeWaves(name: String, opts: IndexOptions): String = {
    val dir = scratch(name)
    val bounds = WaveStarts :+ N
    IndexBuilder.build(spark, corpus.where(col("docId") < bounds(1)), dir, opts)
    for (w <- 1 until WaveStarts.size)
      IndexBuilder.append(spark,
        corpus.where(col("docId") >= bounds(w) && col("docId") < bounds(w + 1)), dir)
    dir
  }

  private lazy val s = new Searcher(spark,
    threeWaves("multiwave", IndexOptions(docsPerSegment = DocsPerSegment)))
  private lazy val tri = new Searcher(spark,
    threeWaves("multiwave-tri", IndexOptions(docsPerSegment = DocsPerSegment,
      withPositions = false, analyzer = IndexOptions.TrigramAnalyzer)))

  private def docSet(df: DataFrame): Set[Long] =
    df.select(col("docId").cast("long")).as[Long].collect().toSet
  private def docsWhere(p: Array[String] => Boolean): Set[Long] =
    tokens.indices.filter(i => p(tokens(i))).map(_.toLong).toSet

  private def positions(ts: Array[String], t: String): Seq[Int] =
    ts.indices.filter(ts(_) == t)

  test("the fixture's runs really span waves inside one segment") {
    assert(s.visibleWaves == Seq(0, 1, 2))
    val split = s.segments.groupBy("term", "segId")
      .agg(countDistinct("wave").as("w")).where(col("w") > 1).count()
    assert(split > 0, "no (term, segId) run is split across waves")
  }

  test("and / or / phrase / near over three waves equal a brute force") {
    for (ts <- Seq(Seq("w0", "w1"), Seq("w2", "alpha"), Seq("w5", "w9", "w13"),
        Seq("beta", "gamma")))
      assert(docSet(s.and(ts)) == docsWhere(d => ts.forall(d.contains)), ts)
    val orTerms = Seq("w20", "w25", "beta", "nosuchterm")
    val naiveOr = tokens.indices.map(i => i.toLong ->
      orTerms.count(tokens(i).contains)).filter(_._2 > 0).toMap
    assert(s.or(orTerms).as[(Long, Int)].collect().toMap == naiveOr)
    for (ph <- Seq(Seq("alpha", "beta"), Seq("beta", "gamma", "beta"),
        Seq("w0", "w1"), Seq("w0", "w0"), Seq("w7"))) {
      val naive = docsWhere(d => d.indices.exists(p =>
        p + ph.size <= d.length && ph.indices.forall(j => d(p + j) == ph(j))))
      val got = s.phrase(ph)
      assert(docSet(got) == naive, ph)
      assert(got.count() == naive.size, s"duplicate docIds: $ph")
    }
    for ((a, b, k) <- Seq(("w3", "w4", 3), ("alpha", "gamma", 2), ("w0", "w1", 1));
        ordered <- Seq(false, true)) {
      val naive = docsWhere { d =>
        val pa = positions(d, a)
        val pb = positions(d, b)
        pa.exists(p => pb.exists(q =>
          if (ordered) q - p >= 1 && q - p <= k else math.abs(q - p) <= k))
      }
      assert(docSet(s.near(a, b, k, ordered)) == naive, (a, b, k, ordered))
    }
  }

  /** Exact BM25 top-k by (score desc, docId asc), each term's part computed
    * with the engine's own expression. With at most two query terms the
    * sum is order-independent, so scores compare bit for bit.
    */
  private def bruteBm25(terms: Seq[String], k: Int): Seq[(Long, Double)] = {
    val p = Bm25Params()
    val nDocs = N.toLong
    val avgdl = tokens.map(_.length.toLong).sum.toDouble / nDocs
    val idf = terms.distinct.map { t =>
      val df = tokens.count(_.contains(t)).toLong
      t -> math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
    }.toMap
    tokens.indices.flatMap { i =>
      val d = tokens(i)
      val dl = d.length.toDouble
      val parts = terms.distinct.flatMap { t =>
        val tf = d.count(_ == t).toDouble
        if (tf == 0) None
        else Some(idf(t) * (tf * (p.k1 + 1.0)) /
          (tf + p.k1 * (1.0 - p.b + p.b * dl / avgdl)))
      }
      if (parts.isEmpty) None else Some((i.toLong, parts.foldLeft(0.0)(_ + _)))
    }.sortBy { case (d, sc) => (-sc, d) }.take(k)
  }

  private def bm25(terms: Seq[String], k: Int): Seq[(Long, Double)] =
    s.bm25(terms, k).as[(Long, Double)].collect()
      .sortBy { case (d, sc) => (-sc, d) }.toSeq

  test("bm25 over three waves equals a brute force, exact-k ties included") {
    for (terms <- Seq(Seq("w0"), Seq("w3", "w17"), Seq("w1", "beta"));
        k <- Seq(1, 10, 100))
      assert(bm25(terms, k) == bruteBm25(terms, k), s"terms=$terms k=$k")
    // many docs tied at the k-th exact score at every k, across all waves
    // and segments; the tie-break is docId asc
    for (terms <- Seq(Seq("alpha"), Seq("alpha", "beta"), Seq("gamma"));
        k <- Seq(1, 10, 100)) {
      val ranking = bruteBm25(terms, N)
      val naive = ranking.take(k)
      assert(ranking(k)._2 == naive.last._2, s"the cut splits no tie: $terms $k")
      assert(bm25(terms, k) == naive, s"terms=$terms k=$k")
    }
    // three terms: compared on scores, since summation order may differ
    val three = Seq("w0", "w4", "alpha")
    assert(bm25(three, 20).map(x => math.rint(x._2 * 1e9)) ==
      bruteBm25(three, 20).map(x => math.rint(x._2 * 1e9)))
  }

  test("substringAny and substringOrdered over three trigram waves equal a brute force") {
    val anyCases = Seq(
      Seq("alpha be", "w1 w2", "zz@absent"),
      Seq("a gamma b", "w29 w2"),
      Seq("zz@absent"),
      Seq("w17 w1", "a")) // a sub-window needle forces the full verify scan
    for (needles <- anyCases) {
      val naive = texts.indices.filter(i => needles.exists(texts(i).contains))
        .map(_.toLong).toSet
      assert(docSet(tri.substringAny(needles, corpus, "docId", "text")) == naive,
        needles)
    }
    def inOrder(t: String, parts: Seq[String]): Boolean = {
      var from = 0
      parts.forall { p =>
        val i = t.indexOf(p, from)
        if (i >= 0) from = i + p.length
        i >= 0
      }
    }
    for (parts <- Seq(Seq("beta", "gamma"), Seq("gamma", "alpha"),
        Seq("w1 ", "w2 ", "w3"), Seq("alpha", "w"), Seq("w3", "zz@absent"))) {
      val naive = texts.indices.filter(i => inOrder(texts(i), parts))
        .map(_.toLong).toSet
      assert(docSet(tri.substringOrdered(parts, corpus, "docId", "text")) == naive,
        parts)
    }
  }

  test("Searcher's own jobs carry its step name; later jobs get theirs back") {
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(e.stageInfo.name)
    }
    val fresh = new Searcher(spark, s.dir) // empty term-stats memo
    fresh.and(Seq("w0", "w1")).count() // resolves the tables first
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    val after = try {
      fresh.bm25(Seq("w4", "w6"), 5).collect()
      ListenerDrain(sc)
      val searcherStages = stages.toArray(Array.empty[String]).toSeq
      stages.clear()
      spark.range(10).count()
      ListenerDrain(sc)
      assert(searcherStages.exists(_.startsWith("Searcher.termStats")), searcherStages)
      assert(searcherStages.exists(_.startsWith("Searcher.touchedSegments")),
        searcherStages)
      stages.toArray(Array.empty[String]).toSeq
    } finally sc.removeSparkListener(listener)
    assert(after.nonEmpty && !after.exists(_.startsWith("Searcher.")), after)
  }

  test("every table root holds only wave=N dirs after build, append and compaction") {
    val dir = threeWaves("multiwave-layout", IndexOptions(docsPerSegment = DocsPerSegment))
    Compactor.compact(spark, dir)
    val live = ManifestIO.read(dir).waves
    for (root <- Seq(IndexBuilder.segmentsPath(dir), IndexBuilder.normsPath(dir),
        IndexBuilder.termstatsPath(dir))) {
      val names = new java.io.File(root).list().toSet
      assert(names == live.map(w => s"wave=${w.wave}").toSet, root)
    }
    val se = new Searcher(spark, dir)
    assert(docSet(se.and(Seq("alpha", "beta"))) ==
      docsWhere(d => d.contains("alpha") && d.contains("beta")))
  }
}
