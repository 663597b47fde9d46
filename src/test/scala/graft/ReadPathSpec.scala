package graft

import graft.index._
import graft.text.Tokenize
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.types._

/** The Searcher read path: each table is resolved once per Searcher with a
  * declared schema, and a snapshot deleted under a Searcher fails loudly.
  */
class ReadPathSpec extends SparkSpec {
  import spark.implicits._

  private def text(i: Long): String =
    (Seq.fill((i % 4).toInt + 1)(s"w${i % 7}") ++
      Seq(s"v${i * 3 % 11}", "common")).mkString(" ")
  private def docs(from: Long, until: Long) =
    (from until until).map(i => (i, s"k$i", text(i))).toDF("docId", "key", "text")

  /** Two waves over docIds [0, 500). */
  private def twoWaves(name: String): String = {
    val dir = scratch(name)
    IndexBuilder.build(spark, docs(0L, 300L), dir, IndexOptions(docsPerSegment = 128))
    IndexBuilder.append(spark, docs(300L, 500L), dir)
    dir
  }

  test("opening a Searcher and querying it runs no Parquet schema-inference job") {
    val dir = twoWaves("readpath-jobs")
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(e.stageInfo.name)
    }
    ListenerDrain(sc) // the build's own stages stay out of the record
    sc.addSparkListener(listener)
    try {
      val s = new Searcher(spark, dir)
      s.and(Seq("w3", "common")).collect()
      s.and(Seq("w4", "v2")).collect()
      s.bm25(Seq("w5", "v7"), 5).collect()
      ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val names = stages.asScala.toSeq
    assert(names.nonEmpty, "the listener saw no query stage at all")
    assert(!names.exists(_.startsWith("parquet at")), names)
  }

  test("a Searcher whose snapshot a compaction deleted throws; reopening answers afresh") {
    val dir = twoWaves("readpath-stale")
    val old = Searcher.open(spark, dir)
    assert(old.and(Seq("w3", "common")).count() > 0)
    Compactor.fullCompact(spark, dir)
    intercept[Exception](old.and(Seq("w3", "common")).collect())
    intercept[Exception](old.bm25(Seq("w5", "v7"), 5).collect())
    intercept[Exception](old.termStats(Seq("w6")))

    val fresh = Searcher.open(spark, dir)
    assert(!(fresh eq old))
    val corpus = (0L until 500L).map(i => i -> Tokenize.tokenizeScala(text(i)).toSeq)
    def naiveAnd(ts: Seq[String]): Set[Long] =
      corpus.collect { case (i, toks) if ts.forall(toks.contains) => i }.toSet
    for (ts <- Seq(Seq("w3", "common"), Seq("w4", "v2"), Seq("v7")))
      assert(fresh.and(ts).as[Long].collect().toSet == naiveAnd(ts), ts)

    // BM25 (k1 1.2, b 0.75) recomputed from the token lists
    val terms = Seq("w5", "v7")
    val nDocs = corpus.size.toDouble
    val avgdl = corpus.map(_._2.size).sum / nDocs
    val idf = terms.map { t =>
      val df = corpus.count(_._2.contains(t))
      t -> math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
    }.toMap
    def round6(x: Double) = math.round(x * 1e6) / 1e6
    val naive = corpus.flatMap { case (i, toks) =>
      val parts = terms.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else idf(t) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * toks.size / avgdl))
      }
      if (parts.forall(_ == 0.0)) None else Some(i -> round6(parts.sum))
    }.sortBy { case (i, sc) => (-sc, i) }.take(10)
    val got = fresh.bm25(terms, 10).as[(Long, Double)].collect()
      .map { case (i, sc) => i -> round6(sc) }.sortBy { case (i, sc) => (-sc, i) }.toSeq
    assert(got == naive)
  }

  /** Field names and types, nullability dropped at every level. */
  private def shape(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, shape(f.dataType))))
    case a: ArrayType => ArrayType(shape(a.elementType))
    case o => o
  }

  test("declared table schemas equal the written files' schemas, zero-posting wave included") {
    val dir = scratch("readpath-schema")
    IndexBuilder.build(spark, docs(0L, 200L), dir, IndexOptions(docsPerSegment = 128))
    // a token-free doc: the wave holds no postings, so its segments and
    // termstats files are written empty
    IndexBuilder.append(spark, Seq((200L, "k200", "!!!")).toDF("docId", "key", "text"), dir)
    assert(IndexBuilder.readSegments(spark, dir, Seq(1)).count() == 0)
    val tables = Seq(
      IndexBuilder.segmentsPath(dir) -> IndexBuilder.SegmentsSchema,
      IndexBuilder.normsPath(dir) -> IndexBuilder.NormsSchema,
      IndexBuilder.termstatsPath(dir) -> IndexBuilder.TermStatsSchema,
      IndexBuilder.docmetaPath(dir) -> IndexBuilder.DocMetaSchema)
    for ((root, declared) <- tables) {
      assert(shape(spark.read.parquet(root).schema) == shape(declared), root)
      val fileFields = StructType(declared.filterNot(_.name == "wave"))
      for (w <- Seq(0, 1))
        assert(shape(spark.read.parquet(s"$root/wave=$w").schema) == shape(fileFields),
          s"$root/wave=$w")
    }
  }
}
