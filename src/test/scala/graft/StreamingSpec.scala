package graft

import graft.index._
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** Structured-Streaming ingest and the bounded streaming operators:
  * micro-batches become committed LSM waves and the final index is
  * logically identical to a batch build (the reference's push-stream +
  * flush-watermark semantics, storage.rs:221-224); q22/q31/q35 equal their
  * batch formulations and release their staged inputs per call.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** The sf0.001 events table the bounded operators run over. */
  private val path = "/root/testdata/sf0.001/events.parquet"

  test("stateful streaming sessionization matches batch (closed sessions)") {
    import graft.ops.Sessionize
    val gap = Sessionize.DefaultGapSec
    val batchSessions = Sessionize.batch(spark.read.parquet(path))
      .collect().toSet
    // stream the same file; flatMapGroupsWithState with EventTimeTimeout
    // emits sessions closed by a newer event AND sessions whose
    // (last + gap) fell behind the final watermark. Expected set is exact:
    // batch minus the final sessions the watermark never reached.
    val schema = spark.read.parquet(path).schema
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sess-src")
    java.nio.file.Files.copy(java.nio.file.Paths.get(path),
      srcDir.resolve("events.parquet"))
    val events = spark.readStream.schema(schema).parquet(srcDir.toString)
    val q = Sessionize.streaming(events).writeStream
      .outputMode("append").format("memory").queryName("sess_out").start()
    // hard bound: with ProcessingTimeTimeout this used to spin forever —
    // never let a regression wedge the whole suite again
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    try Await.result(Future(q.processAllAvailable()), 180.seconds)
    finally q.stop()
    val streamed = spark.table("sess_out")
      .as[graft.ops.SessionOut].collect().toSet
    // final watermark = max event time (delay 0s); a final session fires
    // iff (lastSec + gap) * 1000 + 1 < watermarkMs (strict, Spark semantics)
    val wmMs = spark.read.parquet(path)
      .agg(max(unix_millis(col("ts").cast("timestamp")))).head().getLong(0)
    val lastSecPerUser = spark.read.parquet(path)
      .groupBy(col("user_id").cast("long").as("u"))
      .agg(max(unix_timestamp(col("ts").cast("timestamp"))).as("lastSec"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unfiredFinal = batchSessions.groupBy(_.user_id)
      .map { case (_, ss) => ss.maxBy(_.sid) }
      .filter(s => (lastSecPerUser(s.user_id) + gap) * 1000L + 1L >= wmMs)
      .toSet
    assert(streamed == batchSessions -- unfiredFinal)
    assert(streamed.nonEmpty)
  }

  private def batchWindowed(path: String) = spark.read.parquet(path)
    .withColumn("ts", col("ts").cast("timestamp"))
    .groupBy(window(col("ts"), "300 seconds"), col("event_type"))
    .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
    .select(unix_timestamp(col("window.start")).as("ws"),
      col("event_type"), col("n"), col("total"))

  test("update-mode changelog sink (production q22 shape) equals batch") {
    val inc = StreamingOps.windowedEventCountsIncremental(spark, path)
    val batch = batchWindowed(path)
    assert(inc.count() == batch.count())
    assert(inc.except(batch).count() == 0)
  }

  test("update-mode changelog compacts correctly across multiple micro-batches") {
    // 3 ts-ordered files -> 3 micro-batches; windows updated in a later
    // batch are re-emitted and the changelog compaction must keep only the
    // final row per key. In-order arrival + the 10-minute watermark on
    // 5-minute windows means no update ever lands on an evicted window, so
    // the compacted result equals the batch aggregation exactly.
    val ev = spark.read.parquet(path)
      .withColumn("sec", unix_timestamp(col("ts").cast("timestamp")))
    val (lo, hi) = ev.agg(min(col("sec")), max(col("sec")))
      .as[(Long, Long)].head()
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * (hi - lo) / 3
    val srcDir = java.nio.file.Files.createTempDirectory("graft-inc-src")
    Seq(col("sec") <= cut1,
        col("sec") > cut1 && col("sec") <= cut2,
        col("sec") > cut2).zipWithIndex.foreach { case (pred, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-inc-part$i")
      ev.where(pred).drop("sec").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, srcDir.resolve(f"ev$i%02d.parquet"))
      Thread.sleep(5) // strictly increasing mod times = in-order arrival
    }
    val inc = StreamingOps.windowedEventCountsIncremental(spark,
      srcDir.toString, maxFilesPerTrigger = Some(1))
    val batch = batchWindowed(srcDir.toString)
    assert(inc.count() == batch.count())
    assert(inc.except(batch).count() == 0)
    assert(inc.count() > 0)
  }

  test("empty events source yields an empty changelog result, not a schema error") {
    // no micro-batch ever writes: the pre-seeded empty changelog frame must
    // make the compaction read back an empty result with the right schema
    val emptyDir = scratch("inc-empty")
    spark.read.parquet(path).limit(0)
      .write.mode("overwrite").parquet(emptyDir)
    val inc = StreamingOps.windowedEventCountsIncremental(spark, emptyDir)
    assert(inc.columns.toSeq == Seq("ws", "event_type", "n", "total"))
    assert(inc.count() == 0)
  }

  test("changelog and staged stream source live under the staging root and are reclaimed") {
    val root = scratch("stream-staging")
    spark.conf.set("spark.graft.stagingDir", root)
    try {
      val inc = StreamingOps.windowedEventCountsIncremental(spark, path)
      assert(inc.count() > 0)
      val staged = new java.io.File(root).listFiles()
      assert(staged != null && staged.exists(_.getName.startsWith("stream-log")),
        "changelog must be staged under spark.graft.stagingDir, not driver-local temp")
      graft.util.Staging.dropStaged(under = Some(root))
      val after = new java.io.File(root).listFiles()
      assert(after == null || after.isEmpty,
        "dropStaged must reclaim streaming staging dirs")
    } finally spark.conf.unset("spark.graft.stagingDir")
  }

  test("streaming dedup emits each key once and suppresses cross-batch duplicates") {
    // 3 ts-ordered files -> 3 micro-batches with planted duplicate keys in
    // LATER batches; the dedup state must suppress them (a within-batch
    // distinct would pass batch 0 but re-emit (1,a) in batch 1 and both
    // dups in batch 2)
    val waves = Seq(
      Seq((1000L, 1L, "a"), (1001L, 2L, "a")),
      Seq((2000L, 1L, "a"), (2001L, 3L, "b")), // (1,a) is a dup
      Seq((3000L, 2L, "a"), (3001L, 1L, "b"))) // (2,a) is a dup
    val srcDir = java.nio.file.Files.createTempDirectory("graft-dedup-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-dedup-part$i")
      rows.toDF("sec", "user_id", "event_type")
        .select(timestamp_seconds(col("sec")).as("ts"),
          col("user_id"), col("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, srcDir.resolve(f"ev$i%02d.parquet"))
      Thread.sleep(5)
    }
    val got = StreamingOps.distinctKeysIncremental(spark, srcDir.toString,
        Seq("user_id", "event_type"), withinWatermark = "1 hour",
        maxFilesPerTrigger = Some(1))
      .as[(Long, String)].collect()
    assert(got.length == 4, s"each key exactly once, got ${got.toSeq}")
    assert(got.toSet == Set((1L, "a"), (2L, "a"), (3L, "b"), (1L, "b")))
  }

  test("streaming dedup over an empty source yields an empty keyed result") {
    val emptyDir = scratch("dedup-empty")
    spark.read.parquet(path).limit(0)
      .write.mode("overwrite").parquet(emptyDir)
    val got = StreamingOps.distinctKeysIncremental(spark, emptyDir,
      Seq("user_id", "event_type"))
    assert(got.columns.toSeq == Seq("user_id", "event_type"))
    assert(got.count() == 0)
  }

  test("sessionizeComplete over an empty source yields an empty sessions frame") {
    // guards the changelog seed, which is derived from the query's schema
    val emptyDir = scratch("sess-empty")
    spark.read.parquet(path).limit(0)
      .write.mode("overwrite").parquet(emptyDir)
    val got = StreamingOps.sessionizeComplete(spark, emptyDir)
    assert(got.columns.toSeq == Seq("user_id", "sid", "n_events", "duration_sec"))
    assert(got.count() == 0)
  }

  test("each bounded streaming call leaves only its changelog staged") {
    // staged inputs (single-file source copy, sessionizeComplete's source
    // and tmp dirs) are released when each call ends; the changelog the
    // returned frame reads stays until the end-of-run drain
    val root = scratch("stream-per-call")
    spark.conf.set("spark.graft.stagingDir", root)
    def staged: Seq[String] =
      Option(new java.io.File(root).list()).toSeq.flatten
    try {
      for (_ <- 1 to 3) {
        assert(StreamingOps.windowedEventCountsIncremental(spark, path)
          .count() > 0)
        assert(StreamingOps.distinctKeysIncremental(spark, path,
          Seq("user_id", "event_type")).count() > 0)
        assert(StreamingOps.sessionizeComplete(spark, path).count() > 0)
      }
      // "<prefix>-<36-char uuid>"
      val prefixes = staged.map(n => n.dropRight(37)).sorted
      assert(prefixes == Seq("stream-dedup", "stream-log", "stream-sess")
        .flatMap(Seq.fill(3)(_)), staged.sorted)
      graft.util.Staging.dropStaged(under = Some(root))
      assert(staged.isEmpty)

      // a call that fails after staging starts leaves nothing behind
      val neg = scratch("sess-neguid-staged")
      spark.read.parquet(path).limit(50)
        .withColumn("user_id", (col("user_id") * -1 - 1).cast(
          spark.read.parquet(path).schema("user_id").dataType))
        .write.mode("overwrite").parquet(neg)
      intercept[IllegalArgumentException] {
        StreamingOps.sessionizeComplete(spark, neg)
      }
      assert(staged.isEmpty, staged)
    } finally spark.conf.unset("spark.graft.stagingDir")
  }

  test("sessionizeComplete drains every final session and equals batch exactly") {
    import graft.ops.Sessionize
    val batchSessions = Sessionize.batch(spark.read.parquet(path))
      .collect().toSet
    val streamed = StreamingOps.sessionizeComplete(spark, path)
      .as[graft.ops.SessionOut].collect().toSeq
    assert(streamed.length == streamed.toSet.size,
      "append-mode log must emit each session exactly once")
    assert(streamed.toSet == batchSessions)
    assert(streamed.nonEmpty)
  }

  test("sessionizeComplete: multi-file batch 0 stays exact; negative ids fail loudly") {
    import graft.ops.Sessionize
    // round-6 staging shape: batch 0 keeps the source's partitioning (no
    // whole-corpus coalesce(1)) — exactness must hold when the corpus
    // spans MANY files admitted in one trigger
    val multi = scratch("sess-multifile")
    spark.read.parquet(path).repartition(5).write.mode("overwrite").parquet(multi)
    val batchSessions = Sessionize.batch(spark.read.parquet(multi))
      .collect().toSet
    val streamed = StreamingOps.sessionizeComplete(spark, multi)
      .as[graft.ops.SessionOut].collect().toSeq
    assert(streamed.length == streamed.toSet.size)
    assert(streamed.toSet == batchSessions)
    // the reserved-id contract is ENFORCED (ADVICE item 4), not documented
    val neg = scratch("sess-neguid")
    spark.read.parquet(path).limit(50)
      .withColumn("user_id", (col("user_id") * -1 - 1).cast(
        spark.read.parquet(path).schema("user_id").dataType))
      .write.mode("overwrite").parquet(neg)
    val ex = intercept[IllegalArgumentException] {
      StreamingOps.sessionizeComplete(spark, neg)
    }
    assert(ex.getMessage.contains("reserves user_id -1"), ex.getMessage)
  }

  test("pages-stream ingest equals batch per term and replays are exactly-once") {
    val pages = (0 until 120).map { i =>
      (f"https://ex.com/p$i%03d", 1700000000000L + i * 1000L,
        s"tok${i % 13} tok${i % 7} shared")
    }.toDF("url", "warc_ts", "text")
    // three single-file drops with strictly increasing mtimes (in-order
    // micro-batches), like the changelog-compaction test above
    val srcDir = java.nio.file.Files.createTempDirectory("graft-pages-in")
    Seq(0 until 40, 40 until 80, 80 until 120).zipWithIndex.foreach {
      case (range, i) =>
        val tmp = java.nio.file.Files.createTempDirectory(s"graft-pages-part$i")
        pages.where(col("url") >= f"https://ex.com/p${range.head}%03d" &&
            col("url") <= f"https://ex.com/p${range.last}%03d")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath, srcDir.resolve(f"pg$i%02d.parquet"))
        Thread.sleep(5)
    }
    val idxDir = scratch("pages-stream-idx")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pages-ckpt")
    val opts = IndexOptions(docsPerSegment = 64)
    val q = StreamingOps.ingestPagesStream(spark, srcDir.toString, idxDir,
      opts, maxFilesPerTrigger = 1, checkpointDir = Some(ckpt.toString))
    q.processAllAvailable()
    q.stop()
    val m = ManifestIO.read(idxDir)
    assert(m.totalDocs == 120)
    assert(m.lastStreamBatch == 2, s"3 drops -> batches 0..2, got ${m.lastStreamBatch}")

    // per-term url sets equal a one-shot batch build over the same pages
    // (url-keyed: docId spaces differ between the two builds by design)
    val batchDir = scratch("pages-batch-idx")
    IndexBuilder.build(spark,
      graft.sources.CorpusSource.pagesAsIndexInput(pages), batchDir, opts)
    def urls(dir: String, term: String): Set[String] = {
      val s = new Searcher(spark, dir)
      s.resolve(s.lookup(term)).select("key").as[String].collect().toSet
    }
    for (t <- Seq("shared", "tok0", "tok5", "tok12"))
      assert(urls(idxDir, t) == urls(batchDir, t), s"term $t")
    // every term's full (url, tf) postings, duplicates included, equal the
    // batch build's: one wave per micro-batch plus compaction loses nothing
    def postings(dir: String): Seq[(String, String, Int)] = {
      val s = new Searcher(spark, dir)
      val keyOf = s.docMeta.select("docId", "key").as[(Long, String)]
        .collect().toMap
      s.segments
        .select("term", "wave", "segId", "df", "tf", "maxTf", "blocks")
        .as[SegmentPosting]
        .flatMap { sp =>
          val d = graft.codec.PostingCodec.decodeRun(sp.blocks.toSeq)
          d.docIds.iterator.zip(d.tfs.iterator).map(p => (sp.term, p._1, p._2))
        }.collect().toSeq
        .map { case (t, id, tf) => (t, keyOf(id), tf) }.sorted
    }
    val streamed = postings(idxDir)
    val terms = streamed.map(_._1).toSet
    assert(("shared" +: (0 until 13).map(i => s"tok$i")).forall(terms), terms)
    assert(streamed == postings(batchDir))

    // replay: batchIds at or below the committed mark no-op atomically
    val replay = spark.read.parquet(s"$srcDir/pg00.parquet")
    assert(!StreamingOps.ingestPagesBatch(replay, idxDir, opts, batchId = 2))
    assert(!StreamingOps.ingestPagesBatch(replay, idxDir, opts, batchId = 0))
    assert(ManifestIO.read(idxDir).totalDocs == 120)
    // a NEW batch ingests and advances the mark past gaps
    val extra = Seq(("https://ex.com/zz1", 1700001000000L, "fresh shared"))
      .toDF("url", "warc_ts", "text")
    assert(StreamingOps.ingestPagesBatch(extra, idxDir, opts, batchId = 7))
    val m2 = ManifestIO.read(idxDir)
    assert(m2.totalDocs == 121 && m2.lastStreamBatch == 7)
    assert(urls(idxDir, "fresh") == Set("https://ex.com/zz1"))
  }
}
