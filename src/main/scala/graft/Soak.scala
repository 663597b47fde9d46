package graft

import graft.gen.Pages
import graft.index._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale soak: multi-million-doc build + LSM append + tiered compaction +
  * query latency at real multi-segment fan-out. Prints one JSON line.
  * This is the "would it survive a 100x scale-up" evidence run — every
  * mechanism (wave append discipline, ratio-4 merge, WAND over hundreds of
  * segments, norms pruning) executes at the largest size the sandbox fits.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val total = sys.env.getOrElse("SPARK_GRAFT_SOAK_DOCS", "2000000").toLong
    val withPos = sys.env.getOrElse("SPARK_GRAFT_SOAK_POSITIONS", "1") == "1"
    val wave0N = total * 3 / 4
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-soak")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Files.createTempDirectory("graft-soak").toString + "/idx"

    def t[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    // ---- SPARK_GRAFT_SOAK_RESUME=1: crash-resume equivalence AT SCALE ----
    // (BuildSpec proves this at 2k docs; this mode proves it at soak size.)
    // Scenario: a build dies after wave-1 DATA is written but before the
    // manifest commit. Resume = plain append: it must clean the stale
    // uncommitted files and recommit, leaving segments content-identical to
    // a never-crashed two-wave build. Hash covers every posting byte.
    if (sys.env.get("SPARK_GRAFT_SOAK_RESUME").contains("1")) {
      val opts = IndexOptions(docsPerSegment = 1L << 14, withPositions = withPos)
      val p0r = Pages.generate(spark, wave0N, 32)
      val d0r = IndexBuilder.assignDocIds(spark, p0r, "url", 0L, 32)
        .selectExpr("docId", "url AS key", "text", "warc_ts AS ts")
      val p1r = Pages.generate(spark, total, 32).where(col("warc_ts") >
        p0r.agg(max(col("warc_ts"))).head().getTimestamp(0))
      val d1r = IndexBuilder.assignDocIds(spark, p1r, "url", wave0N, 32)
        .selectExpr("docId", "url AS key", "text", "warc_ts AS ts")
      val dirA = s"$dir-resumeA"
      val dirB = s"$dir-resumeB"
      val (_, cleanSec) = t {
        IndexBuilder.build(spark, d0r, dirA, opts)
        IndexBuilder.append(spark, d1r, dirA)
      }
      val (_, crashSec) = t {
        IndexBuilder.build(spark, d0r, dirB, opts)
        // crash: a partial wave 1 (30% of its docs) written, never committed
        IndexBuilder.buildWave(spark,
          d1r.where(col("docId") < wave0N + (total - wave0N) * 3 / 10),
          dirB, 1, opts, None, None)
        require(ManifestIO.read(dirB).waves.map(_.wave) == List(0))
        IndexBuilder.append(spark, d1r, dirB) // resume
      }
      def contentHash(d: String): Long = new Searcher(spark, d).segments
        .select(hash(col("term"), col("wave"), col("segId"), col("df"),
          col("tf"), col("maxTf"), col("blocks")).cast("long").as("h"))
        .agg(sum(col("h"))).head().getLong(0)
      val ha = contentHash(dirA)
      val hb = contentHash(dirB)
      require(ha == hb, s"resume produced different segments: $ha vs $hb")
      println(f"""{"soak_resume_docs":$total,"match":true,""" +
        f""""segments_hash":$ha,"clean_sec":$cleanSec%.1f,"crash_resume_sec":$crashSec%.1f}""")
      spark.stop()
      return
    }

    // ---- SPARK_GRAFT_SOAK_TRIGRAM=1: the trigram analyzer at scale -------
    // A trigram index carries ~6x the postings per doc of the word index
    // (one term per char window vs one per token), so this is the postings-
    // heavy stress of the same machinery: build throughput, bytes/posting,
    // and substring / ordered-regex latency at real segment fan-out.
    if (sys.env.get("SPARK_GRAFT_SOAK_TRIGRAM").contains("1")) {
      val p = Pages.generate(spark, total, 32)
      val d = IndexBuilder.assignDocIds(spark, p, "url", 0L, 32)
        .selectExpr("docId", "CAST(docId AS STRING) AS key", "text")
        .persist()
      val nd = d.count() // materialize the corpus before timing the build
      val (m, buildSec) = t(IndexBuilder.build(spark, d, dir,
        IndexOptions(docsPerSegment = 1L << 14, withPositions = false,
          analyzer = IndexOptions.TrigramAnalyzer)))
      val s = new Searcher(spark, dir)
      val needles =
        Seq("term0000 term0001", "term0700", "term0123 term0040")
      val warm = s.substring(needles.head, d, "docId", "text").count()
      val single = s.substring("term0700", d, "docId", "text").count()
      require(single > 0, "single-token needle must occur")
      val lat = (0 until 9).map { i =>
        val (_, sec) =
          t(s.substring(needles(i % needles.size), d, "docId", "text").count())
        sec * 1000
      }.sorted
      val (ordN, ordSec) = t(s.substringOrdered(
        Seq("term0000", "term0700"), d, "docId", "text").count())
      val idxBytes = {
        val pth = new org.apache.hadoop.fs.Path(dir)
        val fs = pth.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(pth).getLength
      }
      println(
        f"""{"soak_trigram_docs":$nd,"build_sec":$buildSec%.1f,""" +
          f""""docs_per_sec":${nd / buildSec}%.0f,""" +
          f""""postings":${m.totalTokens},""" +
          f""""postings_per_sec":${m.totalTokens / buildSec}%.0f,""" +
          f""""index_bytes":$idxBytes,""" +
          f""""bytes_per_posting":${idxBytes.toDouble / m.totalTokens}%.2f,""" +
          f""""substring_p50_ms":${lat(lat.size / 2)}%.0f,""" +
          f""""substring_max_ms":${lat.last}%.0f,""" +
          f""""ordered_hits":$ordN,"ordered_ms":${ordSec * 1000}%.0f,""" +
          f""""single_hits":$single,"warm":$warm}""")
      spark.stop()
      return
    }

    // ---- SPARK_GRAFT_SOAK_MINDL_AB=1: fresh-vs-compacted WAND pruning ----
    // The compaction repack cannot recompute exact per-block minDl (per-
    // posting dls are not stored); each posting inherits its SOURCE block's
    // minDl instead (Compactor.mergeWaves). This mode quantifies what that
    // costs: the same query mix runs over (A) a fresh single-wave build of
    // the full corpus — tight minDl everywhere — and (B) the two-wave
    // build + tiered compact of the same corpus, and reports both exact-
    // scoring counts. Done-bar: B within ~1% of A.
    if (sys.env.get("SPARK_GRAFT_SOAK_MINDL_AB").contains("1")) {
      val opts = IndexOptions(docsPerSegment = 1L << 14, withPositions = withPos)
      val pAll = Pages.generate(spark, total, 32)
      val dAll = IndexBuilder.assignDocIds(spark, pAll, "url", 0L, 32)
        .selectExpr("docId", "url AS key", "text", "warc_ts AS ts")
      val dirA = s"$dir-freshAB"
      IndexBuilder.build(spark, dAll, dirA, opts)
      val p0ab = Pages.generate(spark, wave0N, 32)
      val d0ab = IndexBuilder.assignDocIds(spark, p0ab, "url", 0L, 32)
        .selectExpr("docId", "url AS key", "text", "warc_ts AS ts")
      val p1ab = Pages.generate(spark, total, 32).where(col("warc_ts") >
        p0ab.agg(max(col("warc_ts"))).head().getTimestamp(0))
      val d1ab = IndexBuilder.assignDocIds(spark, p1ab, "url", wave0N, 32)
        .selectExpr("docId", "url AS key", "text", "warc_ts AS ts")
      val dirB = s"$dir-compactAB"
      IndexBuilder.build(spark, d0ab, dirB, opts)
      IndexBuilder.append(spark, d1ab, dirB)
      Compactor.compact(spark, dirB)
      val mix = Seq(
        Seq("term0000", "term0040"), Seq("term0040", "term0300", "term0700"),
        Seq("term0700"), Seq("term0000", "term0700"), Seq("term0100", "term0200"))
      def scored(d: String): (Long, Long) = {
        val se = new Searcher(spark, d)
        se.bm25(mix.head, 10).count() // warmup outside the counted window
        val c0 = Searcher.scoredCount.sum()
        var hits = 0L
        (0 until 15).foreach(i => hits += se.bm25(mix(i % mix.size), 10).count())
        (Searcher.scoredCount.sum() - c0, hits)
      }
      val (sa, ha) = scored(dirA)
      val (sb, hb) = scored(dirB)
      require(ha == hb, s"A/B top-k cardinality diverged: $ha vs $hb")
      println(f"""{"soak_mindl_ab_docs":$total,"scored_fresh":$sa,"scored_compacted":$sb,"ratio":${sb.toDouble / sa}%.4f}""")
      spark.stop()
      return
    }

    // wave 0: pages [0, wave0N) — warc_ts is monotone in i, so splitting by
    // generator index keeps wave time ranges disjoint (append discipline)
    val p0 = Pages.generate(spark, wave0N, 32)
    val d0 = IndexBuilder.assignDocIds(spark, p0, "url", 0L, 32)
      .selectExpr("docId", "url AS key", "text", "warc_ts AS ts")
    val (_, buildSec) = t(IndexBuilder.build(spark, d0, dir,
      IndexOptions(docsPerSegment = 1L << 14, withPositions = withPos)))

    // wave 1: pages [wave0N, total), docIds rebased above wave 0
    val p1 = Pages.generate(spark, total, 32).where(col("warc_ts") >
      p0.agg(max(col("warc_ts"))).head().getTimestamp(0))
    val d1 = IndexBuilder.assignDocIds(spark, p1, "url", wave0N, 32)
      .selectExpr("docId", "url AS key", "text", "warc_ts AS ts")
    val (_, appendSec) = t(IndexBuilder.append(spark, d1, dir))

    val (mc, compactSec) = t(Compactor.compact(spark, dir))
    val s = new Searcher(spark, dir)
    require(s.manifest.totalDocs == total,
      s"doc count ${s.manifest.totalDocs} != $total")

    // query mix over the zipf vocabulary: head / mid / tail
    val sets = Seq(
      Seq("term0000", "term0040"), Seq("term0040", "term0300", "term0700"),
      Seq("term0700"), Seq("term0000", "term0700"), Seq("term0100", "term0200"))
    val warm = s.bm25(sets.head, 10).count() // plan/codegen warmup
    val scored0 = Searcher.scoredCount.sum()
    val lat = (0 until 15).map { i =>
      val (n, sec) = t(s.bm25(sets(i % sets.size), 10).count())
      require(n > 0, s"empty top-k for ${sets(i % sets.size)}")
      sec * 1000
    }.sorted
    // exact scorings across the 15-query mix — the WAND pruning diagnostic
    // (local-mode counter)
    val scoredExact = Searcher.scoredCount.sum() - scored0
    val (andN, andSec) = t(s.and(Seq("term0000", "term0040", "term0100")).count())
    val (phraseN, phraseSec) =
      if (withPos) t(s.phrase(Seq("term0000", "term0001")).count()) else (0L, 0.0)
    val segCount = s.segments.count()
    val idxBytes = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    }
    println(
      f"""{"soak_docs":$total,"waves_after_compact":${mc.waves.length},""" +
        f""""build_sec":$buildSec%.1f,"append_sec":$appendSec%.1f,"compact_sec":$compactSec%.1f,""" +
        f""""build_docs_per_sec":${wave0N / buildSec}%.0f,""" +
        f""""segments":$segCount,"index_bytes":$idxBytes,""" +
        f""""bytes_per_posting":${idxBytes.toDouble / mc.totalTokens}%.2f,""" +
        f""""bm25_p50_ms":${lat(lat.size / 2)}%.0f,"bm25_max_ms":${lat.last}%.0f,""" +
        f""""bm25_scored_exact":$scoredExact,""" +
        f""""and_hits":$andN,"and_ms":${andSec * 1000}%.0f,""" +
        f""""phrase_hits":$phraseN,"phrase_ms":${phraseSec * 1000}%.0f,"warm":$warm}""")
    spark.stop()
  }
}
