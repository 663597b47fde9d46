package graft

import graft.codec.PostingCodec
import graft.index._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index builds reused across all queries of a Verify/Bench run in this
  * JVM: each scale-factor dir gets one full build and one two-wave+merge
  * build.
  */
object IndexCache {
  private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private lazy val root =
    java.nio.file.Files.createTempDirectory("graft-index-cache").toString

  private def docsOf(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("docId"),
        col("doc_id").cast("string").as("key"), col("text"))

  val opts: IndexOptions = IndexOptions(docsPerSegment = 128, withPositions = true)

  /** Single-wave index over the documents table. */
  def full(spark: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"full:$sfDir", {
      val dir = s"$root/full-${math.abs(sfDir.hashCode)}"
      IndexBuilder.build(spark, docsOf(spark, sfDir), dir, opts)
      dir
    })

  /** Two waves (docs split in half) + full LSM merge — exercises append,
    * docID-rebase discipline, and Compactor, and must be indistinguishable
    * from the single build (merge-invariance oracle).
    */
  def twoWave(spark: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"twowave:$sfDir", {
      val dir = s"$root/twowave-${math.abs(sfDir.hashCode)}"
      val docs = docsOf(spark, sfDir)
      val mid = docs.agg(avg(col("docId"))).head().getDouble(0).toLong
      IndexBuilder.build(spark, docs.where(col("docId") <= mid), dir, opts)
      IndexBuilder.append(spark, docs.where(col("docId") > mid), dir)
      Compactor.fullCompact(spark, dir)
      dir
    })

  /** Searcher over [[full]], memoized by [[Searcher.open]]. */
  def searcher(spark: SparkSession, sfDir: String): Searcher =
    Searcher.open(spark, full(spark, sfDir))

  /** Searcher over [[trigram]], memoized like [[searcher]]. */
  def trigramSearcher(spark: SparkSession, sfDir: String): Searcher =
    Searcher.open(spark, trigram(spark, sfDir))

  /** Trigram-analyzed index over the documents table (exact substring
    * search, Searcher.substring). Positions off: the substring verify pass
    * reads source text, so position bytes would buy nothing (Trigram
    * scaladoc).
    */
  def trigram(spark: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"trigram:$sfDir", {
      val dir = s"$root/trigram-${math.abs(sfDir.hashCode)}"
      IndexBuilder.build(spark, docsOf(spark, sfDir), dir,
        IndexOptions(docsPerSegment = 128, withPositions = false,
          analyzer = IndexOptions.TrigramAnalyzer))
      dir
    })

  /** Persisted LSH ANN index over the embeddings table (bucket-partitioned
    * layout — queries prune the scan, AnnIndex scaladoc).
    */
  def ann(spark: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"ann:$sfDir", {
      val dir = s"$root/ann-${math.abs(sfDir.hashCode)}"
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val dim = emb.select("embedding").head().getSeq[Float](0).length
      graft.ops.AnnIndex.build(emb, "vec_id", "embedding", dir, dim)
      dir
    })

  /** Persisted IVF ANN index over the embeddings table (list-partitioned
    * layout — queries prune the scan to nprobe lists, IvfIndex scaladoc).
    */
  def ivf(spark: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"ivf:$sfDir", {
      val dir = s"$root/ivf-${math.abs(sfDir.hashCode)}"
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val dim = emb.select("embedding").head().getSeq[Float](0).length
      graft.ops.IvfIndex.build(emb, "vec_id", "embedding", dir, dim)
      dir
    })

  /** PQ sidecar over the IVF index (codes + certified error bounds,
    * PqIndex scaladoc). Builds on top of [[ivf]]'s layout.
    */
  def pq(spark: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"pq:$sfDir", {
      val dir = ivf(spark, sfDir)
      graft.ops.PqIndex.build(spark, dir)
      dir
    })
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry returns columns named exactly as its oracleSql aliases (the
  * driver's compare sorts columns by name and hashes values). Doubles that
  * cross the Spark/DuckDB boundary are rounded to 4 decimals on both sides;
  * doubles that are exact-int divisions are left unrounded (IEEE division is
  * correctly rounded in both engines).
  */
object SparkEntry {

  private val tokSql =
    "SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term FROM documents"
  private val toksCte =
    s"WITH toks0 AS ($tokSql), toks AS (SELECT doc_id, term FROM toks0 WHERE term <> '')"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val s = IndexCache.searcher(spark, "/root/testdata/sf0.001")
    s.bm25(Seq("spark", "sort", "filter"), 10)
  }

  /** Decode-validating stats dump: df/tf recomputed from the compressed
    * posting blocks, NOT from stored counters — gates codec + build + merge.
    */
  private def statsDump(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = new Searcher(spark, dir)
    s.segments.select("term", "wave", "segId", "df", "tf", "maxTf", "blocks")
      .as[SegmentPosting]
      .map { sp =>
        val d = PostingCodec.decodeRun(sp.blocks.toSeq)
        (sp.term, d.docIds.length.toLong, d.tfs.foldLeft(0L)(_ + _))
      }
      .toDF("term", "df0", "tf0")
      .groupBy("term")
      .agg(sum("df0").as("df"), sum("tf0").as("tf"))
  }

  /** Top-k under the oracle's (round(score,4) DESC, doc_id ASC) order —
    * the widening rounded-tie fetch shared by the q06/q15/q16/q24 oracle
    * shims.
    *
    * The engine ranks by exact score; the oracle ranks by the rounded one,
    * so docs separated by < 5e-5 in exact score can swap ranks. `fetch(n)`
    * returns the top n (id, roundedScore) rows already ordered
    * (roundedScore desc, id asc). Keep the top k only when the k-th rounded
    * score strictly exceeds the LOWEST fetched one (rounding is monotone, so
    * every unfetched row then rounds strictly lower and cannot enter the
    * top-k) or the candidate set is exhausted; otherwise grow the fetch. A
    * fixed +slack fetch would diverge from the oracle whenever more than
    * `slack` rows tie at the rounded k-th boundary.
    */
  private def roundedTopK(fetch: Int => Array[(Long, Double)],
      k: Int): Seq[(Long, Double)] = {
    var slack = 16
    var out: Seq[(Long, Double)] = null
    while (out == null) {
      val rows = fetch(k + slack)
      val exhausted = rows.length < k + slack
      val safe = rows.length <= k || rows(k - 1)._2 > rows.last._2
      if (exhausted || safe) out = rows.take(k).toSeq
      else slack *= 4
    }
    out
  }

  private[graft] def bm25Rounded(spark: SparkSession, sfDir: String,
      terms: Seq[String], k: Int): DataFrame = {
    import spark.implicits._
    val s = IndexCache.searcher(spark, sfDir)
    roundedTopK(n => s.bm25(terms, n)
      .select(col("docId").as("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))), k)
      .toDF("doc_id", "score")
  }

  /** q46 harness: derive the seed doc's top-`nTerms` terms by tf (ties by
    * term asc — identical to the oracle's ORDER BY tf DESC, term LIMIT n),
    * then rounded BM25 top-k with the seed excluded. The seed lookup is a
    * doc_id point read (parquet predicate pushdown), ONE row collected.
    */
  private[graft] def moreLikeThisRounded(spark: SparkSession, sfDir: String,
      docId: Long, nTerms: Int, k: Int): DataFrame = {
    import spark.implicits._
    val txt = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") === docId).select("text")
      .collect()
    require(txt.nonEmpty, s"seed doc $docId not found")
    val ts = graft.text.Tokenize.tokenizeScala(txt.head.getString(0))
    val seedTerms = ts.groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(nTerms).map(_._1)
    val s = IndexCache.searcher(spark, sfDir)
    roundedTopK(n => s.moreLikeThis(seedTerms, docId, n)
      .select(col("docId").as("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))), k)
      .toDF("doc_id", "score")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- inverted index / BM25 core ------------------------------------
    "q01_ii_stats" -> ((s, dir) => statsDump(s, IndexCache.full(s, dir))),
    "q02_ii_lookup" -> ((s, dir) =>
      IndexCache.searcher(s, dir).lookup("dup")
        .select(col("docId").as("doc_id"))),
    "q03_ii_and" -> ((s, dir) =>
      IndexCache.searcher(s, dir).and(Seq("spark", "merge", "window"))
        .select(col("docId").as("doc_id"))),
    "q04_ii_or" -> ((s, dir) =>
      IndexCache.searcher(s, dir).or(Seq("dup", "vector"))
        .select(col("docId").as("doc_id"), col("matched").cast("long").as("matched"))),
    "q05_ii_andnot" -> ((s, dir) =>
      IndexCache.searcher(s, dir).andNot(Seq("scan", "filter"), Seq("dup"))
        .select(col("docId").as("doc_id"))),
    "q06_bm25_topk" -> ((s, dir) =>
      bm25Rounded(s, dir, Seq("spark", "vector", "dup"), 10)),
    "q07_ii_roundtrip" -> ((s, dir) => {
      // invert the index back to per-doc term stats ≙ from_block oracle
      // (/root/reference/src/storage/tests/storage.rs:61-80)
      import s.implicits._
      val se = IndexCache.searcher(s, dir)
      se.segments.select("term", "wave", "segId", "df", "tf", "maxTf", "blocks")
        .as[SegmentPosting]
        .flatMap { sp =>
          val d = PostingCodec.decodeRun(sp.blocks.toSeq)
          d.docIds.iterator.zip(d.tfs.iterator).map { case (doc, tf) => (doc, tf.toLong) }
        }
        .toDF("doc_id", "tf")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), sum("tf").as("n_tokens"))
    }),
    "q08_ii_phrase" -> ((s, dir) =>
      IndexCache.searcher(s, dir).phrase(Seq("spark", "sort"))
        .select(col("docId").as("doc_id"))),
    "q09_ii_merge" -> ((s, dir) => statsDump(s, IndexCache.twoWave(s, dir))),
    "q10_dedup_exact" -> ((s, dir) =>
      Dedup.exact(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),
    "q11_dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", n = 3, threshold = 0.9)),
    // LSH candidates + exact-Jaccard verification of survivors: output is
    // the same (a, b, jac) relation as q11, so the exact SQL oracle gates
    // the whole LSH pipeline end-to-end (candidate recall included)
    "q12_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashDedup(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", threshold = 0.9)),
    // simhash uses md5-derived token hashes, so the oracle recomputes the
    // identical 64-bit fingerprints in SQL and checks the FULL hamming <= 3
    // relation — no rows-only fallback
    "q13_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", maxDist = 3)),
    // near-dup pairs -> transitive duplicate components -> canonical keep
    // id per doc. Pairs come from the LSH->verify pipeline (the exact
    // Jaccard relation), so the oracle recomputes the same edges in SQL and
    // runs a recursive component search over them — gating candidate
    // generation, verification, AND the distributed clustering end-to-end.
    "q26_dedup_cluster" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.9)
      Dedup.clusters(docs.select("doc_id"), "doc_id", pairs)
    }),
    // benchmark decontamination: docs hashing to the probe stratum play the
    // eval set; report every corpus doc sharing >= 2 distinct 4-gram
    // shingles with a probe doc (broadcast probe join, Dedup.contamination)
    "q34_decontaminate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.contamination(
        docs.where(col("doc_id") % 31 =!= 0),
        docs.where(col("doc_id") % 31 === 0),
        "doc_id", "text", n = 4, minShared = 2)
        .select(col("corpus_id"), col("probe_id"), col("shared"))
    }),
    // ---- embeddings ------------------------------------------------------
    "q14_embed_neardup" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.cosinePairs(emb, "vec_id", "embedding", "label", 0.0)
        .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
        .where(col("cos") >= 0.4)
    }),
    "q15_ann_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      roundedTopK(n =>
        Similarity.bruteTopK(emb, "vec_id", "embedding", q, n, excludeId = Some(0L))
          .select(col("vec_id"), round(col("cos"), 4).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))), 10)
        .toDF("vec_id", "cos")
    }),
    // persisted bucket-partitioned LSH index; with 16 tables the candidate
    // set provably contains the true top-10 on this corpus, so the exact
    // brute-force SQL is a hard oracle for the whole index path. Same
    // rounded-tie widening as q06/q15 (a fixed top-20 fetch would diverge on
    // >10 ties at the rounded 10th score); the exhausted-exit is the LSH
    // candidate set running dry, at which point everything it holds is kept.
    "q16_ann_lsh" -> ((s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      roundedTopK(n =>
        graft.ops.AnnIndex.topK(s, IndexCache.ann(s, dir), q, n, excludeId = Some(0L))
          .select(col("id").as("vec_id"), round(col("cos"), 4).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))), 10)
        .toDF("vec_id", "cos")
    }),
    // IVF-Flat counterpart of q16: deterministic k-means coarse quantizer,
    // list-partitioned layout. topK is CERTIFIED-exact: the spherical
    // triangle-inequality bound (IvfIndex.listBound, backed by each list's
    // persisted widest member angle) closes the probe set over whatever
    // lists could still hold a top-k member, so the exact brute-force SQL
    // is a hard oracle for the whole quantize->prune->rescore path on ANY
    // corpus — this synthetic one is cosine-diffuse and certifies most
    // lists; tight corpora prune to a handful (OpsSpec pruning test).
    "q25_ann_ivf" -> ((s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      roundedTopK(n =>
        graft.ops.IvfIndex.topK(s, IndexCache.ivf(s, dir), q, n, excludeId = Some(0L))
          .select(col("id").as("vec_id"), round(col("cos"), 4).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))), 10)
        .toDF("vec_id", "cos")
    }),
    // IVF-PQ: same certified-exact contract as q25 but the candidate scan
    // reads 8-byte PQ codes instead of 256-byte vectors; the stored
    // quantization residual makes [est-err, est+err] a certified cosine
    // interval, so only interval survivors are exact-rescored and the
    // brute-force SQL stays a HARD oracle (PqIndex scaladoc)
    "q33_ann_pq" -> ((s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      roundedTopK(n =>
        graft.ops.PqIndex.topK(s, IndexCache.pq(s, dir), q, n, excludeId = Some(0L))
          .select(col("id").as("vec_id"), round(col("cos"), 4).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))), 10)
        .toDF("vec_id", "cos")
    }),
    // batched ANN: certified-exact top-10 for a whole TABLE of query
    // vectors in one distributed job (probe-table broadcast join + the
    // bounded-heap topk_by aggregate) instead of a per-query driver loop —
    // the contamination-check / incremental-dedup shape at corpus scale.
    // Ranking is (round(cos,4) DESC, id ASC) end-to-end, the oracle's
    // deterministic total order, so no widening shim is needed.
    "q27_ann_batch" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val qs = emb.where(pmod(col("vec_id"), lit(37)) === 0)
      graft.ops.IvfIndex.topKBatch(s, IndexCache.ivf(s, dir), qs,
        "vec_id", "embedding", k = 10)
        .select(col("qid"), col("id").as("vec_id"), col("cos"))
    }),
    // ---- text analysis ---------------------------------------------------
    "q17_text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenStats(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text")),
    "q18_text_quality" -> ((s, dir) =>
      TextAnalysis.quality(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text")),
    "q19_text_langid" -> ((s, dir) =>
      TextAnalysis.langId(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text")),
    "q20_text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text")),
    // ---- multimodal plumbing + streaming ---------------------------------
    // payloads synthesized as REAL container files (BMP / WAV / raw bytes by
    // doc_id mod 3) so the oracle gates the real header parsers AND the
    // stub fallback; every field is a closed form of (doc_id, length(text))
    "q21_mm_meta" -> ((s, dir) =>
      Multimodal.extractMeta(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            Multimodal.synthPayload(col("doc_id"), col("text")).as("payload")),
        "doc_id", "payload").toDF()),
    // production shape: update-mode watermarked agg -> foreachBatch parquet
    // change log -> compaction (NOT the complete-mode memory-sink shim,
    // which only StreamingSpec uses as a cross-check helper)
    "q22_stream_window" -> ((s, dir) =>
      StreamingOps.windowedEventCountsIncremental(s, s"$dir/events.parquet")),
    "q23_sessionize" -> ((s, dir) =>
      graft.ops.Sessionize.batch(s.read.parquet(s"$dir/events.parquet")).toDF()),
    // streaming sessionization drained via a far-future sentinel batch:
    // flatMapGroupsWithState + EventTimeTimeout must converge to the SAME
    // session relation as the batch window program (q23's oracle verbatim)
    "q35_stream_sessionize" -> ((s, dir) =>
      graft.streaming.StreamingOps.sessionizeComplete(
        s, s"$dir/events.parquet")),
    // ---- doc resolution: query result -> forward map (url/key) -----------
    "q24_resolve" -> ((s, dir) => {
      val top = bm25Rounded(s, dir, Seq("spark", "vector", "dup"), 10)
      IndexCache.searcher(s, dir).resolve(top, "doc_id")
        .select(col("doc_id"), col("key"), col("score"))
    }),
    // ---- corpus curation (end-to-end pipeline shapes) --------------------
    // the kept corpus after minhash-dedup -> components -> keep-min:
    // oracle = the q26 recursive closure restricted to its fixed points
    "q28_dedup_corpus" -> ((s, dir) =>
      graft.ops.Corpus.deduplicate(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .select(col("doc_id"))),
    // deterministic md5-threshold downsampling to <= ~100 docs per lang;
    // the oracle recomputes the identical hash/count inequality in DuckDB
    "q29_sample_balance" -> ((s, dir) =>
      graft.ops.Corpus.sampleBalanced(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang", 100L)),
    // token-budget sharding (global prefix sum over the id order) at
    // 20k tokens per shard; oracle = a window cumsum over the toksCte counts
    "q30_pack_shards" -> ((s, dir) =>
      graft.ops.Corpus.packShards(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 20000L)),
    // streaming exact dedup (dropDuplicatesWithinWatermark -> append log);
    // the 45-day horizon exceeds the corpus' 30-day event span, so the
    // result is exactly the batch DISTINCT
    "q31_stream_dedup" -> ((s, dir) =>
      StreamingOps.distinctKeysIncremental(s, s"$dir/events.parquet",
        Seq("user_id", "event_type"), withinWatermark = "45 days")),
    // certified-exact all-pairs near-dup over the IVF index (label-free
    // blocking: listBound-gated replication + per-list join). Oracle =
    // the exact all-pairs cosine relation WITHOUT q14's label restriction
    "q32_neardup_ivf" -> ((s, dir) =>
      graft.ops.IvfIndex.pairs(s, IndexCache.ivf(s, dir), threshold = 0.4)),
    // ---- fulltext search surface: prefix / boolean / proximity / facets --
    // trailing-wildcard term expansion over the sorted dictionary
    // (StringStartsWith pushdown; per-segment docId dedup, no global
    // distinct — PlanSpec asserts the pushed filter)
    "q36_ii_prefix" -> ((s, dir) =>
      IndexCache.searcher(s, dir).prefix("s")
        .select(col("docId").as("doc_id"))),
    // the boolean query language end-to-end: implicit AND, OR, NOT, a
    // prefix leaf, and a phrase leaf in one parsed tree evaluated as a
    // single codegen'd predicate over per-doc matched-leaf sets
    "q37_ii_query" -> ((s, dir) =>
      IndexCache.searcher(s, dir)
        .query("(spark OR filt*) AND window AND NOT \"sort merge\"")
        .select(col("docId").as("doc_id"))),
    // positional proximity: spark within 3 token positions of merge,
    // either order — two-pointer min-gap walk over index positions
    "q38_ii_near" -> ((s, dir) =>
      IndexCache.searcher(s, dir).near("spark", "merge", k = 3)
        .select(col("docId").as("doc_id"))),
    // facet counts over the spark AND merge result set, top-20 terms
    "q39_ii_facets" -> ((s, dir) =>
      IndexCache.searcher(s, dir).facets(Seq("spark", "merge"), n = 20)),
    // ---- text pipeline: redaction / repetition / kwic / n-gram counts ----
    // PII is synthesized deterministically from doc_id IN BOTH the engine
    // and the oracle (the corpus itself carries none), so the redaction
    // regexes are gated on guaranteed hits, not on a vacuous no-op
    "q40_text_redact" -> ((s, dir) =>
      TextAnalysis.redactPii(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), piiAugmented.as("text")),
        "doc_id", "text")),
    "q41_text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),
    // index-accelerated KWIC: the inverted-index docId set semi-joins into
    // the documents scan first, so only matching docs are ever tokenized
    "q42_text_kwic" -> ((s, dir) => {
      val ids = IndexCache.searcher(s, dir).lookup("spark")
        .select(col("docId").as("doc_id"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .join(broadcast(ids), Seq("doc_id"), "left_semi")
      TextAnalysis.kwic(docs, "doc_id", "text", "spark", window = 3)
    }),
    "q43_text_bigrams" -> ((s, dir) =>
      TextAnalysis.bigramCounts(
        s.read.parquet(s"$dir/documents.parquet"), "text", topN = 50)),
    // line-level boilerplate removal (C4/RefinedWeb pass). The corpus is
    // single-line synthetic text, so — like q40's PII — multi-line docs are
    // synthesized deterministically IN BOTH the engine and the oracle:
    // a header line shared per source and a footer line shared per
    // doc_id%5 group guarantee cross-doc duplicates, the body line stays
    // (mostly) unique. minDocs=2 strips header+footer, keeps the body.
    "q44_dedup_lines" -> ((s, dir) =>
      Dedup.dedupLines(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), lineAugmented.as("text")),
        "doc_id", "text", minDocs = 2)),
    // prefix suggestion: top-15 dictionary terms by corpus df — pure
    // stats-column aggregation, posting blobs never read (PlanSpec asserts
    // ReadSchema without `blocks`)
    "q45_ii_suggest" -> ((s, dir) =>
      IndexCache.searcher(s, dir).suggest("s", n = 15)),
    // relevance feedback: seed doc 7's top-3 terms by tf -> BM25 top-10
    // with the seed excluded (Searcher.moreLikeThis, block-max WAND path);
    // oracle re-derives the identical seed terms and BM25 sum in SQL
    "q46_ii_morelikethis" -> ((s, dir) =>
      moreLikeThisRounded(s, dir, docId = 7L, nTerms = 3, k = 10)),
    // fuzzy term match: docs containing any dictionary term within edit
    // distance 2 of 'part' (expands to fast/part/sort/spark on this vocab).
    // Phase 1 = stats-only dictionary scan + codegen'd levenshtein filter,
    // phase 2 = In-pushdown postings union (PlanSpec asserts the pushdown)
    "q47_ii_fuzzy" -> ((s, dir) =>
      IndexCache.searcher(s, dir).fuzzy("part", maxDist = 2)
        .select(col("docId").as("doc_id"))),
    // exact substring search over the trigram-analyzed index (the Code
    // Search / Zoekt plan, Searcher.substring): rarest needle windows
    // AND-intersected through the posting path, survivors verified against
    // source text with the codegen'd Contains. Oracle = the brute-force
    // contains() relation, so candidate recall is gated end-to-end.
    "q48_ii_substring" -> ((s, dir) =>
      IndexCache.trigramSearcher(s, dir)
        .substring("order sort", s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text")),
    // multi-literal search (the pure-alternation regex case): ONE posting
    // fetch serves every needle's window conjunction; the absent needle
    // drops out at the stats lookup without touching a posting blob
    "q49_ii_substring_any" -> ((s, dir) =>
      IndexCache.trigramSearcher(s, dir)
        .substringAny(Seq("order sort", "stream spark", "zz@@absent"),
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),
    // occurrence-ranked substring top-k: counting arithmetic (codegen'd
    // length/replace built-ins) runs only on verified candidates. The
    // collect bound is deliberately set below this common needle's
    // candidate count so the oracle gates the SEMI-JOIN fallback path
    // (q48/q49 gate the zero-join pushdown path)
    "q50_ii_substring_topk" -> ((s, dir) =>
      IndexCache.trigramSearcher(s, dir)
        .substringTopK("order", s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", k = 20, pushdownLimit = 256)),
    // wildcard term match: 's%a%' expands to scan/small/spark/stream on
    // this vocab; the literal prefix pushes StringStartsWith, the LIKE
    // runs in the stats-pruned dictionary scan (Searcher.wildcard)
    "q51_ii_wildcard" -> ((s, dir) =>
      IndexCache.searcher(s, dir).wildcard("s%a%")
        .select(col("docId").as("doc_id"))),
    // collocation mining: top-30 bigrams by PMI (min count 25) — one
    // kind-tagged tokenize pass feeds both count tables, unigrams join
    // broadcast, selection is a TakeOrdered (TextAnalysis.collocations)
    "q52_text_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(
        s.read.parquet(s"$dir/documents.parquet"), "text",
        minCount = 25, topN = 30)),
    // substring KWIC: first-occurrence position + a 12-char context window,
    // snippet arithmetic only on verified trigram candidates
    "q53_ii_substring_kwic" -> ((s, dir) =>
      IndexCache.trigramSearcher(s, dir)
        .substringKwic("order sort", s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", window = 12)),
    // per-doc TF-IDF keyword extraction WITHOUT a window function: the
    // rank-3 selection is a bounded heap per doc (TextAnalysis.keywords);
    // the oracle is the row_number formulation of the same ranking
    "q54_text_keywords" -> ((s, dir) =>
      TextAnalysis.keywords(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 3)),
    // ordered-parts search (the literal-concatenation regex 'a.*b'):
    // candidates = ONE conjunction over both parts' rarest windows, verify
    // = codegen'd RLike — completing the Cox trigram-regex trio with q48
    // (literal) and q49 (alternation)
    "q55_ii_substring_ordered" -> ((s, dir) =>
      IndexCache.trigramSearcher(s, dir)
        .substringOrdered(Seq("merge", "window"),
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),
    // percolator (standing queries, retrieval inverted): three saved
    // searches — conjunction, nested boolean with negation, and a phrase —
    // evaluated per doc in ONE shuffle-free scan (graft.query.Percolate);
    // oracle = UNION ALL of each query's set-algebra program
    "q56_percolate" -> ((s, dir) =>
      graft.query.Percolate.percolate(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        Map(1 -> "spark AND vector",
          2 -> "merge OR (sort AND NOT dup)",
          3 -> "\"order sort\""))))

  /** Deterministic multi-line augmentation for q44 — mirrored verbatim in
    * the oracle SQL so both sides dedup the identical 3-line documents.
    */
  private def lineAugmented: org.apache.spark.sql.Column =
    concat(lit("header "), col("source"), lit("\n"), col("text"),
      lit("\nfooter "), (col("doc_id") % 5).cast("string"))

  /** Deterministic PII augmentation for q40: appends an email, an IPv4, and
    * a phone number derived from doc_id — mirrored verbatim in the oracle
    * SQL so both sides redact the identical input.
    */
  private def piiAugmented: org.apache.spark.sql.Column =
    concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com via 10."),
      (col("doc_id") % 200).cast("string"), lit(".0."),
      (col("doc_id") % 250).cast("string"),
      lit(" call 415-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))

  /** CTE chain ending in the exact all-pairs 3-gram Jaccard relation at
    * threshold 0.9 as `jp(a, b, jac)` — the shared base of the q11/q12
    * oracles and (as the edge relation under a recursive component search)
    * the q26 clustering oracle.
    */
  private val jaccardPairsCtes: String =
    "t0 AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), " +
      "'[^a-z0-9]+'), x -> x <> '') AS arr FROM documents), " +
      "ti AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 2)) AS i FROM t0), " +
      "sh AS (SELECT DISTINCT doc_id, " +
      "arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s FROM ti), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c FROM sh x " +
      "JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
      "jp AS (SELECT a, b, c * 1.0 / (sa.n + sb.n - c) AS jac FROM pairs " +
      "JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b " +
      "WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.9)"

  /** Exact all-pairs 3-gram Jaccard at threshold 0.9 — the oracle for BOTH
    * the exact self-join operator (q11) and the LSH-then-verify pipeline
    * (q12), which must produce the identical relation.
    */
  private val jaccardOracleSql: String =
    s"WITH $jaccardPairsCtes SELECT a, b, jac FROM jp"

  /** Gap-based sessionization as a lag/cumsum window program — the oracle
    * for BOTH the batch operator (q23) and the drained streaming path
    * (q35), which must produce the identical session relation.
    */
  private val sessionizeOracleSql: String =
    "WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events), " +
      "l AS (SELECT user_id, s, lag(s) OVER (PARTITION BY user_id ORDER BY s) AS prev FROM e), " +
      "b AS (SELECT user_id, s, CASE WHEN prev IS NULL OR s - prev > 1800 THEN 1 ELSE 0 END AS brk FROM l), " +
      "sess AS (SELECT user_id, s, sum(brk) OVER (PARTITION BY user_id ORDER BY s " +
      "ROWS UNBOUNDED PRECEDING) AS sid FROM b) " +
      "SELECT user_id, CAST(sid AS BIGINT) AS sid, count(*) AS n_events, CAST(max(s) - min(s) AS BIGINT) AS duration_sec " +
      "FROM sess GROUP BY user_id, sid"

  /** q34: the same tokenizer/n-gram construction as the jaccard CTEs but
    * with 4-gram shingles and a corpus/probe split on the id hash.
    */
  private val decontaminateOracleSql: String =
    "WITH t0 AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), " +
      "'[^a-z0-9]+'), x -> x <> '') AS arr FROM documents), " +
      "ti AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 3)) AS i FROM t0), " +
      "sh AS (SELECT DISTINCT doc_id, " +
      "arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3] AS s FROM ti) " +
      "SELECT c.doc_id AS corpus_id, p.doc_id AS probe_id, count(*) AS shared " +
      "FROM sh c JOIN sh p ON c.s = p.s " +
      "WHERE c.doc_id % 31 <> 0 AND p.doc_id % 31 = 0 " +
      "GROUP BY 1, 2 HAVING count(*) >= 2"

  /** BM25 top-10 for ('spark','vector','dup') — oracle for q06 and the base
    * relation q24 resolves through the forward map.
    */
  private val bm25OracleSql: String =
    s"$toksCte, dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id), " +
      "stats AS (SELECT (SELECT count(*) FROM documents) AS n, " +
      "(SELECT count(*) FROM toks) * 1.0 / (SELECT count(*) FROM documents) AS avgdl), " +
      "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks " +
      "WHERE term IN ('spark','vector','dup') GROUP BY doc_id, term), " +
      "df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks " +
      "WHERE term IN ('spark','vector','dup') GROUP BY term), " +
      "sc AS (SELECT tf.doc_id, sum(ln((n - df + 0.5)/(df + 0.5) + 1.0) * " +
      "tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))) AS s " +
      "FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats " +
      "GROUP BY tf.doc_id) " +
      "SELECT doc_id, round(s, 4) AS score FROM sc " +
      "ORDER BY round(s, 4) DESC, doc_id LIMIT 10"

  /** Exact brute-force cosine top-10 around vec_id 0 — oracle for q15 and
    * (because the 16-table LSH candidate set contains the true top-10 on
    * this corpus) for the indexed path q16.
    */
  private val bruteAnnOracleSql: String =
    "WITH q AS (SELECT unnest(embedding) AS qv, " +
      "unnest(generate_series(1, len(embedding))) AS i FROM embeddings WHERE vec_id = 0), " +
      "ex AS (SELECT vec_id, unnest(embedding) AS v, " +
      "unnest(generate_series(1, len(embedding))) AS i FROM embeddings WHERE vec_id <> 0), " +
      "dp AS (SELECT vec_id, sum(CAST(v AS DOUBLE) * CAST(qv AS DOUBLE)) AS d, " +
      "sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS n2 FROM ex JOIN q USING(i) GROUP BY vec_id), " +
      "nq AS (SELECT sum(CAST(qv AS DOUBLE) * CAST(qv AS DOUBLE)) AS q2 FROM q) " +
      "SELECT vec_id, round(d / (sqrt(n2) * sqrt(q2)), 4) AS cos FROM dp, nq " +
      "ORDER BY round(d / (sqrt(n2) * sqrt(q2)), 4) DESC, vec_id LIMIT 10"

  /** DuckDB-equivalent SQL per query (driver correctness gate). */
  def oracleSql: Map[String, String] = Map(
    "q01_ii_stats" ->
      s"$toksCte SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf FROM toks GROUP BY term",
    "q02_ii_lookup" ->
      s"$toksCte SELECT DISTINCT doc_id FROM toks WHERE term = 'dup'",
    "q03_ii_and" ->
      (s"$toksCte SELECT doc_id FROM toks WHERE term IN ('spark','merge','window') " +
        "GROUP BY doc_id HAVING count(DISTINCT term) = 3"),
    "q04_ii_or" ->
      (s"$toksCte SELECT doc_id, count(DISTINCT term) AS matched FROM toks " +
        "WHERE term IN ('dup','vector') GROUP BY doc_id"),
    "q05_ii_andnot" ->
      (s"$toksCte SELECT doc_id FROM toks GROUP BY doc_id " +
        "HAVING count(DISTINCT CASE WHEN term IN ('scan','filter') THEN term END) = 2 " +
        "AND count(CASE WHEN term = 'dup' THEN 1 END) = 0"),
    "q06_bm25_topk" -> bm25OracleSql,
    "q07_ii_roundtrip" ->
      s"$toksCte SELECT doc_id, count(DISTINCT term) AS n_terms, count(*) AS n_tokens FROM toks GROUP BY doc_id",
    // token-adjacency phrase semantics (not raw single-space LIKE): 'spark'
    // and 'sort' as whole tokens separated by any non-alnum run — exactly
    // the engine's tokenize-then-adjacent positional match
    "q08_ii_phrase" ->
      ("SELECT doc_id FROM documents WHERE " +
        "regexp_matches(lower(text), '(^|[^a-z0-9])spark[^a-z0-9]+sort([^a-z0-9]|$)')"),
    "q09_ii_merge" ->
      s"$toksCte SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf FROM toks GROUP BY term",
    "q10_dedup_exact" ->
      "SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS keep_id FROM documents",
    "q11_dedup_jaccard" -> jaccardOracleSql,
    // the LSH pipeline's verified output must equal the exact all-pairs
    // Jaccard relation — same oracle as q11 by construction
    "q12_dedup_minhash" -> jaccardOracleSql,
    // connected components over the exact-Jaccard edge relation: min
    // reachable doc_id per doc via a recursive reachability closure
    // (components are near-dup clusters, so the closure stays tiny)
    "q26_dedup_cluster" ->
      (s"WITH RECURSIVE $jaccardPairsCtes, " +
        "e AS (SELECT a AS u, b AS v FROM jp UNION ALL SELECT b AS u, a AS v FROM jp), " +
        "reach AS (SELECT doc_id AS id, doc_id AS r FROM documents " +
        "UNION SELECT e.u AS id, reach.r AS r FROM e JOIN reach ON reach.id = e.v) " +
        "SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id"),
    // recompute the md5-based tf-weighted simhash sign vectors in SQL and
    // take hamming distance = count of differing sign bits per pair (the
    // engine packs the same signs into a 64-bit word and popcounts the xor)
    "q13_dedup_simhash" ->
      (s"$toksCte, h AS (SELECT doc_id, " +
        "('0x' || substr(md5(term), 1, 16))::UBIGINT AS hv FROM toks), " +
        "bits AS (SELECT doc_id, bb.b AS b, " +
        "sum(CASE WHEN (hv >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS s " +
        "FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bb " +
        "GROUP BY doc_id, bb.b), " +
        "ham AS (SELECT x.doc_id AS a, y.doc_id AS b2, " +
        "sum(CASE WHEN (x.s > 0) <> (y.s > 0) THEN 1 ELSE 0 END) AS d " +
        "FROM bits x JOIN bits y ON x.b = y.b AND x.doc_id < y.doc_id " +
        "GROUP BY 1, 2) " +
        "SELECT a, b2 AS b, CAST(d AS INT) AS hamming FROM ham WHERE d <= 3"),
    "q14_embed_neardup" ->
      ("WITH ex AS (SELECT vec_id, label, unnest(embedding) AS v, " +
        "unnest(generate_series(1, len(embedding))) AS i FROM embeddings), " +
        "nn AS (SELECT vec_id, sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS n2 FROM ex GROUP BY vec_id), " +
        "p AS (SELECT x.vec_id AS a, y.vec_id AS b, " +
        "sum(CAST(x.v AS DOUBLE) * CAST(y.v AS DOUBLE)) AS dp FROM ex x " +
        "JOIN ex y ON x.i = y.i AND x.label = y.label AND x.vec_id < y.vec_id GROUP BY 1, 2) " +
        "SELECT a, b, round(dp / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cos FROM p " +
        "JOIN nn na ON na.vec_id = a JOIN nn nb ON nb.vec_id = b " +
        "WHERE round(dp / (sqrt(na.n2) * sqrt(nb.n2)), 4) >= 0.4"),
    "q15_ann_topk" -> bruteAnnOracleSql,
    "q16_ann_lsh" -> bruteAnnOracleSql,
    "q25_ann_ivf" -> bruteAnnOracleSql,
    "q33_ann_pq" -> bruteAnnOracleSql,
    "q34_decontaminate" -> decontaminateOracleSql,
    // brute-force per-query top-10 over the batch (vec_id % 37 = 0), ranked
    // by the shared (rounded cos DESC, id ASC) order — a hard oracle for
    // the whole batched quantize->probe->certify->rescore path
    "q27_ann_batch" ->
      ("WITH qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings " +
        "WHERE vec_id % 37 = 0), " +
        "qx AS (SELECT qid, unnest(qe) AS qv, " +
        "unnest(generate_series(1, len(qe))) AS i FROM qs), " +
        "ex AS (SELECT vec_id, unnest(embedding) AS v, " +
        "unnest(generate_series(1, len(embedding))) AS i FROM embeddings), " +
        "dp AS (SELECT qx.qid, ex.vec_id, " +
        "sum(CAST(v AS DOUBLE) * CAST(qv AS DOUBLE)) AS d " +
        "FROM ex JOIN qx USING(i) WHERE ex.vec_id <> qx.qid GROUP BY 1, 2), " +
        "nn AS (SELECT vec_id, sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS n2 " +
        "FROM ex GROUP BY vec_id), " +
        "sc AS (SELECT qid, dp.vec_id, " +
        "round(d / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cos " +
        "FROM dp JOIN nn na ON na.vec_id = qid JOIN nn nb ON nb.vec_id = dp.vec_id) " +
        "SELECT qid, vec_id, cos FROM sc " +
        "QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 10"),
    // q17-q20 oracles LEFT JOIN the token aggregates back to documents with
    // COALESCE defaults, and fingerprint over the tokenized form — so they
    // stay equivalent to the Spark side on corpora with empty / all-punct
    // docs, not just on well-formed synthetic text
    "q17_text_tokens" ->
      (s"$toksCte, agg AS (SELECT doc_id, count(*) AS n_tokens, " +
        "count(DISTINCT term) AS n_terms, sum(length(term)) AS tl FROM toks GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(agg.n_tokens, 0) AS n_tokens, " +
        "COALESCE(agg.n_terms, 0) AS n_terms, " +
        "round(COALESCE(agg.tl * 1.0 / agg.n_tokens, 0.0), 4) AS avg_token_len " +
        "FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id"),
    "q18_text_quality" ->
      (s"$toksCte, agg AS (SELECT doc_id, count(*) AS n_tokens, " +
        "sum(CASE WHEN term IN ('the','a','and','of','to') THEN 1 ELSE 0 END) AS ns " +
        "FROM toks GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(agg.n_tokens, 0) AS n_tokens, " +
        "round(COALESCE(ns * 1.0 / agg.n_tokens, 0.0), 4) AS stop_ratio, " +
        "round(COALESCE(length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g')) * 1.0 " +
        "/ nullif(length(d.text), 0), 0.0), 4) AS alpha_ratio, " +
        "(COALESCE(agg.n_tokens, 0) >= 5 AND COALESCE(agg.n_tokens, 0) <= 100000 " +
        "AND COALESCE(ns * 1.0 / agg.n_tokens, 0.0) <= 0.9) AS keep " +
        "FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id"),
    "q19_text_langid" ->
      (s"$toksCte, sc0 AS (SELECT doc_id, " +
        "sum(CASE WHEN term IN ('the','a','and','of','to','in','is') THEN 1 ELSE 0 END) AS s_en, " +
        "sum(CASE WHEN term IN ('der','die','das','und','ist','ein') THEN 1 ELSE 0 END) AS s_de, " +
        "sum(CASE WHEN term IN ('le','la','les','et','est','une') THEN 1 ELSE 0 END) AS s_fr, " +
        "sum(CASE WHEN term IN ('el','los','las','y','es','una') THEN 1 ELSE 0 END) AS s_es, " +
        "sum(CASE WHEN term IN ('i','v','ne','na','eto') THEN 1 ELSE 0 END) AS s_ru " +
        "FROM toks GROUP BY doc_id), " +
        "sc AS (SELECT d.doc_id, COALESCE(s_en, 0) AS s_en, COALESCE(s_de, 0) AS s_de, " +
        "COALESCE(s_fr, 0) AS s_fr, COALESCE(s_es, 0) AS s_es, COALESCE(s_ru, 0) AS s_ru " +
        "FROM documents d LEFT JOIN sc0 ON sc0.doc_id = d.doc_id) " +
        "SELECT doc_id, CASE " +
        "WHEN greatest(s_en, s_de, s_fr, s_es, s_ru) = 0 THEN 'und' " +
        "WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_ru) THEN 'en' " +
        "WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_ru) THEN 'de' " +
        "WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_ru) THEN 'fr' " +
        "WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_ru) THEN 'es' " +
        "ELSE 'ru' END AS lang_pred FROM sc"),
    "q20_text_fingerprint" ->
      ("SELECT doc_id, md5(array_to_string(list_filter(" +
        "regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ')) AS fp " +
        "FROM documents"),
    "q21_mm_meta" ->
      ("SELECT doc_id, " +
        "CAST(CASE doc_id % 3 WHEN 0 THEN 54 + length(text) " +
        "WHEN 1 THEN 44 + 2 * length(text) ELSE length(text) END AS BIGINT) AS n_bytes, " +
        "CAST(CASE doc_id % 3 WHEN 1 THEN 0 " +
        "ELSE 64 + length(text) % 576 END AS INT) AS width, " +
        "CAST(CASE doc_id % 3 WHEN 1 THEN 0 " +
        "ELSE 64 + (length(text) * 7) % 416 END AS INT) AS height, " +
        "CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN length(text) " +
        "ELSE 1 + length(text) % 16 END AS INT) AS frames, " +
        "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' " +
        "ELSE (CASE length(text) % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' " +
        "ELSE 'video' END) END AS kind " +
        "FROM documents"),
    "q22_stream_window" ->
      ("SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS ws, event_type, " +
        "count(*) AS n, round(sum(value), 4) AS total FROM events GROUP BY 1, 2"),
    "q23_sessionize" -> sessionizeOracleSql,
    // the streaming path must converge to the identical session relation
    "q35_stream_sessionize" -> sessionizeOracleSql,
    "q24_resolve" ->
      (s"WITH base AS ($bm25OracleSql) " +
        "SELECT doc_id, CAST(doc_id AS VARCHAR) AS key, score FROM base"),
    // kept corpus = fixed points of the component closure (docs that are
    // their own cluster representative). Same CTEs as the q26 oracle.
    "q28_dedup_corpus" ->
      (s"WITH RECURSIVE $jaccardPairsCtes, " +
        "e AS (SELECT a AS u, b AS v FROM jp UNION ALL SELECT b AS u, a AS v FROM jp), " +
        "reach AS (SELECT doc_id AS id, doc_id AS r FROM documents " +
        "UNION SELECT e.u AS id, reach.r AS r FROM e JOIN reach ON reach.id = e.v) " +
        "SELECT id AS doc_id FROM reach GROUP BY id HAVING min(r) = id"),
    // identical hash + inequality as the engine: first 6 md5 hex digits of
    // 'id:stratum' as a uniform draw on [0, 2^24); HUGEINT widening mirrors
    // the engine's DECIMAL(38,0) (2^24 * stratum_count overflows BIGINT at
    // web scale)
    "q29_sample_balance" ->
      ("WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang), " +
        "h AS (SELECT doc_id, lang, " +
        "('0x' || substr(md5(doc_id::VARCHAR || ':' || lang), 1, 6))::BIGINT AS hv " +
        "FROM documents) " +
        "SELECT h.doc_id, h.lang FROM h JOIN cnt USING (lang) " +
        "WHERE hv::HUGEINT * c::HUGEINT < 100 * 16777216::HUGEINT"),
    // shard = floor(tokens-before / 20000) over the doc_id order; LEFT JOIN
    // + COALESCE keeps zero-token docs, as in the q17-q20 oracles
    "q30_pack_shards" ->
      (s"$toksCte, agg AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id), " +
        "tk AS (SELECT d.doc_id, COALESCE(agg.n, 0) AS tok " +
        "FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id) " +
        "SELECT doc_id, CAST(COALESCE(sum(tok) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 20000 " +
        "AS BIGINT) AS shard FROM tk"),
    // the watermark horizon outlives the bounded input, so streaming dedup
    // must equal the batch distinct — and emit each key exactly once (a
    // re-emission would fail the row-count/hash compare)
    "q31_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    // exact all-pairs cosine >= 0.4 over ALL vectors (q14's oracle without
    // the label equality) — a hard oracle for the replicate-then-join
    // certification: a missed replication = a missing pair
    "q32_neardup_ivf" ->
      ("WITH ex AS (SELECT vec_id, unnest(embedding) AS v, " +
        "unnest(generate_series(1, len(embedding))) AS i FROM embeddings), " +
        "nn AS (SELECT vec_id, sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS n2 FROM ex GROUP BY vec_id), " +
        "p AS (SELECT x.vec_id AS a, y.vec_id AS b, " +
        "sum(CAST(x.v AS DOUBLE) * CAST(y.v AS DOUBLE)) AS dp FROM ex x " +
        "JOIN ex y ON x.i = y.i AND x.vec_id < y.vec_id GROUP BY 1, 2) " +
        "SELECT a, b, round(dp / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cos FROM p " +
        "JOIN nn na ON na.vec_id = a JOIN nn nb ON nb.vec_id = b " +
        "WHERE round(dp / (sqrt(na.n2) * sqrt(nb.n2)), 4) >= 0.4"),
    "q36_ii_prefix" ->
      s"$toksCte SELECT DISTINCT doc_id FROM toks WHERE term LIKE 's%'",
    // per-doc bool_or flags for the positive leaves + the q08-style
    // token-adjacency regexp for the phrase leaf, combined with the same
    // boolean structure the parser built
    "q37_ii_query" ->
      (s"$toksCte, m AS (SELECT doc_id, bool_or(term = 'spark') AS t_spark, " +
        "bool_or(term LIKE 'filt%') AS t_filt, " +
        "bool_or(term = 'window') AS t_window FROM toks GROUP BY doc_id) " +
        "SELECT m.doc_id FROM m JOIN documents d ON d.doc_id = m.doc_id " +
        "WHERE (t_spark OR t_filt) AND t_window AND NOT " +
        "regexp_matches(lower(d.text), '(^|[^a-z0-9])sort[^a-z0-9]+merge([^a-z0-9]|$)')"),
    // unordered NEAR/3 = whole-token occurrences separated by at most two
    // intervening tokens, in either order (position delta <= 3)
    "q38_ii_near" ->
      ("SELECT doc_id FROM documents WHERE regexp_matches(lower(text), " +
        "'(^|[^a-z0-9])spark([^a-z0-9]+[a-z0-9]+){0,2}[^a-z0-9]+merge([^a-z0-9]|$)') " +
        "OR regexp_matches(lower(text), " +
        "'(^|[^a-z0-9])merge([^a-z0-9]+[a-z0-9]+){0,2}[^a-z0-9]+spark([^a-z0-9]|$)')"),
    "q39_ii_facets" ->
      (s"$toksCte, m AS (SELECT doc_id FROM toks WHERE term IN ('spark','merge') " +
        "GROUP BY doc_id HAVING count(DISTINCT term) = 2) " +
        "SELECT t.term, count(DISTINCT t.doc_id) AS cnt FROM toks t JOIN m USING (doc_id) " +
        "WHERE t.term NOT IN ('spark','merge') " +
        "GROUP BY t.term ORDER BY cnt DESC, t.term LIMIT 20"),
    // same doc_id-derived augmentation as the engine, then the identical
    // redaction chain (emails -> IPs -> phones; each count reads the
    // previous stage's output). DuckDB regexp_replace needs the explicit
    // 'g' flag to match Spark's replace-all semantics.
    "q40_text_redact" ->
      ("WITH aug AS (SELECT doc_id, text || ' contact user' || doc_id::VARCHAR || " +
        "'@mail.example.com via 10.' || (doc_id % 200)::VARCHAR || '.0.' || " +
        "(doc_id % 250)::VARCHAR || ' call 415-555-' || " +
        "lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text FROM documents), " +
        "r1 AS (SELECT doc_id, text, regexp_replace(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM aug), " +
        "r2 AS (SELECT doc_id, text, t1, regexp_replace(t1, " +
        "'\\b\\d{1,3}(?:\\.\\d{1,3}){3}\\b', '<IP>', 'g') AS t2 FROM r1) " +
        "SELECT doc_id, regexp_replace(t2, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS clean, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, " +
        "CAST(len(regexp_extract_all(t1, '\\b\\d{1,3}(?:\\.\\d{1,3}){3}\\b')) AS BIGINT) AS n_ips, " +
        "CAST(len(regexp_extract_all(t2, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT) AS n_phones " +
        "FROM r2"),
    // unigram counts -> max/total; positional self-join -> bigram
    // total/distinct; LEFT JOINs keep zero/one-token docs at 0.0 like the
    // engine's coalesce
    "q41_text_repetition" ->
      (s"$posToksCte, uni AS (SELECT doc_id, sum(c) AS n, max(c) AS mx FROM " +
        "(SELECT doc_id, term, count(*) AS c FROM t GROUP BY 1, 2) GROUP BY doc_id), " +
        "big AS (SELECT a.doc_id, count(*) AS nb, " +
        "count(DISTINCT a.term || ' ' || b.term) AS db " +
        "FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 GROUP BY a.doc_id) " +
        "SELECT d.doc_id, CAST(COALESCE(uni.n, 0) AS BIGINT) AS n_tokens, " +
        "round(COALESCE(uni.mx * 1.0 / uni.n, 0.0), 4) AS top_token_frac, " +
        "round(COALESCE(1.0 - big.db * 1.0 / big.nb, 0.0), 4) AS dup_bigram_frac " +
        "FROM documents d LEFT JOIN uni ON uni.doc_id = d.doc_id " +
        "LEFT JOIN big ON big.doc_id = d.doc_id"),
    // first occurrence position (0-based, over the filtered token stream)
    // + the ordered window of +-3 tokens around it
    "q42_text_kwic" ->
      (s"$posToksCte, f AS (SELECT doc_id, min(pos) AS p FROM t " +
        "WHERE term = 'spark' GROUP BY doc_id) " +
        "SELECT f.doc_id, CAST(f.p AS BIGINT) AS pos, " +
        "string_agg(t.term, ' ' ORDER BY t.pos) AS snippet " +
        "FROM f JOIN t ON t.doc_id = f.doc_id AND t.pos BETWEEN f.p - 3 AND f.p + 3 " +
        "GROUP BY f.doc_id, f.p"),
    "q43_text_bigrams" ->
      (s"$posToksCte SELECT a.term || ' ' || b.term AS bigram, count(*) AS cnt " +
        "FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 " +
        "GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 50"),
    // same doc_id/source-derived 3-line augmentation as the engine; the
    // frequent-line set (>= 2 distinct docs) is removed and the kept lines
    // reassemble in position order (string_agg skips the NULLed dup lines;
    // COALESCE keeps fully-boilerplate docs as clean = '')
    "q44_dedup_lines" ->
      ("WITH aug AS (SELECT doc_id, 'header ' || source || chr(10) || text || " +
        "chr(10) || 'footer ' || (doc_id % 5)::VARCHAR AS text FROM documents), " +
        "l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line, " +
        "unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos FROM aug), " +
        "f AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 2), " +
        "m AS (SELECT l.doc_id, l.pos, l.line, (f.line IS NOT NULL) AS dup " +
        "FROM l LEFT JOIN f USING (line)) " +
        "SELECT doc_id, COALESCE(string_agg(CASE WHEN NOT dup THEN line END, " +
        "chr(10) ORDER BY pos), '') AS clean, " +
        "CAST(COALESCE(sum(CASE WHEN dup THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed " +
        "FROM m GROUP BY doc_id"),
    "q45_ii_suggest" ->
      (s"$toksCte SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df " +
        "FROM toks WHERE term LIKE 's%' " +
        "GROUP BY term ORDER BY df DESC, term LIMIT 15"),
    // q06's BM25 program with the fixed term list replaced by the seed
    // doc's top-3 terms by tf (ties by term asc — the engine derives the
    // same list from the same tokenizer) and the seed doc excluded
    "q46_ii_morelikethis" ->
      (s"$toksCte, seed AS (SELECT term FROM (SELECT term, count(*) AS tf " +
        "FROM toks WHERE doc_id = 7 GROUP BY term ORDER BY tf DESC, term LIMIT 3)), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id), " +
        "stats AS (SELECT (SELECT count(*) FROM documents) AS n, " +
        "(SELECT count(*) FROM toks) * 1.0 / (SELECT count(*) FROM documents) AS avgdl), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks " +
        "WHERE term IN (SELECT term FROM seed) GROUP BY doc_id, term), " +
        "df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks " +
        "WHERE term IN (SELECT term FROM seed) GROUP BY term), " +
        "sc AS (SELECT tf.doc_id, sum(ln((n - df + 0.5)/(df + 0.5) + 1.0) * " +
        "tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))) AS s " +
        "FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats " +
        "GROUP BY tf.doc_id) " +
        "SELECT doc_id, round(s, 4) AS score FROM sc WHERE doc_id <> 7 " +
        "ORDER BY round(s, 4) DESC, doc_id LIMIT 10"),
    "q47_ii_fuzzy" ->
      (s"$toksCte SELECT DISTINCT doc_id FROM toks " +
        "WHERE levenshtein(term, 'part') <= 2"),
    "q48_ii_substring" ->
      "SELECT doc_id FROM documents WHERE contains(text, 'order sort')",
    "q49_ii_substring_any" ->
      ("SELECT doc_id FROM documents WHERE contains(text, 'order sort') " +
        "OR contains(text, 'stream spark') OR contains(text, 'zz@@absent')"),
    "q50_ii_substring_topk" ->
      ("SELECT doc_id, CAST((length(text) - length(replace(text, 'order', ''))) / 5 AS BIGINT) AS hits " +
        "FROM documents WHERE contains(text, 'order') " +
        "ORDER BY hits DESC, doc_id LIMIT 20"),
    "q51_ii_wildcard" ->
      (s"$toksCte SELECT DISTINCT doc_id FROM toks WHERE term LIKE 's%a%'"),
    "q52_text_collocations" ->
      (s"$posToksCte, " +
        "big AS (SELECT a.term || ' ' || b.term AS bigram, a.term AS ta, " +
        "b.term AS tb, count(*) AS cnt FROM t a JOIN t b " +
        "ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 GROUP BY 1, 2, 3), " +
        "uni AS (SELECT term, count(*) AS c FROM t GROUP BY term), " +
        "tot AS (SELECT (SELECT count(*) FROM t) * 1.0 AS t_tok, " +
        "(SELECT sum(cnt) FROM big) * 1.0 AS t_bi) " +
        "SELECT bigram, CAST(cnt AS BIGINT) AS cnt, " +
        "round(ln((cnt / t_bi) / ((ua.c / t_tok) * (ub.c / t_tok))), 4) AS pmi " +
        "FROM big JOIN uni ua ON ua.term = big.ta " +
        "JOIN uni ub ON ub.term = big.tb CROSS JOIN tot " +
        "WHERE cnt >= 25 ORDER BY pmi DESC, bigram LIMIT 30"),
    "q53_ii_substring_kwic" ->
      ("WITH m AS (SELECT doc_id, text, instr(text, 'order sort') AS p " +
        "FROM documents WHERE contains(text, 'order sort')) " +
        "SELECT doc_id, CAST(p AS BIGINT) AS pos, " +
        "substr(text, greatest(1, p - 12), " +
        "least(length(text), p + 9 + 12) - greatest(1, p - 12) + 1) AS snippet " +
        "FROM m"),
    "q54_text_keywords" ->
      (s"$toksCte, tf AS (SELECT doc_id, term, count(*) AS tf FROM toks " +
        "GROUP BY 1, 2), " +
        "dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "nn AS (SELECT count(*) * 1.0 AS n FROM documents), " +
        "sc AS (SELECT doc_id, term, round(tf * ln(n / df), 4) AS score " +
        "FROM tf JOIN dfx USING (term) CROSS JOIN nn), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY score DESC, term) AS rn FROM sc) " +
        "SELECT doc_id, term, score FROM r WHERE rn <= 3"),
    "q55_ii_substring_ordered" ->
      "SELECT doc_id FROM documents WHERE regexp_matches(text, 'merge.*window')",
    "q56_percolate" ->
      (s"$posToksCte " +
        "SELECT doc_id, 1 AS query_id FROM " +
        "(SELECT doc_id FROM t WHERE term = 'spark' INTERSECT " +
        "SELECT doc_id FROM t WHERE term = 'vector') " +
        "UNION ALL SELECT doc_id, 2 AS query_id FROM " +
        "(SELECT doc_id FROM t WHERE term = 'merge' UNION " +
        "(SELECT doc_id FROM t WHERE term = 'sort' EXCEPT " +
        "SELECT doc_id FROM t WHERE term = 'dup')) " +
        "UNION ALL SELECT DISTINCT a.doc_id, 3 AS query_id FROM t a " +
        "JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 " +
        "AND a.term = 'order' AND b.term = 'sort'"))

  /** toks with 0-based per-doc positions over the FILTERED token stream —
    * the positional twin of [[toksCte]] for the proximity / snippet /
    * n-gram oracles (unnest + generate_series zip per the q15 oracle, then
    * row_number over the kept tokens so positions match the engine's
    * post-filter indices).
    */
  private val posToksCte: String =
    "WITH toks0 AS (SELECT doc_id, " +
      "unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term, " +
      "unnest(generate_series(1, len(regexp_split_to_array(lower(text), '[^a-z0-9]+')))) AS ord " +
      "FROM documents), " +
      "t AS (SELECT doc_id, term, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos " +
      "FROM toks0 WHERE term <> '')"
}
