package graft.index

import graft.codec.{NormsCodec, PostingCodec}
import graft.text.Tokenize
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Distributed inverted-index builder.
  *
  * Spark-first re-expression of the reference's ingest path
  * (push -> memtable -> freeze -> merge, /root/reference/src/storage/
  * storage.rs:198-334): one *wave* = one atomically committed batch of
  * segments. Within a wave:
  *
  *  - tokenize + doc-local (term -> tf, positions) aggregation + explode
  *    (≙ ActiveBlock::push row->index conversion, block.rs:372-387) — no
  *    per-token shuffle ever leaves the scan stage;
  *  - segment assignment `segId = docId div docsPerSegment` — the natural
  *    salt that spreads head-term (stopword) postings across partitions, so
  *    no single task ever encodes a whole head-term posting list (north_rule
  *    skew requirement);
  *  - `repartition(term, segId) + sortWithinPartitions(term, segId, docId)`
  *    + streaming run-group encode in `mapPartitions` (≙ freeze,
  *    block.rs:389-405, but never materializing a posting list per term in
  *    one task);
  *  - the tokenized (doc -> entries) form is materialized once per wave
  *    and feeds the forward map, norms, and postings jobs (deterministic
  *    across jobs and task retries; no re-tokenization);
  *  - manifest committed last (fixes the reference's write-loss TODO,
  *    storage.rs:345-348).
  *
  * Input contract: columns `docId` (LONG, unique, >= 0), `key` (STRING),
  * `text` (STRING), optional `ts` (TIMESTAMP). Appended waves must have
  * docIds strictly above all committed ones (≙ rebase-by-left-count,
  * block.rs:196) and non-overlapping time ranges (≙ the merge overlap panic,
  * block.rs:165-168).
  */
object IndexBuilder {
  /** On-disk format version, stamped in the manifest and REQUIRED to match
    * on read (ManifestIO.read fails fast on any other version — no silent
    * misreads of foreign layouts). History:
    *  - v1: round-1 layout (flat termstats dir, PBlock without minDl);
    *  - v2: per-wave `termstats/wave=N` partitions (round 2 shipped this
    *    layout without bumping — the version now records the break) and
    *    per-block `minDl` WAND-bound metadata in segment blocks.
    * v1 indexes must be rebuilt from the corpus (indexes are derived data).
    */
  val Version = 2

  /** `tfDl` packs (dl << 32) | tf: the build shuffle is the hottest
    * exchange in the pipeline, and both ints share one 8-byte UnsafeRow
    * slot — carrying dl to the posting encoder (for per-block minDl WAND
    * bounds) costs zero additional shuffle bytes vs the old bare-tf field.
    */
  case class TfRow(term: String, docId: Long, tfDl: Long, pos: Array[Byte], segId: Long)
  case class DlRow(docId: Long, dl: Int, segId: Long, ts: Long)
  /** One distinct term of one doc; `pos` is the delta+varbyte-packed gap
    * stream of its positions (count == tf; empty when positions disabled) —
    * packed BEFORE the build shuffle so the exchange moves ~tf bytes per
    * posting (see PostingCodec.encodePacked).
    */
  case class TermEntry(term: String, tf: Int, pos: Array[Byte])

  /** Tokenize output for one doc: `dl` (token count) + distinct-term
    * entries. dl is emitted BY the UDF — it already holds the token array —
    * because recovering it downstream as `aggregate(es, ..., acc + e.tf)`
    * is an interpreted (non-codegen) higher-order function per row, and one
    * such aggregate in the doc-length path plus one in the postings path
    * measured ~10% off the whole build's throughput.
    */
  case class DocEntries(dl: Int, es: Seq[TermEntry])

  /** Growable primitive int buffer — positions accumulate unboxed (an
    * `ArrayBuffer[Int]` boxes every append; at ~150 positions per doc that
    * was tens of millions of Integer allocations per million docs, in the
    * hottest stage of the build).
    */
  private final class IntBuf(initial: Int) {
    private var a = new Array[Int](initial)
    var n = 0
    def add(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(n) = v
      n += 1
    }
    def toPacked: Array[Byte] = PostingCodec.packPositions(a, n)
  }

  private val EmptyBytes = Array.empty[Byte]

  /** Doc-local (term -> tf, positions) aggregation; positions ascend by
    * construction (single left-to-right pass, ≙ ActiveBlock::push appending
    * monotone docIds per tag, block.rs:384-386). `analyzer` selects the
    * term extractor (IndexOptions.analyzer): "word" tokens or character
    * trigrams over the same downstream machinery.
    */
  def termEntriesUdf(withPositions: Boolean,
      analyzer: String = IndexOptions.WordAnalyzer): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val trigram = analyzer == IndexOptions.TrigramAnalyzer
    udf { (text: String) =>
      val in = if (text == null) "" else text
      val ts = if (trigram) graft.text.Trigram.gramsScala(in)
        else Tokenize.tokenizeScala(in)
      val m = new java.util.HashMap[String, IntBuf]()
      var i = 0
      while (i < ts.length) {
        var b = m.get(ts(i))
        if (b == null) { b = new IntBuf(4); m.put(ts(i), b) }
        b.add(i)
        i += 1
      }
      val out = new ArrayBuffer[TermEntry](m.size())
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        out += TermEntry(e.getKey, e.getValue.n,
          if (withPositions) e.getValue.toPacked else EmptyBytes)
      }
      DocEntries(ts.length, out.toSeq)
    }
  }

  /** Per-phase build timing, printed when GRAFT_BUILD_TIMING is set —
    * observability for exactly the "which stage stopped scaling" question.
    */
  private def phase[T](name: String)(f: => T): T = {
    if (sys.env.contains("GRAFT_BUILD_TIMING")) {
      val t0 = System.nanoTime()
      val r = f
      println(f"[build-phase] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    } else f
  }

  def segmentsPath(dir: String) = s"$dir/segments"
  def normsPath(dir: String) = s"$dir/norms"
  def docmetaPath(dir: String) = s"$dir/docmeta"
  def termstatsPath(dir: String) = s"$dir/termstats"
  /** The four per-wave table roots; each holds one `wave=N` dir per wave. */
  private[index] def tableRoots(dir: String): Seq[String] =
    Seq(segmentsPath(dir), normsPath(dir), docmetaPath(dir), termstatsPath(dir))

  /** The one wave-table writer: `df` (its `wave` column, if any, dropped —
    * the dir names it) as `root/wave=N`. A direct write, so an empty frame
    * still leaves a schema-bearing file and the wave stays readable.
    */
  private[index] def writeWave(df: DataFrame, root: String, wave: Int): Unit =
    df.drop("wave").write.mode("overwrite").parquet(s"$root/wave=$wave")

  private[index] def hadoopDelete(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Fresh build: wipes `dir`, builds wave 0, commits manifest.
    * `streamBatch` (when >= 0) stamps the streaming-ingest high-water mark
    * into the SAME atomic manifest commit as the wave — see
    * [[IndexManifest.lastStreamBatch]].
    */
  def build(spark: SparkSession, docs: DataFrame, dir: String,
      opts: IndexOptions = IndexOptions(),
      streamBatch: Long = -1L): IndexManifest = {
    hadoopDelete(spark, dir)
    val m0 = IndexManifest(Version, opts.tokenizerStamp, opts.docsPerSegment,
      opts.blockSize, opts.withPositions, Nil)
    // buildWave writes the wave's termstats too (data before manifest)
    val w = buildWave(spark, docs, dir, 0, opts, enforceBase = None, enforceMinTs = None)
    val m = m0.copy(waves = List(w), lastStreamBatch = streamBatch)
    ManifestIO.write(dir, m)
    m
  }

  /** LSM append: builds the next wave over already-committed ones.
    * `streamBatch` as in [[build]].
    */
  def append(spark: SparkSession, docs: DataFrame, dir: String,
      streamBatch: Long = -1L): IndexManifest = {
    val m0 = ManifestIO.read(dir)
    val opts = IndexOptions(m0.docsPerSegment, m0.blockSize, m0.withPositions,
      IndexOptions.analyzerOf(m0.tokenizer))
    val wave = if (m0.waves.isEmpty) 0 else m0.waves.map(_.wave).max + 1
    // Clean any stale (uncommitted) data for this wave id before writing:
    // data-then-manifest ordering makes this safe on resume.
    tableRoots(dir).foreach(root => hadoopDelete(spark, s"$root/wave=$wave"))
    val prevMaxTs = m0.waves.map(_.maxTs).filter(_ != 0L).maxOption
    // buildWave writes the new wave's stats too — incremental by
    // construction: committed waves' stats files are untouched (O(wave)
    // append cost)
    val w = buildWave(spark, docs, dir, wave, opts,
      enforceBase = Some(m0.nextDocBase), enforceMinTs = prevMaxTs)
    val m = m0.copy(waves = m0.waves :+ w,
      lastStreamBatch = math.max(streamBatch, m0.lastStreamBatch))
    ManifestIO.write(dir, m)
    m
  }

  /** Build one wave's segments + norms + docmeta. Data only; no commit. */
  def buildWave(spark: SparkSession, docs: DataFrame, dir: String,
      wave: Int, opts: IndexOptions, enforceBase: Option[Long],
      enforceMinTs: Option[Long]): WaveInfo = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val dps = opts.docsPerSegment
    val blockSize = opts.blockSize
    val withPositions = opts.withPositions

    val hasTs = docs.columns.contains("ts")
    // cast handles TIMESTAMP_NTZ parquet inputs (interpreted in the UTC
    // session zone); a no-op for TIMESTAMP inputs
    val tsMillis = if (hasTs) unix_millis(col("ts").cast(TimestampType)) else lit(0L)
    val base = docs.select(col("docId").cast(LongType).as("docId"),
      col("key").cast(StringType).as("key"),
      coalesce(col("text"), lit("")).as("text"), // null text = empty doc
      coalesce(tsMillis, lit(0L)).as("ts"))

    // ---- tokenize ONCE: (term -> tf, positions) per doc, persisted for
    // the wave so the forward-map, norms, and postings jobs all consume the
    // same materialized rows (deterministic across jobs/retries, and the
    // corpus is not re-tokenized per consumer). ≙ the reference memtable:
    // rows are converted to index form exactly once (block.rs:372-387).
    val entries = base.select($"docId", $"key", $"ts",
      ($"docId" / lit(dps)).cast(LongType).as("segId"),
      termEntriesUdf(withPositions, opts.analyzer)($"text").as("de"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    phase("tokenize+persist")(entries.count())

    // ---- forward map + norms: dl comes straight from the UDF output ------
    val docdl = entries.select($"docId", $"key",
      $"de.dl".cast(IntegerType).as("dl"), $"ts", $"segId")

    // ---- the three wave outputs (forward map, norms, postings) all consume
    // the SAME persisted tokenized rows, and their writes go to disjoint
    // dirs — so the driver submits them as CONCURRENT Spark jobs and joins.
    // Serially, the two small sidecar jobs are almost pure fixed cost at
    // high parallelism (measured: norms-write ~5 s at 1 AND at 4 executors
    // for 1M docs — scheduling + shuffle setup + parquet commit, not data)
    // and that fixed ladder is exactly what caps N->4N scaling efficiency
    // (Amdahl); overlapped, they hide under the postings shuffle. On a
    // 1000-executor cluster this is the natural shape: idle cores pick up
    // the sidecar stages while the big exchange runs.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global

    val fDocmeta = Future(phase("docmeta-write")(writeWave(
      docdl.select($"docId", $"key", $"dl", $"ts")
        .repartitionByRange(col("docId")).sortWithinPartitions("docId"),
      docmetaPath(dir), wave)))

    val normsDs: Dataset[SegmentNorms] = docdl
      .select($"docId", $"dl", $"segId", $"ts").as[DlRow]
      .repartition(col("segId")).sortWithinPartitions("segId", "docId")
      .mapPartitions(encodeNormRuns(_, wave))
    // wave stats ride the norms write as observed metrics (CollectMetrics):
    // the old form re-read the written norms parquet in a separate driver
    // job — a ~1 s serial scheduling floor per wave that the 4N-executor
    // config cannot parallelize away (it was part of the measured Amdahl
    // tail capping N->4N scaling efficiency)
    val waveObs = new org.apache.spark.sql.Observation(s"wave-stats-$wave-" +
      java.util.UUID.randomUUID().toString)
    val fNorms = Future(phase("norms-write")(writeWave(
      normsDs.toDF().drop("wave") // wave comes back as the partition dir column
        .observe(waveObs, sum($"n").as("mDocs"), sum($"sumDl").as("mTokens"),
          min($"minDocId").as("mMinDoc"), max($"maxDocId").as("mMaxDoc"),
          min(when($"minTs" =!= 0L, $"minTs")).as("mMinTs"),
          max($"maxTs").as("mMaxTs")),
      normsPath(dir), wave)))

    // ---- postings: one row per distinct (doc, term) into the single
    // shuffle (repartition by term+segId) — no per-token exchange exists
    // anywhere in the pipeline. dl rides in the high half of the tf slot
    // (TfRow.tfDl) so the encoder can stamp per-block minDl for free.
    val tfpos = entries
      .select($"docId", $"segId", $"de.dl".cast(LongType).as("dl"),
        explode($"de.es").as("e"))
      .select($"e.term".as("term"), $"docId",
        shiftleft($"dl", 32).bitwiseOR($"e.tf".cast(LongType)).as("tfDl"),
        $"e.pos".as("pos"), $"segId")

    val segDs: Dataset[SegmentPosting] = tfpos
      .repartition(col("term"), col("segId"))
      .sortWithinPartitions("term", "segId", "docId")
      .as[TfRow]
      .mapPartitions(encodePostingRuns(_, wave, blockSize, withPositions))
    val fPostings = Future(phase("postings-write")(
      writeWave(segDs.toDF(), segmentsPath(dir), wave)))
    import scala.concurrent.duration.Duration
    Await.result(fDocmeta, Duration.Inf)
    Await.result(fNorms, Duration.Inf)
    Await.result(fPostings, Duration.Inf)

    // ---- wave stats: observed on the norms write above (no extra job) ----
    val metaAgg = phase("wave-stats") {
      val m = waveObs.get
      Row(m("mDocs"), m("mTokens"), m("mMinDoc"), m("mMaxDoc"),
        m("mMinTs"), m("mMaxTs"))
    }
    val numDocs = if (metaAgg.isNullAt(0)) 0L else metaAgg.getLong(0)
    val totalTokens = if (metaAgg.isNullAt(1)) 0L else metaAgg.getLong(1)
    val minDocId = if (numDocs == 0) 0L else metaAgg.getLong(2)
    val maxDocId = if (numDocs == 0) -1L else metaAgg.getLong(3)
    val minTs = if (metaAgg.isNullAt(4)) 0L else metaAgg.getLong(4)
    val maxTs = if (numDocs == 0) 0L else metaAgg.getLong(5)

    enforceBase.foreach { b =>
      require(numDocs == 0 || minDocId >= b,
        s"appended wave docIds must start at or above $b (got $minDocId): " +
          "docID rebase discipline (reference block.rs:196)")
    }
    enforceMinTs.foreach { t =>
      require(minTs == 0L || minTs >= t,
        s"appended wave time range [$minTs,...] overlaps committed [...,$t] " +
          "(reference merge panics on overlap, block.rs:165-168)")
    }

    // termstats double as the posting counter: summing df over the
    // vocabulary-sized stats table replaces a second full segments scan
    // (every small serial job in this tail is a ~1-2 s scheduling floor
    // that the 4N-executor config cannot parallelize away)
    val postings = writeWaveTermStats(spark, dir, wave)
    entries.unpersist()
    val sec = (System.nanoTime() - t0) / 1e9
    WaveInfo(wave, numDocs, totalTokens, minDocId, maxDocId, minTs, maxTs,
      sec, numDocs / sec, postings / sec)
  }

  /** Streaming run-group encoder: consumes rows sorted by (term, segId,
    * docId), emits one SegmentPosting per (term, segId) run. Never holds
    * more than one run (<= docsPerSegment postings) in memory.
    */
  private def encodePostingRuns(it: Iterator[TfRow], wave: Int, blockSize: Int,
      withPositions: Boolean): Iterator[SegmentPosting] = new Iterator[SegmentPosting] {
    private val buf = it.buffered
    def hasNext: Boolean = buf.hasNext
    def next(): SegmentPosting = {
      val head = buf.head
      val term = head.term
      val segId = head.segId
      val docs = new ArrayBuffer[Long]()
      val tfs = new ArrayBuffer[Int]()
      val dls = new ArrayBuffer[Int]()
      val poss = if (withPositions) new ArrayBuffer[Array[Byte]]() else null
      var tfSum = 0L
      var maxTf = 0
      while (buf.hasNext && buf.head.term == term && buf.head.segId == segId) {
        val r = buf.next()
        val tf = (r.tfDl & 0xffffffffL).toInt
        docs += r.docId
        tfs += tf
        dls += (r.tfDl >>> 32).toInt
        if (withPositions) poss += r.pos
        tfSum += tf
        if (tf > maxTf) maxTf = tf
      }
      val blocks = PostingCodec.encodePacked(docs.toArray, tfs.toArray,
        if (withPositions) poss.toArray else null, blockSize, dls.toArray)
      SegmentPosting(term, wave, segId, docs.length.toLong, tfSum, maxTf, blocks)
    }
  }

  private def encodeNormRuns(it: Iterator[DlRow], wave: Int): Iterator[SegmentNorms] =
    new Iterator[SegmentNorms] {
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): SegmentNorms = {
        val segId = buf.head.segId
        val enc = new NormsCodec.Encoder
        var sumDl = 0L
        var minDoc = Long.MaxValue
        var maxDoc = Long.MinValue
        var minTs = 0L
        var maxTs = 0L
        while (buf.hasNext && buf.head.segId == segId) {
          val r = buf.next()
          enc.add(r.docId, r.dl)
          sumDl += r.dl
          if (r.docId < minDoc) minDoc = r.docId
          if (r.docId > maxDoc) maxDoc = r.docId
          if (r.ts != 0L && (minTs == 0L || r.ts < minTs)) minTs = r.ts
          if (r.ts > maxTs) maxTs = r.ts
        }
        SegmentNorms(wave, segId, enc.n, enc.docBytes, enc.dlBytes,
          sumDl, minDoc, maxDoc, minTs, maxTs)
      }
    }

  /** Write PER-WAVE term statistics for one committed wave. Stats are kept
    * per wave (like the reference's per-block header metadata, never a
    * global table — block.rs:26-37): an append touches only the new wave's
    * segments, O(wave) not O(vocabulary x waves), so streaming ingest that
    * commits a wave per micro-batch never pays a full-corpus stats rebuild.
    * Query-time lookups read the few matching rows of each visible wave
    * (term-sorted files -> row-group skipping) and sum df/tf / max maxTf
    * across waves (Searcher.termStats).
    *
    * Reads only the (term, df, tf, maxTf) columns — Parquet column pruning
    * keeps the posting blobs on disk.
    *
    * Returns the wave's total posting count (sum of df), read back from the
    * vocabulary-sized stats table it just wrote — the caller's posting
    * counter without a second scan of the full segments table.
    */
  private[index] def writeWaveTermStats(spark: SparkSession, dir: String,
      wave: Int): Long = {
    import spark.implicits._
    val segs = readSegments(spark, dir, Seq(wave))
    val stats = segs.select($"term", $"df", $"tf", $"maxTf")
      .groupBy($"term")
      .agg(sum($"df").as("df"), sum($"tf").as("tf"), max($"maxTf").as("maxTf"))
    // the wave's posting count (sum of df) is observed ON the stats write —
    // the old read-back agg was one more ~1 s serial job in the per-wave
    // tail. The observe node sits ABOVE the range shuffle so the range-
    // partitioner's sampling job (which evaluates the plan below it) cannot
    // fire the metrics early.
    val obs = new org.apache.spark.sql.Observation(s"termstats-$wave-" +
      java.util.UUID.randomUUID().toString)
    val out = stats.repartitionByRange(col("term")).sortWithinPartitions("term")
      .observe(obs, sum($"df").as("mDf"))
    phase("termstats-write") {
      writeWave(out, termstatsPath(dir), wave)
      obs.get("mDf") match {
        case null => 0L
        case l: java.lang.Long => l.longValue()
        case o => o.toString.toLong
      }
    }
  }

  /** Declared read schema of an index table: the row type's fields as the
    * files store them, plus the `wave` INT partition column. Declaring it
    * means resolving a table never runs Parquet's footer-reading
    * schema-inference job.
    */
  private def tableSchema[T <: Product: scala.reflect.runtime.universe.TypeTag]: StructType =
    StructType(Encoders.product[T].schema.filterNot(_.name == "wave") :+
      StructField("wave", IntegerType))

  val SegmentsSchema: StructType = tableSchema[SegmentPosting]
  val NormsSchema: StructType = tableSchema[SegmentNorms]
  val TermStatsSchema: StructType = tableSchema[TermStats]
  val DocMetaSchema: StructType = tableSchema[DocMeta]

  /** The `wave=N` dirs of `waves` under `root`, read with `schema` and
    * filtered to those waves (a PartitionFilter in the scan). Only the
    * named dirs are listed, so a missing one fails here, at resolution,
    * and a file deleted after resolution fails the scan — never an
    * empty result. No waves gives an empty frame.
    */
  private def readWaves(spark: SparkSession, root: String, schema: StructType,
      waves: Seq[Int]): DataFrame =
    if (waves.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).option("basePath", root)
      .parquet(waves.distinct.map(w => s"$root/wave=$w"): _*)
      .where(col("wave").isin(waves: _*))

  def readTermStats(spark: SparkSession, dir: String, waves: Seq[Int]): DataFrame =
    readWaves(spark, termstatsPath(dir), TermStatsSchema, waves)

  /** Committed-waves segment scan (wave is a partition column -> pruning). */
  def readSegments(spark: SparkSession, dir: String, waves: Seq[Int]): DataFrame =
    readWaves(spark, segmentsPath(dir), SegmentsSchema, waves)

  def readNorms(spark: SparkSession, dir: String, waves: Seq[Int]): DataFrame =
    readWaves(spark, normsPath(dir), NormsSchema, waves)

  /** `waves` are PHYSICAL docmeta dirs ([[WaveInfo.docmetaWaveIds]]). */
  def readDocMeta(spark: SparkSession, dir: String, waves: Seq[Int]): DataFrame =
    readWaves(spark, docmetaPath(dir), DocMetaSchema, waves).drop("wave")

  // -------------------------------------------------------------------------
  // Deterministic docID assignment without zipWithIndex (north_star):
  // hash-repartition on the order key (deterministic), sort within partition,
  // per-partition counts -> exclusive offsets broadcast, then
  // rowInPartition + offset(partition).
  // -------------------------------------------------------------------------
  def assignDocIds(spark: SparkSession, df: DataFrame, orderCol: String,
      base: Long = 0L, numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    // sort on ALL columns (order key first): duplicate order-key values
    // (e.g. recrawled urls) would otherwise have shuffle-fetch-dependent
    // order, making docId-to-row binding nondeterministic across the jobs
    // and task retries that consume this output
    val sortCols = col(orderCol) +: df.columns.filter(_ != orderCol).map(col).toSeq
    val parted = df.repartition(n, col(orderCol)).sortWithinPartitions(sortCols: _*)
    val counts = parted.groupBy(spark_partition_id().as("pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = new Array[Long](n)
    var acc = base
    counts.foreach { case (pid, c) => offsets(pid) = acc; acc += c }
    val outSchema = StructType(StructField("docId", LongType, nullable = false) +: parted.schema.fields)
    val enc = Encoders.row(outSchema)
    parted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var i = offsets(pid)
      it.map { r =>
        val out = Row.fromSeq(i +: r.toSeq)
        i += 1
        out
      }
    }(enc)
  }
}
