package graft.index

import graft.codec.{NormsCodec, PBlock, PostingCodec}
import graft.util.MetaCache
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** BM25 parameters (Lucene-style positive idf so scores never go negative
  * on head terms).
  */
final case class Bm25Params(k1: Double = 1.2, b: Double = 0.75)

/** Query executor over a committed index directory.
  *
  * Read path ≙ the reference's snapshot scan + lazy posting load
  * (/root/reference/src/storage/storage.rs:54-140, block.rs:283-292), mapped
  * to Spark: the manifest pins the committed waves (snapshot isolation), the
  * `term IN (...)` predicate is pushed into the Parquet scan of term-sorted
  * segment files (row-group min/max skipping ≙ per-tag point seek), and
  * postings decode happens in executors, grouped per segment so every
  * (wave, segId) docID space is intersected/scored locally and only
  * per-segment results cross the wire.
  *
  * Each of the four tables (segments, norms, termstats, docmeta) is
  * resolved once per Searcher, on first use, with a declared schema
  * (IndexBuilder.SegmentsSchema etc.), so a query neither re-lists the
  * index nor runs Parquet's schema-inference job; every query's plan
  * derives from these pinned relations. They list only the visible waves'
  * `wave=N` dirs, so a snapshot that a later compaction deleted fails
  * loudly — at resolution or at scan — instead of answering empty:
  * reopen with [[Searcher.open]] after a compaction.
  *
  * One mechanism per job:
  *  - the per-segment kernel ([[perSegment]]) is the only place postings
  *    are grouped by (wave, segId); `and`, `or`, `phrase`, `near`, the
  *    dictionary expansions and the trigram planner are functions of one
  *    group's term -> runs map, and `bm25` cogroups on the same key. A
  *    (term, segId) run split across waves is concatenated by
  *    [[Searcher.runBlocks]] alone;
  *  - one trigram planner ([[trigramRows]]) serves the five substring
  *    operators: an OR of ANDs of literals, each literal contributing its
  *    rarest [[Searcher.PlanTerms]] windows, one posting fetch, then an
  *    exact verify pass;
  *  - one bounded pushdown ([[boundedCollect]]): a set of at most
  *    [[Searcher.PushdownLimit]] rows is collected and pushed into a scan,
  *    a wider one falls back to a plan that needs no driver-side set. The
  *    time-segment filter, the bm25 touched-segment norms filter,
  *    [[resolve]] and the substring verify pass all use it.
  *
  * Two cost knobs remain, each set by a caller: `substringTopK`'s
  * `pushdownLimit` and `facets`' `broadcastMatched`. The Spark jobs a
  * Searcher runs itself (term stats, bounded collects) carry a
  * `Searcher.<step>` call site, so traces and the UI name them.
  */
class Searcher(val spark: SparkSession, val dir: String,
    timeRange: Option[(Long, Long)] = None) extends Serializable {
  import spark.implicits._

  val manifest: IndexManifest = ManifestIO.read(dir)

  /** Committed waves, pruned to those whose [minTs, maxTs] overlaps the
    * query time range. Correct interval-overlap test (a.from <= b.to &&
    * b.from <= a.to) — the reference's helper is dead code AND buggy
    * (/root/reference/src/storage/storage.rs:13-18, SURVEY.md §2.1 #21);
    * we implement the fixed form. Waves with no timestamps (minTs=0,
    * maxTs=0) are never pruned. Wave is a partition column, so pruning here
    * becomes Parquet partition pruning in every scan below.
    */
  private val waves: Seq[Int] = timeRange match {
    case None => manifest.waveIds
    case Some((from, to)) =>
      manifest.waves.filter { w =>
        (w.minTs == 0L && w.maxTs == 0L) || (w.minTs <= to && from <= w.maxTs)
      }.map(_.wave)
  }

  /** A view of this index restricted to waves overlapping [fromMs, toMs]. */
  def inTimeRange(fromMs: Long, toMs: Long): Searcher =
    new Searcher(spark, dir, Some((fromMs, toMs)))

  /** Waves visible to this searcher (for pruning assertions/metrics). */
  def visibleWaves: Seq[Int] = waves

  @transient lazy val segments: DataFrame = IndexBuilder.readSegments(spark, dir, waves)
  @transient private lazy val normsRel = IndexBuilder.readNorms(spark, dir, waves)
  @transient private lazy val termStatsRel = IndexBuilder.readTermStats(spark, dir, waves)
  // logical wave -> physical docmeta dirs: compaction merges the forward
  // map virtually (WaveInfo.docmetaWaves), so the visible waves' docmeta
  // may live under the pre-merge wave=N dirs
  @transient lazy val docMeta: DataFrame = IndexBuilder.readDocMeta(spark, dir,
    manifest.waves.filter(w => waves.contains(w.wave)).flatMap(_.docmetaWaveIds).distinct)

  def norms: Dataset[SegmentNorms] = normsIn(waves)
  private def normsIn(ws: Seq[Int]): Dataset[SegmentNorms] =
    normsRel.where(col("wave").isin(ws: _*)).select("wave", "segId", "n",
      "docBytes", "dlBytes", "sumDl", "minDocId", "maxDocId", "minTs", "maxTs")
      .as[SegmentNorms]

  /** Segment-level time pruning for a time-restricted view: segIds whose
    * per-segment [minTs, maxTs] (norms metadata the build already stamps)
    * overlap the query range. Wave pruning above removes whole waves;
    * this removes non-overlapping SEGMENTS inside a surviving wave — which
    * bites exactly when ingest order correlates with event time (a web
    * crawl's docIds grow with crawl time, so segments are contiguous time
    * slices). Ts-less segments (minTs=maxTs=0) are never pruned. A
    * [[boundedCollect]]: wider overlaps skip the extra filter — pruning is
    * an optimization, never a correctness dependency.
    */
  @transient private lazy val timeSegIds: Option[Seq[Long]] =
    timeRange.flatMap { case (from, to) =>
      boundedCollect("Searcher.timeSegIds", normsRel
        .where((col("minTs") === 0L && col("maxTs") === 0L) ||
          (col("minTs") <= to && col("maxTs") >= from))
        .select("segId").distinct()).map(_.map(_.getLong(0)).toSeq)
    }

  /** Runs `f` with `label` as the call site of the Spark jobs it starts
    * (stages submitted by adaptive execution included), so a trace or the
    * UI names the Searcher step; the previous call site is restored after.
    */
  private def named[T](label: String)(f: => T): T = {
    val sc = spark.sparkContext
    // the key setCallSite writes (Spark's CallSite.SHORT_FORM is private)
    val prev = sc.getLocalProperty("callSite.short")
    sc.setCallSite(label)
    try f finally sc.setLocalProperty("callSite.short", prev)
  }

  /** The bounded pushdown: `df`'s rows when there are at most `limit`,
    * else None, for the caller to fall back to a plan that needs no
    * driver-side set. One `limit(limit + 1)` collect either way.
    */
  private def boundedCollect(label: String, df: DataFrame,
      limit: Int = Searcher.PushdownLimit): Option[Array[Row]] = {
    val rows = named(label)(df.limit(limit + 1).collect())
    if (rows.length > limit) None else Some(rows)
  }

  /** Pushed-down posting fetch for a set of terms (≙ batched read_indexes,
    * storage.rs:110-140 — one scan services all query terms). Time-
    * restricted searchers additionally push the overlapping-segId set into
    * the scan (parquet row-group skipping on the segId-sorted files).
    */
  def postings(terms: Seq[String]): Dataset[SegmentPosting] =
    postingsWhere(col("term").isin(terms: _*))

  /** Postings rows under an arbitrary term-dictionary predicate — used by
    * [[prefix]] where the pushed filter is `StringStartsWith` instead of
    * `In` (segment files are term-sorted, so both become row-group min/max
    * skipping in the Parquet scan).
    */
  def postingsWhere(termPred: Column): Dataset[SegmentPosting] = {
    val base = segments.where(termPred)
    val timed = timeSegIds match {
      case Some(ids) => base.where(col("segId").isin(ids: _*))
      case None => base
    }
    timed.select("term", "wave", "segId", "df", "tf", "maxTf", "blocks")
      .as[SegmentPosting]
  }

  // per instance, so a new Searcher starts empty; its wave set is pinned at
  // construction, so the stamp is constant
  @transient private lazy val statsMemo =
    new MetaCache[String, Unit, Option[TermStats]]
  // distinct (waves, segIds) per sorted term set; None = too wide to prune
  @transient private lazy val touchedMemo =
    new MetaCache[Seq[String], Unit, Option[(Array[Int], Array[Long])]]

  /** Global stats for query terms — a driver-side lookup of index *metadata*
    * (few rows, term pushdown into each wave's term-sorted stats file),
    * memoized per term so repeated queries over a Searcher pay no lookup job
    * (≙ the reference's lazily-cached posting handles, block.rs:279-292).
    * Stats are stored PER WAVE (appends never rewrite committed stats);
    * the per-term aggregate over visible waves happens here, over O(waves)
    * rows per term. The result is built from the memo hits plus the batch
    * just fetched, never re-read from the memo, which may have evicted
    * part of a batch wider than its bound.
    */
  def termStats(terms: Seq[String]): Map[String, TermStats] = {
    val hits = terms.flatMap(t => statsMemo.peek(t, ()).map(t -> _)).toMap
    val missing = terms.filterNot(hits.contains)
    val fetched =
      if (missing.isEmpty) Map.empty[String, TermStats]
      else named("Searcher.termStats")(termStatsRel
        .where(col("term").isin(missing: _*))
        .groupBy(col("term"))
        .agg(sum(col("df")).as("df"), sum(col("tf")).as("tf"),
          max(col("maxTf")).as("maxTf"))
        .as[TermStats].collect().map(t => t.term -> t).toMap)
    missing.foreach(t => statsMemo.put(t, (), fetched.get(t)))
    hits.collect { case (t, Some(st)) => t -> st } ++ fetched
  }

  private def emptyDocIds: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("docId", LongType, nullable = false))))

  /** The per-segment kernel: `ps` grouped by (wave, segId) and handed to
    * `f` as term -> runs. Groups own disjoint docId ranges (a segment that
    * a wave boundary splits is one group per wave), so the outputs union
    * without a dedup.
    */
  private def perSegment[T: Encoder](ps: Dataset[SegmentPosting])(
      f: Map[String, Seq[SegmentPosting]] => Iterator[T]): Dataset[T] =
    ps.groupByKey(Searcher.segmentOf).flatMapGroups {
      (_: (Int, Long), it: Iterator[SegmentPosting]) => f(it.toSeq.groupBy(_.term))
    }

  /** Resolve docIds in a query result back to their document identity
    * (url/key + timestamp) via the forward map — the reference's
    * keys/timestamps columns (/root/reference/src/storage/block.rs:90-91;
    * `from_block` returns keys, tests/storage.rs:61-80). A real user's
    * first ask after any query is "give me the URLs of these docIds".
    *
    * Small result sets (top-k, tag lookups) push the id set INTO the
    * docmeta scan: docmeta is range-partitioned + sorted by docId, so the
    * `isin` predicate becomes parquet row-group skipping — O(ids) I/O, not
    * a full forward-map read. On the small path the join's LEFT side is
    * rebuilt from the SAME collected rows that produced the id set: running
    * the `results` plan twice would let a nondeterministic input (e.g.
    * `limit` without `orderBy`) produce join rows whose ids were never
    * collected, silently resolving them to nulls. Larger results fall back
    * to a shuffle join over the original plan (which they genuinely need;
    * such inputs must be deterministic, as with any Spark reuse).
    */
  def resolve(results: DataFrame, idCol: String = "docId"): DataFrame = {
    val meta = docMeta.select(col("docId").as("__rid"), col("key"), col("ts"))
    val joined = boundedCollect("Searcher.resolve", results) match {
      case Some(head) =>
        val idIdx = results.schema.fieldIndex(idCol)
        // null ids can never join; folding them into the isin set would NPE
        val ids = head.iterator.filter(r => !r.isNullAt(idIdx)).map(r =>
          r.get(idIdx) match {
            case l: java.lang.Long => l.longValue()
            case i: java.lang.Integer => i.longValue()
            case o => o.toString.toLong
          }).toArray
        val left = spark.createDataFrame(
          java.util.Arrays.asList(head: _*), results.schema)
        left.join(
          broadcast(meta.where(col("__rid").isin(ids.toSeq: _*))),
          left(idCol) === col("__rid"), "left")
      case None =>
        results.join(meta, results(idCol) === col("__rid"), "left")
    }
    joined.drop("__rid")
  }

  /** Single-term lookup: decode + emit docIds. No shuffle at all. */
  def lookup(term: String): DataFrame =
    postings(Seq(term)).flatMap(Searcher.runDocs).toDF("docId")

  /** Conjunctive (AND) query — tagged's core tag-intersection semantics.
    * Per-segment galloping k-way intersection; segments are independent docID
    * ranges so results union without dedup.
    */
  def and(terms: Seq[String]): DataFrame = {
    val distinctTerms = terms.distinct
    val nTerms = distinctTerms.size
    if (nTerms == 0) return emptyDocIds
    val stats = termStats(distinctTerms)
    if (distinctTerms.exists(t => !stats.contains(t))) return emptyDocIds
    perSegment(postings(distinctTerms)) { byTerm =>
      if (byTerm.size < nTerms) Iterator.empty
      else Searcher.intersect(
        byTerm.valuesIterator.map(Searcher.mergeRunDocs).toArray).iterator
    }.toDF("docId")
  }

  /** Disjunctive (OR) query: docId + number of distinct matched terms. */
  def or(terms: Seq[String]): DataFrame = {
    val distinctTerms = terms.distinct
    if (distinctTerms.isEmpty) return emptyDocIds.withColumn("matched", lit(0))
    perSegment(postings(distinctTerms)) { byTerm =>
      // a doc sits in one wave, so in one run per term: one count per term
      val counts = new java.util.HashMap[Long, Int]()
      byTerm.valuesIterator.flatten.flatMap(Searcher.runDocs)
        .foreach(d => counts.merge(d, 1, (a: Int, b: Int) => a + b))
      counts.asScala.iterator
    }.toDF("docId", "matched")
  }

  /** AND over `must` minus OR over `mustNot`. */
  def andNot(must: Seq[String], mustNot: Seq[String]): DataFrame = {
    val pos = and(must)
    if (mustNot.isEmpty) pos
    else pos.join(or(mustNot).select("docId"), Seq("docId"), "left_anti")
  }

  /** Exact phrase query via positional postings (index must be built with
    * positions). Adjacency chained across terms inside each segment group.
    */
  def phrase(terms: Seq[String]): DataFrame = {
    require(manifest.withPositions, "index built without positions")
    if (terms.isEmpty) return emptyDocIds
    // a docId occurs once per term (ascending runs, disjoint segments)
    if (terms.size == 1) return lookup(terms.head)
    val n = terms.size
    val distinctTerms = terms.distinct
    val nDistinct = distinctTerms.size
    perSegment(postings(distinctTerms)) { byTerm =>
      if (byTerm.size < nDistinct) Iterator.empty
      else {
        // positions per (slot in phrase): decode per term once
        val decoded = byTerm.map { case (t, rs) => t -> Searcher.mergeRunFull(rs) }
        val lists = decoded.valuesIterator.map(_._1).toArray
        Searcher.intersect(lists).iterator.filter { d =>
          // per-slot position arrays for this doc
          val slotPos: Array[Array[Int]] = Array.tabulate(n) { s =>
            val (docs, _, poss) = decoded(terms(s))
            poss(java.util.Arrays.binarySearch(docs, d))
          }
          // phrase exists iff some p in slot0 with p+s in slot_s for all s
          slotPos(0).exists { p =>
            var s = 1
            var ok = true
            while (ok && s < n) {
              if (java.util.Arrays.binarySearch(slotPos(s), p + s) < 0) ok = false
              s += 1
            }
            ok
          }
        }
      }
    }.toDF("docId")
  }

  /** Prefix (trailing-wildcard) term query: docIds containing ANY term that
    * starts with `p`. The dictionary predicate pushes down as
    * `StringStartsWith` into the term-sorted segment scan — at scale the
    * matching dictionary range is a contiguous run of row groups, the same
    * seek the reference's BTreeMap range scan would do
    * (/root/reference/src/storage/block.rs:389-405). DocIds are deduped
    * per segment in a hash set (a doc can match several expanded terms);
    * segments own disjoint docId ranges, so results union withOUT a global
    * distinct shuffle.
    */
  def prefix(p: String): DataFrame = {
    require(p.nonEmpty, "empty prefix")
    expandedUnion(col("term").startsWith(p))
  }

  /** Wildcard term query: docIds containing ANY dictionary term matching
    * the SQL LIKE pattern (`%` any run, `_` one char — e.g. "s%a%",
    * "b_g"). The LIKE predicate evaluates in the stats-pruned dictionary
    * scan; a literal prefix before the first wildcard additionally pushes
    * `StringStartsWith` into the term-sorted segment files, narrowing the
    * scan to the dictionary range the reference's BTreeMap would seek
    * (block.rs:389-405) — the same two-level plan as [[prefix]], of which
    * this is the general form (a trailing-only wildcard IS a prefix query).
    */
  def wildcard(pattern: String): DataFrame = {
    require(pattern.nonEmpty, "empty pattern")
    // an all-wildcard pattern ("%", "_%") selects the ENTIRE dictionary —
    // a full posting decode at corpus scale. Reject it like production
    // engines do rather than silently running the most expensive query
    // the index can express.
    require(pattern.exists(c => c != '%' && c != '_'),
      s"pattern '$pattern' has no literal characters (matches every term)")
    val prefix = pattern.takeWhile(c => c != '%' && c != '_')
    val like = col("term").like(pattern)
    expandedUnion(
      if (prefix.nonEmpty) col("term").startsWith(prefix) && like else like)
  }

  /** Fuzzy term query ("did you mean" matching): docIds containing ANY
    * dictionary term within Levenshtein distance `maxDist` of `t`. Two
    * phases, the classic fuzzy-expansion plan: (1) a stats-only dictionary
    * scan (posting blobs pruned) filters terms by the codegen'd built-in
    * `levenshtein` and collects the matched set — bounded by the edit ball
    * around `t`, a handful of terms in any real dictionary — then (2) the
    * match set goes back in as an `In` pushdown so only matching terms'
    * postings are ever decoded. Decoding behind a dictionary-wide
    * levenshtein filter instead would read every posting blob: the
    * predicate can't push into Parquet, so phase 1 exists precisely to keep
    * the blob column out of the wide scan.
    */
  def fuzzy(t: String, maxDist: Int = 1): DataFrame = {
    require(t.nonEmpty, "empty term")
    require(maxDist >= 0, "maxDist must be >= 0")
    // length band first: |len(term) - len(t)| > maxDist already implies
    // edit distance > maxDist, and the band test is O(1) vs levenshtein's
    // O(n*m) — at a 10^9-term dictionary the band prunes the vast majority
    // of terms before the expensive filter (round-6 verdict item 5). The
    // conjunction short-circuits left-to-right in codegen.
    val matched = named("Searcher.fuzzy")(segments.select("term").distinct()
      .where(abs(length(col("term")) - lit(t.length)) <= maxDist &&
        levenshtein(col("term"), lit(t)) <= maxDist)
      .as[String].collect().toSeq)
    if (matched.isEmpty) spark.emptyDataset[Long].toDF("docId")
    else expandedUnion(col("term").isin(matched: _*))
  }

  /** Exact substring search over a trigram-analyzed index — the Google Code
    * Search / Zoekt plan (Cox, "Regular Expression Matching with a Trigram
    * Index", 2012; public swtch.com/~rsc/regexp/regexp4.html): a document
    * contains `needle` only if it contains EVERY 3-char window of it, so the
    * rarest windows are intersected and only the surviving candidates'
    * source rows are verified with the codegen'd `Contains` predicate
    * ([[trigramRows]]).
    *
    * `corpus` must be the table the index was built over, `idCol` the
    * column `IndexCache`-style builds stamp into docmeta `key` (string-cast
    * equality).
    */
  def substring(needle: String, corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    substringRows(needle, corpus, idCol, textCol).select(col(idCol))

  /** Multi-literal substring search — the pure-alternation regex case of
    * the trigram-index plan ("lit1|lit2|...": Cox 2012 §"OR of literals"):
    * docs containing ANY of `needles`, one [[trigramRows]] alternative per
    * needle. The verify pass ORs the codegen'd `Contains` predicates, so the
    * result is exactly the union of the per-needle exact relations.
    */
  def substringAny(needles: Seq[String], corpus: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    require(needles.nonEmpty && needles.forall(_.nonEmpty), "empty needle")
    val distinctNeedles = needles.distinct
    trigramRows(distinctNeedles.map(Seq(_)), corpus, idCol,
      distinctNeedles.map(n => col(textCol).contains(n)).reduce(_ || _))
      .select(col(idCol))
  }

  /** Ordered multi-part search — the literal-concatenation regex case
    * "lit1.*lit2.*..." (Cox 2012: a concatenation's trigram query is the
    * AND of its parts' queries): docs containing every part IN ORDER,
    * non-overlapping left to right. Candidates are one [[trigramRows]]
    * alternative holding every part (a doc matching the regex contains
    * every part, hence every window — order costs nothing at the index),
    * and the verify pass is the codegen'd `RLike` on the quoted-literal
    * pattern (`.*` matches identically across engines on newline-free
    * atoms: neither Java nor RE2 dot crosses newlines by default).
    */
  def substringOrdered(parts: Seq[String], corpus: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    require(parts.nonEmpty && parts.forall(_.nonEmpty), "empty part")
    val pattern = parts.map(java.util.regex.Pattern.quote).mkString(".*")
    trigramRows(Seq(parts), corpus, idCol, col(textCol).rlike(pattern))
      .select(col(idCol))
  }

  /** Substring occurrence top-k: the `k` docs with the most (non-
    * overlapping, leftmost-first — `replace` semantics in Spark and every
    * SQL engine) occurrences of `needle`, ties by id asc. The trigram plan
    * bounds WHERE counting happens: occurrence arithmetic
    * (length - length(replace))/|needle| — all codegen'd built-ins — runs
    * only on verified candidate rows, and the selection is a TakeOrdered,
    * never a global sort. `pushdownLimit` caps the candidate set pushed
    * into the corpus scan (see [[verifiedRows]]).
    */
  def substringTopK(needle: String, corpus: DataFrame, idCol: String,
      textCol: String, k: Int,
      pushdownLimit: Int = Searcher.PushdownLimit): DataFrame = {
    require(k > 0, "k must be positive")
    val hits = ((length(col(textCol)) -
      length(replace(col(textCol), lit(needle), lit("")))) /
      needle.length).cast("long").as("hits")
    substringRows(needle, corpus, idCol, textCol, pushdownLimit)
      .select(col(idCol), hits)
      .orderBy(col("hits").desc, col(idCol).asc)
      .limit(k)
  }

  /** Substring KWIC: each matching doc's FIRST occurrence position
    * (1-based) plus a character window of `window` chars on both sides —
    * the "show the match in context" surface of [[substring]]. Snippet
    * arithmetic is pure codegen'd built-ins (instr / greatest / least /
    * substr with identical 1-based semantics in Spark and SQL engines) and
    * runs only on verified candidate rows.
    */
  def substringKwic(needle: String, corpus: DataFrame, idCol: String,
      textCol: String, window: Int): DataFrame = {
    require(window >= 0, "window must be >= 0")
    val p = instr(col(textCol), needle)
    val start = greatest(lit(1), p - window)
    val end = least(length(col(textCol)), p + (needle.length - 1) + window)
    substringRows(needle, corpus, idCol, textCol)
      .select(col(idCol), p.cast("long").as("pos"),
        col(textCol).substr(start, end - start + 1).as("snippet"))
  }

  /** [[substring]]'s verified candidate ROWS (all corpus columns) — the
    * shared core of the projection variants above.
    */
  private def substringRows(needle: String, corpus: DataFrame, idCol: String,
      textCol: String, pushdownLimit: Int = Searcher.PushdownLimit): DataFrame = {
    require(needle.nonEmpty, "empty needle")
    trigramRows(Seq(Seq(needle)), corpus, idCol, col(textCol).contains(needle),
      pushdownLimit)
  }

  /** The trigram planner behind every substring operator: an OR of ANDs of
    * literals, filtered through the index, then verified exactly.
    *
    *  - each literal contributes its rarest [[Searcher.PlanTerms]] distinct
    *    windows by dictionary df (a driver-side metadata lookup); a
    *    literal shorter than one window contributes none;
    *  - an alternative with no window at all cannot be bounded by the
    *    index: the query falls back to the full verify scan (still exact;
    *    Zoekt does the same);
    *  - an alternative with a zero-df window can match nothing and drops
    *    out; with none left the result is empty without a posting read;
    *  - candidates come from ONE posting fetch (the `In` pushdown carries
    *    every chosen window): per segment, each alternative's windows are
    *    intersected and the matches unioned with a hash-set dedup;
    *  - [[verifiedRows]] re-checks `verified` on the source rows.
    *
    * A trigram conjunction is NECESSARY, never sufficient (windows can
    * match discontiguously), and the verify pass is exact — so the
    * prefilter only ever changes cost.
    */
  private def trigramRows(alternatives: Seq[Seq[String]], corpus: DataFrame,
      idCol: String, verified: Column,
      pushdownLimit: Int = Searcher.PushdownLimit): DataFrame = {
    require(manifest.tokenizer.startsWith("trigram"),
      s"substring search needs a trigram-analyzed index; this one is " +
        s"'${manifest.tokenizer}' (IndexOptions.analyzer = \"trigram\")")
    val windows = alternatives.map(_.map(l =>
      graft.text.Trigram.gramsScala(l).toIndexedSeq.distinct).filter(_.nonEmpty))
    if (windows.exists(_.isEmpty)) return corpus.where(verified)
    val stats = termStats(windows.flatten.flatten.distinct)
    val plans: Array[Array[String]] = windows
      .filter(_.forall(_.forall(stats.contains)))
      .map(_.flatMap(gs => gs.sortBy(g => stats(g).df).take(Searcher.PlanTerms))
        .distinct.toArray)
      .toArray
    if (plans.isEmpty) return corpus.where(lit(false))
    val candidates = perSegment(postings(plans.flatten.distinct.toIndexedSeq)) { byTerm =>
      val decoded = scala.collection.mutable.HashMap.empty[String, Array[Long]]
      def docsOf(t: String): Array[Long] =
        decoded.getOrElseUpdate(t, Searcher.mergeRunDocs(byTerm(t)))
      val seen = new java.util.HashSet[java.lang.Long]()
      plans.iterator.filter(_.forall(byTerm.contains))
        .flatMap(g => Searcher.intersect(g.map(docsOf)))
        .filter(d => seen.add(d))
    }.toDF("docId")
    verifiedRows(candidates, corpus, idCol, verified, pushdownLimit)
  }

  /** Candidate docIds -> verified corpus rows. Small candidate sets (the
    * normal case; a [[boundedCollect]]) collapse to ZERO joins: the docId
    * set pushes into the docmeta scan (row-group skipping) and the
    * recovered key set into the corpus scan as an `In` filter. Oversized
    * sets degrade to one left-semi join against the corpus. `verified`
    * re-checks the match on source text, so the prefilter only ever
    * changes cost, never the result.
    */
  private def verifiedRows(cand: DataFrame, corpus: DataFrame, idCol: String,
      verified: Column, pushdownLimit: Int): DataFrame = {
    val idType = corpus.schema(idCol).dataType
    boundedCollect("Searcher.substringCandidates", cand, pushdownLimit) match {
      case Some(rows) if rows.isEmpty => corpus.where(lit(false))
      case Some(rows) =>
        val keys = named("Searcher.substringKeys")(docMeta
          .where(col("docId").isin(rows.map(_.getLong(0)).toIndexedSeq: _*))
          .select("key").as[String].collect())
        // literals are parsed to the id column's OWN type: an In over
        // cast(idCol AS string) does NOT reach the parquet scan (the cast
        // blocks translation to a data-source filter — PlanSpec caught
        // exactly that plan), while a typed In pushes as In(idCol, ...)
        val inPred = idType match {
          case LongType => col(idCol).isin(keys.map(_.toLong).toIndexedSeq: _*)
          case IntegerType => col(idCol).isin(keys.map(_.toInt).toIndexedSeq: _*)
          case StringType => col(idCol).isin(keys.toIndexedSeq: _*)
          case _ => col(idCol).cast("string").isin(keys.toIndexedSeq: _*)
        }
        corpus.where(inPred && verified)
      case None =>
        // candidate set too large to collect: one semi-join, then verify.
        // The cast lands on the candidate (small) side so the corpus join
        // key stays the raw column.
        val keyed = docMeta.select(col("docId").as("__cid"), col("key"))
          .join(cand, col("__cid") === cand("docId"), "left_semi")
          .select(col("key").cast(idType).as("__key"))
        corpus.join(keyed, corpus(idCol) === keyed("__key"), "left_semi")
          .where(verified)
    }
  }

  /** Union of all docIds under a multi-term dictionary predicate. DocIds
    * are deduped per segment in a hash set (a doc can match several
    * expanded terms); segments own disjoint docId ranges, so the results
    * union withOUT a global distinct shuffle.
    */
  private def expandedUnion(termPred: Column): DataFrame =
    perSegment(postingsWhere(termPred)) { byTerm =>
      val seen = new java.util.HashSet[java.lang.Long]()
      byTerm.valuesIterator.flatten.flatMap(Searcher.runDocs).filter(d => seen.add(d))
    }.toDF("docId")

  /** Prefix term suggestion ("did you mean" / search-box completion): the
    * top `n` dictionary terms starting with `p`, ranked by corpus document
    * frequency (ties by term asc). Pure stats-column aggregation — segments
    * own disjoint docId ranges, so summing the per-segment `df` counters IS
    * the corpus df (no count-distinct over postings), and the posting blobs
    * are never read: Catalyst prunes `blocks` from the scan (PlanSpec
    * asserts ReadSchema), the same eager-meta/lazy-postings split as the
    * reference's header-only dictionary walk
    * (/root/reference/src/storage/block.rs:62-84, :389-405). Top-n is a
    * TakeOrdered, never a global sort of the dictionary.
    */
  def suggest(p: String, n: Int): DataFrame = {
    require(p.nonEmpty, "empty prefix")
    require(n > 0, "n must be positive")
    postingsWhere(col("term").startsWith(p))
      .groupBy(col("term"))
      .agg(sum(col("df")).cast("long").as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(n)
  }

  /** Proximity query: docs where `a` and `b` occur within `k` token
    * positions of each other (`ordered` = `a` must come first). k = 1
    * ordered is exactly [[phrase]] adjacency. Same per-segment shape as
    * phrase — intersect the two doc lists, then a two-pointer min-gap walk
    * over the sorted position arrays ([[Searcher.withinGap]], O(|pa|+|pb|)
    * per candidate doc, no materialized position cross product).
    */
  def near(a: String, b: String, k: Int, ordered: Boolean = false): DataFrame = {
    require(manifest.withPositions, "index built without positions")
    require(k >= 1, "k must be >= 1")
    require(a != b, "near() terms must differ")
    perSegment(postings(Seq(a, b))) { byTerm =>
      if (byTerm.size < 2) Iterator.empty
      else {
        val da = Searcher.mergeRunFull(byTerm(a))
        val db = Searcher.mergeRunFull(byTerm(b))
        Searcher.intersect(Array(da._1, db._1)).iterator.filter { d =>
          val pa = da._3(java.util.Arrays.binarySearch(da._1, d))
          val pb = db._3(java.util.Arrays.binarySearch(db._1, d))
          Searcher.withinGap(pa, pb, k, ordered)
        }
      }
    }.toDF("docId")
  }

  /** Faceted search: for the result set of a conjunctive base query, count
    * how many matched docs contain each co-occurring term (base terms
    * excluded) and return the top `n` by (count desc, term asc).
    *
    * Scale shape: the index is inverted back to (docId, term) pairs in ONE
    * scan — the base-term exclusion is pushed into that scan's dictionary
    * predicate — and the matched-doc set (a conjunctive result, small by
    * construction) joins in broadcast by default (`broadcastMatched=false`
    * falls back to a shuffle join for pathological huge result sets). A
    * (term, doc) pair exists at most once across segments, so `count(*)`
    * IS the distinct-doc count — no count-distinct shuffle — and the final
    * selection is a TakeOrdered, never a global sort.
    */
  def facets(baseTerms: Seq[String], n: Int,
      broadcastMatched: Boolean = true): DataFrame = {
    require(baseTerms.nonEmpty, "facets needs a base query")
    require(n > 0, "n must be positive")
    val matchedRaw = and(baseTerms).select(col("docId"))
    val matched = if (broadcastMatched) broadcast(matchedRaw) else matchedRaw
    val inverted = segments
      .where(!col("term").isin(baseTerms: _*))
      .select("term", "wave", "segId", "df", "tf", "maxTf", "blocks")
      .as[SegmentPosting]
      .flatMap(sp => Searcher.runDocs(sp).map(d => (d, sp.term)))
      .toDF("docId", "term")
    inverted.join(matched, Seq("docId"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(n)
  }

  /** Execute a boolean query string (grammar: [[graft.query.QueryParser]] —
    * AND/OR/NOT, parens, implicit AND, `"quoted phrases"`, `prefix*`).
    *
    * Plan: every distinct plain-term leaf resolves from ONE postings scan
    * (term -> leafIds map captured in the closure); each prefix/phrase leaf
    * contributes its own docId set with its leaf id attached. The union
    * groups by docId into a matched-leaf-id set and the parsed tree becomes
    * a single codegen'd `array_contains` predicate — one shuffle total
    * (candidate-set sized), regardless of operator count, instead of a
    * join/anti-join per boolean node. Queries satisfiable by a document
    * containing none of the leaves (pure negation, `a OR NOT b`) are
    * rejected: they select the unbounded complement of the corpus.
    */
  def query(q: String): DataFrame = {
    import graft.query.QueryParser
    // the parser normalizes bare words through the WORD tokenizer, so on a
    // trigram-analyzed index every leaf would miss its (3-char) dictionary
    // and the query would silently return empty — fail loudly instead
    // (substring/substringAny/substringOrdered are the trigram query API)
    require(!manifest.tokenizer.startsWith("trigram"),
      "boolean word queries need a word-analyzed index; this one is " +
        s"'${manifest.tokenizer}' — use substring/substringAny/" +
        "substringOrdered for trigram indexes")
    val ast = QueryParser.parse(q)
    if (QueryParser.matchesEmptyDoc(ast))
      throw QueryParser.ParseException(
        s"query '$q' matches documents containing none of its terms " +
          "(unbounded complement) — add at least one required positive clause")
    val ls = QueryParser.leaves(ast)
    val leafId: Map[QueryParser.Leaf, Int] = ls.zipWithIndex.toMap
    val termIds: Map[String, Seq[Int]] = ls.collect {
      case l @ QueryParser.TermLeaf(t) => t -> leafId(l)
    }.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2) }
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    if (termIds.nonEmpty) {
      val tm = termIds // serializable capture (not the Searcher)
      parts += postings(termIds.keys.toSeq).flatMap { sp =>
        val ids = tm(sp.term)
        Searcher.runDocs(sp).flatMap(d => ids.iterator.map(id => (d, id)))
      }.toDF("docId", "leaf")
    }
    ls.foreach {
      case l @ QueryParser.PrefixLeaf(p) =>
        parts += prefix(p).withColumn("leaf", lit(leafId(l)))
      case l @ QueryParser.PhraseLeaf(ts) =>
        parts += phrase(ts).withColumn("leaf", lit(leafId(l)))
      case _ => ()
    }
    parts.reduce(_ unionByName _)
      .groupBy(col("docId"))
      .agg(collect_set(col("leaf")).as("leaves"))
      .where(QueryParser.toColumn(ast, leafId, col("leaves")))
      .select("docId")
  }

  /** "More like this" (relevance feedback): the top-k docs by BM25 over a
    * seed document's representative terms, the seed itself excluded.
    * Callers derive `seedTerms` from the seed doc (top-n terms by tf, ties
    * by term asc — a one-row point lookup, not a corpus op); the search
    * itself is the block-max WAND [[bm25]] path with k+1 fetched so the
    * exclusion can never shrink the result below k.
    */
  def moreLikeThis(seedTerms: Seq[String], excludeDocId: Long, k: Int,
      params: Bm25Params = Bm25Params()): DataFrame = {
    require(k > 0, "k must be positive")
    bm25(seedTerms, k + 1, params)
      .where(col("docId") =!= excludeDocId)
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }

  /** BM25 top-k with per-segment block-max WAND pruning and a global
    * (score desc, docId asc) selection. Returns (docId, score) with exact
    * double scores. Each segment keeps its exact top k under the same
    * order, so their union holds the global top k.
    */
  def bm25(terms: Seq[String], k: Int, params: Bm25Params = Bm25Params()): DataFrame = {
    require(k > 0, "k must be positive")
    val qTerms = terms.distinct.toArray
    val stats = termStats(qTerms.toSeq)
    val present = qTerms.filter(stats.contains)
    if (present.isEmpty)
      return emptyDocIds.withColumn("score", lit(0.0)).limit(0)
    val nDocs = manifest.totalDocs
    val avgdl = manifest.avgdl
    val idf: Map[String, Double] = present.map { t =>
      val df = stats(t).df
      t -> math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
    }.toMap
    val p = params
    val presentSeq = present.toSeq
    // Norms pruning: a tail-term query touches few segments, but the naive
    // cogroup would shuffle the ENTIRE norms table (at 10^12 docs that is
    // the whole corpus's docLen sidecar — a per-query full-corpus shuffle).
    // When term stats say the match set is small, collect the touched
    // (wave, segId) keys first and push a segId filter into the norms scan
    // (norms files are segId-ordered -> row-group skipping). Head-term
    // queries fall back to the full scan, which they genuinely need.
    val expectedDocs = present.map(t => stats(t).df).sum
    val touched =
      if (expectedDocs / math.max(1, manifest.docsPerSegment) >= Searcher.PushdownLimit) None
      else touchedMemo.get(presentSeq.sorted, ()) {
        // memoized per term set: index metadata like termStats — the
        // rounded-tie widening loop (and q24/q46 re-running a q06-shaped
        // search) re-collected the same touched-segment set per fetch
        boundedCollect("Searcher.touchedSegments",
          postings(presentSeq).select("wave", "segId").distinct()).map(rows =>
          (rows.map(_.getInt(0)).distinct, rows.map(_.getLong(1)).distinct))
      }
    val prunedNorms = touched.fold(norms) { case (touchedWaves, segIds) =>
      normsIn(touchedWaves.toSeq.intersect(waves))
        .where(col("segId").isin(segIds.toSeq: _*))
    }
    val scored = postings(presentSeq)
      .groupByKey(Searcher.segmentOf)
      .cogroup(prunedNorms.groupByKey(nr => (nr.wave, nr.segId))) {
        (_: (Int, Long), ps: Iterator[SegmentPosting], ns: Iterator[SegmentNorms]) =>
          val normRows = ns.toArray
          if (normRows.isEmpty) Iterator.empty
          else Searcher.wandSegment(ps.toArray, normRows, idf, avgdl, p, k)
      }
    scored.toDF("docId", "score")
      .orderBy(col("score").desc, col("docId"))
      .limit(k)
  }
}

object Searcher {
  /** Rows a Searcher collects to the driver to push a set into a scan
    * (segIds, docIds, candidate keys); a wider set takes the fallback plan.
    */
  val PushdownLimit = 4096

  /** Trigram windows each literal contributes to a substring plan: its
    * rarest by df. More only add posting fetch for a smaller candidate set.
    */
  val PlanTerms = 4

  /** The segment a posting run belongs to — the per-segment kernel's key. */
  private val segmentOf: SegmentPosting => (Int, Long) = sp => (sp.wave, sp.segId)

  private val opened =
    new MetaCache[(SparkSession, String), (Long, Long, String), Searcher]

  /** The memoized Searcher over `dir` for this session: a fresh one per
    * query pays a manifest read plus term-stats jobs the last query already
    * ran. Stamped by `ManifestIO.stamp`, so the next open after an append
    * or compaction sees it; keyed by session, since a Searcher on a stopped
    * session holds DataFrames over a dead SparkContext.
    */
  def open(spark: SparkSession, dir: String): Searcher =
    opened.get((spark, dir), ManifestIO.stamp(dir)) {
      // a stopped session would pin its Searchers (and SparkContext) until
      // evicted; sweeping on a miss keeps hits a single lookup
      opened.removeWhere((k, _) => k._1.sparkContext.isStopped)
      new Searcher(spark, dir)
    }

  /** Release the memoized Searchers over `dirs`, in every session. */
  private[index] def release(dirs: Set[String]): Unit =
    opened.removeWhere((k, _) => dirs.contains(k._2))

  /** Exact BM25 scorings performed by wandSegment in this JVM — a pruning
    * diagnostic (BenchExtra prints its per-query delta to quantify how much
    * work the block-max bounds skip). Meaningful in local mode only: on a real
    * cluster each executor JVM owns its own counter and nothing collects
    * them (deliberately — a per-doc accumulator would tax the hot loop).
    */
  val scoredCount = new java.util.concurrent.atomic.LongAdder()

  /** The blocks of one (term, segId) run split across waves, concatenated
    * in wave order: higher wave => higher docIds (the reference's rebase
    * invariant, block.rs:196-204), so the result ascends without a sort.
    */
  def runBlocks(rs: Seq[SegmentPosting]): Seq[PBlock] = rs.sortBy(_.wave).flatMap(_.blocks)

  /** The docIds of one wave's run, block by block. */
  def runDocs(sp: SegmentPosting): Iterator[Long] =
    sp.blocks.iterator.flatMap(b => PostingCodec.decodeDocsTfs(b)._1)

  /** The docIds of a (term, segId) run across waves ([[runBlocks]]). */
  def mergeRunDocs(rs: Seq[SegmentPosting]): Array[Long] =
    Array.concat(runBlocks(rs).map(b => PostingCodec.decodeDocsTfs(b)._1): _*)

  /** Full decode of a (term, segId) run: (docIds, tfs, positions). */
  def mergeRunFull(rs: Seq[SegmentPosting]): (Array[Long], Array[Int], Array[Array[Int]]) = {
    val d = PostingCodec.decodeRun(runBlocks(rs))
    (d.docIds, d.tfs, d.positions)
  }

  /** Min-gap existence test over two SORTED position arrays.
    * ordered: some pb(j) - pa(i) in [1, k]; unordered: some |pa(i) - pb(j)|
    * <= k. Two-pointer merge walk, O(|pa| + |pb|), no pair materialization.
    */
  def withinGap(pa: Array[Int], pb: Array[Int], k: Int, ordered: Boolean): Boolean = {
    var i = 0
    var j = 0
    while (i < pa.length && j < pb.length) {
      val d = pb(j) - pa(i)
      if (ordered) {
        if (d >= 1 && d <= k) return true
        if (d < 1) j += 1 else i += 1
      } else {
        if (math.abs(d) <= k) return true
        if (d > 0) i += 1 else j += 1
      }
    }
    false
  }

  /** K-way sorted intersection with galloping advance on the smallest list. */
  def intersect(lists: Array[Array[Long]]): Array[Long] = {
    if (lists.isEmpty) return Array.empty
    if (lists.exists(_.isEmpty)) return Array.empty
    val sorted = lists.sortBy(_.length)
    var result = sorted(0)
    var i = 1
    while (i < sorted.length && result.nonEmpty) {
      result = intersect2(result, sorted(i))
      i += 1
    }
    result
  }

  private def gallop(a: Array[Long], from: Int, target: Long): Int = {
    // first index >= target, starting search at `from`
    var lo = from
    var step = 1
    while (lo + step < a.length && a(lo + step) < target) { lo += step; step <<= 1 }
    var hi = math.min(lo + step, a.length)
    // binary search in (lo, hi]
    var l = lo
    var h = hi
    while (l < h) {
      val m = (l + h) >>> 1
      if (a(m) < target) l = m + 1 else h = m
    }
    l
  }

  private def intersect2(small: Array[Long], large: Array[Long]): Array[Long] = {
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    out.sizeHint(small.length)
    var i = 0
    var j = 0
    while (i < small.length && j < large.length) {
      val v = small(i)
      j = gallop(large, j, v)
      if (j < large.length && large(j) == v) { out += v; j += 1 }
      i += 1
    }
    out.result()
  }

  /** Per-term cursor over the compressed blocks of one segment run, with
    * block-level skipping on `maxDocId` (≙ BlockHeader per-tag offsets,
    * /root/reference/src/storage/block.rs:27-37: seek without full decode).
    *
    * Upper bounds use each block's (maxTf, minDl) metadata: BM25 rises in
    * tf and falls in dl, so `ub(maxTf, minDl)` dominates every score in the
    * block; minDl = 0 (unknown, e.g. compaction-repacked blocks) degrades
    * to the dl-free bound, which round 2 used everywhere.
    */
  private final class TermCursor(blocks: Array[PBlock], val idf: Double,
      k1: Double, b: Double, avgdl: Double) {
    private val adl = if (avgdl > 0) avgdl else 1.0
    @inline private def ub(maxTf: Int, minDl: Int): Double = {
      val m = maxTf.toDouble
      idf * (m * (k1 + 1.0)) / (m + k1 * (1.0 - b + b * (minDl / adl)))
    }
    val maxScore: Double = {
      var s = 0.0
      blocks.foreach { bl =>
        val u = ub(bl.maxTf, bl.minDl)
        if (u > s) s = u
      }
      s
    }
    private var bi = 0 // current block
    private var docs: Array[Long] = _
    private var tfs: Array[Int] = _
    private var pi = 0
    private var exhaustedFlag = blocks.isEmpty
    if (!exhaustedFlag) loadBlock()

    private def loadBlock(): Unit = {
      val (d, t) = PostingCodec.decodeDocsTfs(blocks(bi))
      docs = d; tfs = t; pi = 0
    }
    def exhausted: Boolean = exhaustedFlag
    def docId: Long = docs(pi)
    def tf: Int = tfs(pi)
    /** Upper-bound score of the current block. */
    def blockMaxScore: Double = ub(blocks(bi).maxTf, blocks(bi).minDl)
    def next(): Unit = {
      pi += 1
      if (pi >= docs.length) {
        bi += 1
        if (bi >= blocks.length) exhaustedFlag = true else loadBlock()
      }
    }
    def advanceTo(target: Long): Unit = {
      if (exhaustedFlag) return
      if (blocks(bi).maxDocId < target) {
        // skip whole blocks via block-max docId metadata — no decode
        var nb = bi + 1
        while (nb < blocks.length && blocks(nb).maxDocId < target) nb += 1
        if (nb >= blocks.length) { exhaustedFlag = true; return }
        bi = nb; loadBlock()
      }
      var l = pi
      var h = docs.length
      while (l < h) {
        val m = (l + h) >>> 1
        if (docs(m) < target) l = m + 1 else h = m
      }
      pi = l
      if (pi >= docs.length) { exhaustedFlag = true } // cannot happen: maxDocId >= target
    }
  }

  /** Block-max WAND over one segment: exact BM25 for surviving docs, top-k
    * heap with (score asc, docId desc) eviction so the kept set matches the
    * oracle's (score desc, docId asc) ordering. Docs arrive in ascending
    * docId order, so one that only ties θ loses the tie-break to every kept
    * doc: the strict `> theta` tests below prune nothing of the exact top k.
    */
  def wandSegment(ps: Array[SegmentPosting], normRows: Array[SegmentNorms],
      idf: Map[String, Double], avgdl: Double, p: Bm25Params,
      k: Int): Iterator[(Long, Double)] = {
    if (ps.isEmpty) return Iterator.empty
    val (normDocs, dls) = decodeNorms(normRows)
    val cursors = ps.groupBy(_.term).valuesIterator.map { rs =>
      new TermCursor(runBlocks(rs.toSeq).toArray, idf(rs.head.term),
        p.k1, p.b, avgdl)
    }.toArray

    // top-k min-heap ordered by (score asc, docId desc): root = weakest kept
    val heap = new java.util.PriorityQueue[(Long, Double)](k,
      (a: (Long, Double), b: (Long, Double)) =>
        if (a._2 != b._2) java.lang.Double.compare(a._2, b._2)
        else java.lang.Long.compare(b._1, a._1))

    def theta: Double = if (heap.size() < k) -1.0 else heap.peek()._2

    val active = scala.collection.mutable.ArrayBuffer.from(cursors.iterator.filter(!_.exhausted))
    while (active.nonEmpty) {
      // WAND pivot: sort active by current docId, accumulate maxScore
      val sortedCur = active.sortBy(_.docId)
      var acc = 0.0
      var pivotIdx = -1
      var i = 0
      while (pivotIdx < 0 && i < sortedCur.length) {
        acc += sortedCur(i).maxScore
        if (acc > theta) pivotIdx = i
        i += 1
      }
      if (pivotIdx < 0) {
        active.clear() // no doc can beat theta
      } else {
        val pivotDoc = sortedCur(pivotIdx).docId
        if (sortedCur(0).docId == pivotDoc) {
          // block-max refinement: sum block upper bounds of every cursor
          // positioned at docId <= pivotDoc (includes post-pivot cursors that
          // happen to sit exactly on the pivot doc — dropping them would
          // under-bound and could prune a true top-k doc)
          var bacc = 0.0
          var j = 0
          while (j < sortedCur.length && sortedCur(j).docId <= pivotDoc) {
            bacc += sortedCur(j).blockMaxScore; j += 1
          }
          if (bacc > theta) {
            // score pivotDoc exactly
            scoredCount.increment()
            val dlIdx = java.util.Arrays.binarySearch(normDocs, pivotDoc)
            val dl = if (dlIdx >= 0) dls(dlIdx).toDouble else 0.0
            var s = 0.0
            var m = 0
            while (m < sortedCur.length && !sortedCur(m).exhausted && sortedCur(m).docId == pivotDoc) {
              val c = sortedCur(m)
              val tf = c.tf.toDouble
              s += c.idf * (tf * (p.k1 + 1.0)) /
                (tf + p.k1 * (1.0 - p.b + p.b * dl / avgdl))
              c.next()
              m += 1
            }
            if (heap.size() < k) heap.add((pivotDoc, s))
            else if (s > heap.peek()._2 ||
                (s == heap.peek()._2 && pivotDoc < heap.peek()._1)) {
              heap.poll(); heap.add((pivotDoc, s))
            }
          } else {
            // advance cursors at pivotDoc past it
            var m = 0
            while (m < sortedCur.length && !sortedCur(m).exhausted && sortedCur(m).docId == pivotDoc) {
              sortedCur(m).next(); m += 1
            }
          }
        } else {
          // advance all pre-pivot cursors to the pivot doc
          var m = 0
          while (m < pivotIdx) { sortedCur(m).advanceTo(pivotDoc); m += 1 }
        }
        active.filterInPlace(!_.exhausted)
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Double)](heap.size())
    while (!heap.isEmpty) out += heap.poll()
    out.iterator
  }

  /** (docIds, dls) of one segment's norms rows, concatenated in wave (=
    * docId) order.
    */
  def decodeNorms(rows: Array[SegmentNorms]): (Array[Long], Array[Int]) = {
    val sorted = rows.sortBy(_.wave)
    val total = sorted.map(_.n).sum
    val docs = new Array[Long](total)
    val dls = new Array[Int](total)
    var off = 0
    sorted.foreach { nr =>
      NormsCodec.decode(nr.docBytes, nr.dlBytes, nr.n, docs, dls, off)
      off += nr.n
    }
    (docs, dls)
  }
}
