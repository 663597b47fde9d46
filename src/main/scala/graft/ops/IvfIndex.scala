package graft.ops

import graft.functions.VectorFunctions.cosine_sim
import graft.index.ParamsIO
import graft.util.MetaCache
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) index for nearest-neighbor search — the
  * centroid-quantized counterpart of [[AnnIndex]]'s random-hyperplane LSH
  * layout (IVF-Flat: a k-means coarse quantizer routes each vector to its
  * nearest-centroid list; a query scans only the lists that can matter).
  *
  * Scale shape, mirroring [[AnnIndex]]:
  *
  *  - the list id is the PHYSICAL partition key of the parquet layout, so a
  *    query touches exactly its probed partitions — Spark partition pruning
  *    eliminates the rest of the corpus from the scan;
  *  - the centroid table is tiny (`nlist` rows) and lives next to the data
  *    as parquet; probe selection is a driver-side argmax over it — no
  *    per-query shuffle, no join;
  *  - an intra-list split key (`pmod(hash(id), splits)`) bounds writer/task
  *    skew for hot lists, exactly like AnnIndex's intra-bucket split;
  *  - unlike LSH (tables x replication), IVF stores each vector ONCE.
  *
  * Two query modes:
  *
  *  - [[topKApprox]] — classic fixed-`nprobe` IVF: probe the `nprobe`
  *    closest lists, exact cosine re-rank inside them. Recall depends on
  *    how cluster-aligned the corpus is.
  *  - [[topK]] — EXACT top-k with triangle-inequality pruning: the build
  *    stores each list's widest member angle as `min_cos(member, centroid)`,
  *    and for a query at angle theta_q to a centroid no member of that list
  *    can beat `cos(theta_q - theta_max)` (spherical triangle inequality:
  *    `theta(q,x) >= theta(q,c) - theta(c,x)`). The search probes a first
  *    batch of lists, then scans every remaining list whose bound reaches
  *    the running k-th cosine — after which the k-th can only rise, so no
  *    further list qualifies and the loop terminates in at most two probe
  *    rounds. Tightly clustered corpora prune to a handful of lists;
  *    diffuse corpora degrade gracefully toward a full scan but NEVER lose
  *    a true neighbor. The bound needs no acos/cos round-trip
  *    ([[listBound]]), so its only rounding is ~1-ulp double arithmetic,
  *    covered by a 1e-12 slack.
  *
  * Training is deterministic end-to-end (FIXTURES.md: no unseeded RNG):
  * centroids initialize from the `nlist` vectors with the smallest seeded
  * id hash (a deterministic pseudo-random sample, planned as TakeOrdered —
  * no full sort), then `iters` Lloyd rounds run as Spark jobs: broadcast
  * centroids -> per-row nearest-list assignment -> dim-wise mean per list
  * via `posexplode + groupBy(list, i).avg` (map-side combined; at most
  * `nlist x dim` rows ever reach the driver). At 100-TB corpus scale train
  * on a deterministic hash sample (`trainSampleMod` keeps one row in N —
  * k-means quality needs only a sample; assignment still sees every row).
  *
  * Assignment metric is COSINE (argmax over lists, ties to the lowest list
  * id), matching the query-time ranking: cosine is scale-invariant in the
  * centroid, so ranking against un-normalized dim-wise means equals ranking
  * against normalized ones.
  */
object IvfIndex {

  final case class Params(dim: Int, nlist: Int, seed: Long, iters: Int)

  /** One coarse list: centroid + the widest member angle's cosine
    * (`minCos = min over members of cos(member, centroid)`; 0.0 — i.e.
    * 90 degrees, the convention for zero vectors — when the list is empty).
    */
  final case class ListInfo(list: Int, centroid: Array[Float], minCos: Double)

  private def dataPath(dir: String) = s"$dir/vectors"
  private def centroidsPath(dir: String) = s"$dir/centroids"
  private def paramsPath(dir: String) = s"$dir/ivf_params.json"

  def readParams(spark: SparkSession, dir: String): Params = {
    val f = ParamsIO.read(spark, paramsPath(dir))
    Params(f("dim").toInt, f("nlist").toInt, f("seed"), f("iters").toInt)
  }

  private[graft] val listsCache = new MetaCache[String, String, Array[ListInfo]]

  /** (list asc) -> centroid + widest-member-angle cosine, from the
    * persisted sidecar. Memoized per dir, stamped by the sidecar's
    * [[MetaCache.pathSig]]: the sidecar is `nlist` rows of INDEX METADATA
    * (the quantizer), and every query against an unchanged index would
    * otherwise pay one Spark collect job just to re-read it. An append
    * rewrites the sidecar, changing the stamp, so staleness is impossible.
    */
  def readLists(spark: SparkSession, dir: String): Array[ListInfo] =
    listsCache.get(dir, MetaCache.pathSig(spark, centroidsPath(dir))) {
      spark.read.parquet(centroidsPath(dir))
        .orderBy("list")
        .collect()
        .map(r => ListInfo(r.getInt(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    }

  private[graft] def cosineTo(v: IndexedSeq[Float], c: Array[Float]): Double = {
    var dot = 0.0; var nv = 0.0; var nc = 0.0
    val n = math.min(v.length, c.length)
    var i = 0
    while (i < n) {
      val x = v(i).toDouble; val y = c(i).toDouble
      dot += x * y; nv += x * x; nc += y * y
      i += 1
    }
    if (nv == 0.0 || nc == 0.0) 0.0 else dot / (math.sqrt(nv) * math.sqrt(nc))
  }

  /** Nearest list by cosine; ties break to the lowest list id. */
  private[ops] def nearestList(v: IndexedSeq[Float],
      cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestCos = Double.NegativeInfinity
    var l = 0
    while (l < cents.length) {
      val c = cosineTo(v, cents(l))
      if (c > bestCos) { bestCos = c; best = l }
      l += 1
    }
    best
  }

  /** Upper bound on cos(q, x) for any x whose angle to the list centroid is
    * at most theta_max (given as `cm = cos(theta_max)`), when the query's
    * cosine to that centroid is `cq`: by the spherical triangle inequality
    * `theta(q,x) >= max(0, theta_q - theta_max)`, so the bound is
    * `cos(max(0, theta_q - theta_max))`. When `theta_q <= theta_max`
    * (i.e. `cq >= cm` — cos is decreasing on [0, pi]) a member may coincide
    * with the query and the bound is 1; otherwise `cos(theta_q - theta_max)`
    * expands to `cq*cm + sin(theta_q)*sin(theta_max)` with both sines the
    * non-negative roots. Pure double arithmetic (no acos), so the result is
    * within ~1 ulp of the real bound.
    */
  private[graft] def listBound(cq: Double, cm: Double): Double = {
    val a = math.max(-1.0, math.min(1.0, cq))
    val b = math.max(-1.0, math.min(1.0, cm))
    if (a >= b) 1.0
    else a * b + math.sqrt(math.max(0.0, (1.0 - a * a) * (1.0 - b * b)))
  }

  /** Deterministic k-means over (any idCol, vecCol ARRAY<FLOAT>). Returns
    * the `nlist` centroids, list id = array index. Lists that lose every
    * member in a round keep their previous centroid (no respawn — stable
    * ids are what the persisted layout needs).
    */
  def train(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nlist: Int, seed: Long = 42L, iters: Int = 5,
      trainSampleMod: Int = 1): Array[Array[Float]] = {
    require(nlist >= 1 && iters >= 0 && trainSampleMod >= 1)
    val base0 = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .where(size(col("vec")) === dim)
    val base = if (trainSampleMod == 1) base0
      else base0.where(pmod(xxhash64(lit(seed), col("id")), lit(trainSampleMod)) === 0)
    var cents = base.orderBy(xxhash64(lit(seed + 1), col("id")), col("id"))
      .limit(nlist)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    require(cents.nonEmpty, "IVF training set is empty")
    var it = 0
    while (it < iters) {
      val cs = cents // stable closure capture for this round
      val assign = udf { (v: Seq[Float]) => nearestList(v.toIndexedSeq, cs) }
      val means = base
        .select(assign(col("vec")).as("list"), posexplode(col("vec")).as(Seq("i", "v")))
        .groupBy(col("list"), col("i"))
        .agg(avg(col("v")).as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
      }
      cents = next
      it += 1
    }
    cents
  }

  /** (id, vec, list, ccos) with list = nearest centroid and ccos the
    * member<->centroid cosine — the assignment UDF emits both so the
    * per-list widest angle rides the same pass (one scan total).
    */
  private[ops] def assignFrame(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Float]]): DataFrame = {
    val assign = udf { (v: Seq[Float]) =>
      if (v == null) (0, 0.0)
      else {
        val iv = v.toIndexedSeq
        val l = nearestList(iv, cents)
        (l, cosineTo(iv, cents(l)))
      }
    }
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("vec"), assign(col(vecCol)).as("a"))
      .select(col("id"), col("vec"), col("a._1").as("list"), col("a._2").as("ccos"))
  }

  // co-locate each list before the partitioned write (else every input
  // split writes a file into every list dir); the intra-list split key
  // caps the other extreme — a hot list would funnel into one writer
  private def writeVectors(assigned: DataFrame, dir: String,
      splitsPerList: Int, mode: String): Unit =
    assigned
      .repartition(col("list"), pmod(hash(col("id")), lit(splitsPerList)))
      .write.mode(mode).partitionBy("list")
      .parquet(dataPath(dir))

  private def writeSidecar(spark: SparkSession,
      rows: Seq[(Int, Seq[Float], Double)], dir: String): Unit = {
    import spark.implicits._
    rows.toDF("list", "centroid", "min_cos")
      .coalesce(1)
      .write.mode("overwrite").parquet(centroidsPath(dir))
  }

  /** Build the index under `dir` from (idCol LONG, vecCol ARRAY<FLOAT>). */
  def build(df: DataFrame, idCol: String, vecCol: String, dir: String,
      dim: Int, nlist: Int = 16, seed: Long = 42L, iters: Int = 5,
      splitsPerList: Int = 4, trainSampleMod: Int = 1): Unit = {
    require(splitsPerList >= 1)
    val spark = df.sparkSession
    val cents = train(df, idCol, vecCol, dim, nlist, seed, iters, trainSampleMod)
    writeVectors(assignFrame(df, idCol, vecCol, cents), dir, splitsPerList,
      "overwrite")
    val minCos = spark.read.parquet(dataPath(dir))
      .groupBy(col("list")).agg(min(col("ccos")).as("min_cos"))
      .collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    writeSidecar(spark,
      cents.zipWithIndex
        .map { case (c, l) => (l, c.toSeq, minCos.getOrElse(l, 0.0)) }.toSeq,
      dir)
    ParamsIO.write(spark, paramsPath(dir), Params(dim, nlist, seed, iters))
  }

  /** Incrementally add vectors to an existing index: assign with the
    * PERSISTED quantizer (centroids never move — list ids stay stable, no
    * corpus rewrite) and append to the list partitions. The sidecar's
    * per-list widest angle folds in the batch minima BEFORE the data lands:
    * a crash in between leaves bounds that are merely looser than
    * necessary, never unsound (certified [[topK]] stays exact). The batch
    * is scanned twice (min-agg + write) — batch-sized work, the corpus is
    * never touched. Single-writer discipline, like [[AnnIndex]]: no
    * concurrent append/build against one `dir`.
    */
  def append(df: DataFrame, idCol: String, vecCol: String, dir: String,
      splitsPerList: Int = 4): Unit = {
    require(splitsPerList >= 1)
    val spark = df.sparkSession
    val lists = readLists(spark, dir)
    val assigned = assignFrame(df, idCol, vecCol, lists.map(_.centroid))
    val batchMin = assigned.groupBy(col("list"))
      .agg(min(col("ccos")).as("min_cos"))
      .collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    writeSidecar(spark,
      lists.map(li => (li.list, li.centroid.toSeq,
        math.min(li.minCos, batchMin.getOrElse(li.list, li.minCos)))).toSeq,
      dir)
    writeVectors(assigned, dir, splitsPerList, "append")
  }

  /** The `nprobe` list ids nearest to `queryVec` (cosine desc, list asc). */
  private[ops] def probeLists(queryVec: Array[Float],
      lists: Array[ListInfo], nprobe: Int): Seq[Int] = {
    val qv = queryVec.toIndexedSeq
    lists.indices
      .sortBy(l => (-cosineTo(qv, lists(l).centroid), l))
      .take(math.min(nprobe, lists.length))
      .map(lists(_).list)
  }

  /** Full (id, vec, list) scan of the index layout — the input to sidecar
    * builders like [[PqIndex.build]] that need the list partition key.
    */
  def vectors(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dataPath(dir))
      .select(col("id"), col("vec"), col("list"))

  /** Pruned scan of an explicit list set (partition pruning on `list`). */
  def candidatesFor(spark: SparkSession, dir: String,
      lists: Seq[Int]): DataFrame =
    spark.read.parquet(dataPath(dir))
      .where(col("list").isin(lists: _*))
      .select(col("id"), col("vec"))

  /** The fixed-`nprobe` candidate scan for `queryVec`: rows of the `nprobe`
    * closest list partitions only. Exposed separately so tests can assert
    * the partition pruning on the plan.
    */
  def candidates(spark: SparkSession, dir: String, queryVec: Array[Float],
      nprobe: Int = 4): DataFrame = {
    val lists = readLists(spark, dir)
    candidatesFor(spark, dir, probeLists(queryVec, lists, nprobe))
  }

  /** Classic approximate IVF top-k: exact cosine over the `nprobe` probed
    * lists. Recall depends on cluster alignment; use [[topK]] for the
    * certified-exact search.
    */
  def topKApprox(spark: SparkSession, dir: String, queryVec: Array[Float],
      k: Int, excludeId: Option[Long] = None, nprobe: Int = 4): DataFrame =
    rank(candidates(spark, dir, queryVec, nprobe), queryVec, k, excludeId)

  private def rank(cand: DataFrame, queryVec: Array[Float], k: Int,
      excludeId: Option[Long]): DataFrame = {
    val base = excludeId.foldLeft(cand)((d, e) => d.where(col("id") =!= e))
    base.select(col("id"), cosine_sim(col("vec"), typedLit(queryVec.toSeq)).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** EXACT cosine top-k with triangle-inequality pruning (object scaladoc).
    *
    * Round 1 probes the `nprobe0` closest lists (one partition-pruned
    * top-k job, k rows to the driver); round 2 scans every remaining list
    * whose [[listBound]] reaches the running k-th cosine minus a 1e-12
    * double-rounding slack — strictly fewer than k hits can only RAISE the
    * k-th, so after round 2 no unscanned list can qualify and the certified
    * set is closed. The returned frame re-ranks the certified set in one
    * partition-pruned TakeOrdered job (bounded driver fan-in: k rows per
    * round + nlist sidecar rows).
    */
  def topK(spark: SparkSession, dir: String, queryVec: Array[Float], k: Int,
      excludeId: Option[Long] = None, nprobe0: Int = 4): DataFrame = {
    val lists = readLists(spark, dir)
    val qv = queryVec.toIndexedSeq
    val cq = lists.map(li => cosineTo(qv, li.centroid))
    val first = probeLists(queryVec, lists, nprobe0).toSet
    val kth = {
      val rows = rank(candidatesFor(spark, dir, first.toSeq), queryVec, k,
        excludeId).select("cos").collect()
      // the k-th best of the probed set is its minimum (order-insensitive)
      if (rows.length < k) Double.NegativeInfinity
      else rows.map(_.getDouble(0)).min
    }
    val rest = lists.indices
      .filter(l => !first.contains(lists(l).list))
      .filter(l => listBound(cq(l), lists(l).minCos) >= kth - 1e-12)
      .map(lists(_).list)
    rank(candidatesFor(spark, dir, (first ++ rest).toSeq), queryVec, k, excludeId)
  }

  /** Certified-exact all-pairs near-duplicate search over the indexed
    * corpus: every pair (a, b), a < b, with `round(cos(a,b), 4) >=
    * threshold`, found WITHOUT labels or an all-pairs join — the IVF list
    * is the blocking key (the label-free scale path for
    * [[Similarity.cosinePairs]]' semantics).
    *
    * Certification reuses [[listBound]] in the replication direction: if
    * `theta(a,b) <= theta_t = arccos(t)`, then for b's home list L (with
    * widest member angle theta_max), `theta(a, c_L) <= theta_t +
    * theta_max` — equivalently `listBound(cos(a, c_L), minCos(L)) >= t`.
    * So each vector is REPLICATED to every list passing that test (its own
    * home list always does, bound = 1), and the join of home members x
    * replicas per list meets every qualifying pair. With the `a.id < b.id`
    * guard a pair is emitted exactly once: in the LOWER id's home list,
    * by the higher id's replica (the reverse orientation fails the guard,
    * and replica x replica meetings are never joined). `t` is set
    * `5e-5 + 1e-12` below `threshold` so pairs that ROUND up across the
    * threshold are still certified (HALF_UP: `round(x) >= thr` implies
    * `x >= thr - 5e-5`), with the usual double-rounding slack.
    *
    * Scale shape: one narrow replication pass against the driver-broadcast
    * sidecar (`nlist` rows), then a single shuffle join co-partitioned on
    * (list, salt). The salt spreads a hot list's home side over
    * `splitsPerList` tasks (replicas fan out to every salt — S-fold
    * replica duplication for an S-fold cut of the per-task quadratic
    * work), the same hot-key remedy as the simhash banded join. Tightly
    * clustered corpora replicate each vector to ~1 list; diffuse corpora
    * degrade toward cross-replication but NEVER miss a pair.
    */
  def pairs(spark: SparkSession, dir: String, threshold: Double,
      splitsPerList: Int = 4): DataFrame = {
    require(splitsPerList >= 1)
    val lists = readLists(spark, dir)
    val cents = lists.map(_.centroid)
    val minCs = lists.map(_.minCos)
    val listIds = lists.map(_.list)
    val t = threshold - 5e-5 - 1e-12
    val qualify = udf { (v: Seq[Float]) =>
      if (v == null) Seq.empty[Int]
      else {
        val iv = v.toIndexedSeq
        cents.indices
          .filter(l => listBound(cosineTo(iv, cents(l)), minCs(l)) >= t)
          .map(listIds(_))
      }
    }
    val data = spark.read.parquet(dataPath(dir))
      .select(col("id"), col("vec"), col("list"))
    val home = data
      .withColumn("g", pmod(hash(col("id")), lit(splitsPerList)))
    val reps = data
      .select(col("id").as("rid"), col("vec").as("rvec"),
        explode(qualify(col("vec"))).as("list"))
      .withColumn("g", explode(sequence(lit(0), lit(splitsPerList - 1))))
    home.join(reps, Seq("list", "g"))
      .where(col("id") < col("rid"))
      .select(col("id").as("a"), col("rid").as("b"),
        round(cosine_sim(col("vec"), col("rvec")), 4).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** The batched candidate join (scaladoc of [[topKBatch]], stage 2): a
    * partition-pruned scan of the probed lists' union joined to the probe
    * table on `list`. Factored out so tests can assert the plan under both
    * `broadcastProbes` settings.
    */
  private[graft] def batchCandidates(spark: SparkSession, dir: String,
      probes: DataFrame, broadcastProbes: Boolean,
      listsOf: Option[Seq[Int]] = None): DataFrame = {
    // bounded driver fan-in: at most nlist distinct list ids (callers that
    // built the probe table driver-side pass the set directly)
    val ls = listsOf.getOrElse(
      probes.select("list").distinct().collect().map(_.getInt(0)).toSeq)
    val probeSide = if (broadcastProbes) broadcast(probes) else probes
    spark.read.parquet(dataPath(dir))
      .where(col("list").isin(ls: _*)) // partition pruning, as candidatesFor
      .select(col("id"), col("vec"), col("list"))
      .join(probeSide, "list")
  }

  /** Certified-exact BATCHED top-k: one result set per row of `queries`
    * ((qidCol LONG, vecCol ARRAY<FLOAT>)), returned as (qid, id, cos) with
    * cos rounded to 4 decimals and ranked by (cos DESC, id ASC) — the
    * deterministic total order the SQL oracles use, so rounded ties at the
    * k-boundary resolve identically on both sides.
    *
    * Scale shape (the batch counterpart of [[topK]]'s driver-side loop):
    *
    *  - probe selection is ONE pass over the query table against the
    *    driver-broadcast list metadata (`nlist` rows): a UDF emits, per
    *    query, every list's [[listBound]] plus a top-`nprobe0` probe mark;
    *  - candidate generation is a partition-pruned scan of the UNION of
    *    probed lists, joined to the (qid, list, qvec) probe table on
    *    `list` — each index row is evaluated only for the queries that
    *    probe its list. `broadcastProbes = true` (the default) hints the
    *    probe side broadcast — right for interactive batches, where the
    *    probe table is (queries x probed lists) rows; pass `false` for
    *    oversized query batches and the same plan runs as a plain join on
    *    `list` (AQE picks the strategy from the real sizes), identical
    *    semantics — an explicit hint would force the broadcast regardless
    *    of size and OOM executors instead of degrading;
    *  - per-query selection runs through [[graft.functions.TopKBy]], a
    *    bounded-heap TypedImperativeAggregate that pre-reduces map-side to
    *    at most k rows per (partition, query) before the shuffle — no
    *    corpus-sized window sort;
    *  - certification mirrors [[topK]], in ROUNDED space: a list skipped in
    *    round 1 can hold a final top-k row of query q only if
    *    `listBound >= round1_kth_rounded(q) - 5e-5` (under HALF_UP,
    *    `round(x) >= t` implies `x >= t - 5e-5`), so round 2 re-ranks over
    *    exactly `probe1 ∪ {lists passing that bound}` and the set is closed
    *    (adding rows can only RAISE a query's k-th rounded score). Queries
    *    with fewer than k round-1 candidates get kth = -Inf, which forces
    *    their full list sweep — INCLUDING queries with ZERO round-1
    *    candidates (empty probed lists, or only the excluded self row):
    *    the round-1 aggregate has no group for those qids, so kth derives
    *    from a LEFT join of the aggregate onto the batch's distinct qids
    *    with missing kth coalesced to -Inf, exactly the contract the
    *    single-query [[topK]] honors (an inner join here silently dropped
    *    such queries from the output — round-6 fix, ADVICE item 1).
    *
    * The (batch x k)-sized result is materialized through the shared
    * staging root ([[graft.util.Staging]], reclaimed on the end-of-run
    * drain) so the probe/meta caches release immediately instead of living
    * for the consumer's lifetime. Null/malformed query vectors are dropped.
    */
  def topKBatch(spark: SparkSession, dir: String, queries: DataFrame,
      qidCol: String, vecCol: String, k: Int, excludeSelf: Boolean = true,
      nprobe0: Int = 4, broadcastProbes: Boolean = true): DataFrame = {
    val lists = readLists(spark, dir)
    val cents = lists.map(_.centroid)
    val minCs = lists.map(_.minCos)
    val listIds = lists.map(_.list)
    val np = math.min(nprobe0, lists.length)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def ranked(probes: DataFrame, ls: Option[Seq[Int]]): DataFrame = {
      val cand = batchCandidates(spark, dir, probes, broadcastProbes, ls)
      val base = if (excludeSelf) cand.where(col("id") =!= col("qid")) else cand
      base.select(col("qid"),
          round(cosine_sim(col("vec"), col("qvec")), 4).as("cos"), col("id"))
        .groupBy(col("qid"))
        .agg(graft.functions.TopKBy.topk_by(col("cos"), col("id"), k).as("tk"))
    }
    var cleanup: () => Unit = () => ()
    // Merging round 1 into the final selection is exact: probe1/probe2 list
    // sets are disjoint per qid and each vector lives in exactly one list,
    // so top-k over the union of candidates equals top-k over
    // (top-k(round1) ∪ top-k(round2)) under the same
    // (rounded cos DESC, id ASC) total order — round 1 is never re-scanned
    // (guide §1.2: don't recompute what you already have).
    val (r1, out) = if (broadcastProbes) {
      // Interactive-batch path: the probe table broadcasts anyway, i.e. the
      // batch is ASSUMED to fit one machine's memory — so probe selection
      // and certification run driver-side over the collected batch (§5:
      // bounded driver work replacing 3 Spark jobs: the meta-UDF pass, the
      // distinct-qid/kth join, and the probe-table persists).
      val qrows = queries
        .select(col(qidCol).cast("long").as("qid"), col(vecCol).as("qvec"))
        .where(col("qvec").isNotNull)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val metaByQ = qrows.map { case (qid, qv) =>
        val iv = qv.toIndexedSeq
        val cq = Array.tabulate(cents.length)(l => cosineTo(iv, cents(l)))
        val p1 = cq.indices.sortBy(l => (-cq(l), l)).take(np).toSet
        (qid, qv, cq, p1)
      }
      import spark.implicits._
      val probe1Rows = metaByQ.flatMap { case (qid, qv, _, p1) =>
        p1.toSeq.sorted.map(l => (qid, qv, listIds(l)))
      }.toSeq
      val probe1 = probe1Rows.toDF("qid", "qvec", "list")
      val r1 = ranked(probe1,
        Some(probe1Rows.map(_._3).distinct)).persist(lvl)
      // kth per query from the collected round-1 aggregate ((batch x k)
      // rows — the same driver envelope as the batch itself); queries with
      // NO round-1 group (zero candidates) default to -Inf and sweep all
      // lists, as the single-query topK does (round-6 fix, ADVICE item 1)
      val kth: Map[Long, Double] = r1.select(col("qid"),
          when(size(col("tk")) < k, lit(Double.NegativeInfinity))
            .otherwise(element_at(col("tk"), k).getField("score")).as("kth"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val probe2Rows = metaByQ.flatMap { case (qid, qv, cq, p1) =>
        val t = kth.getOrElse(qid, Double.NegativeInfinity) - 5e-5 - 1e-12
        cq.indices.filter(l => !p1.contains(l))
          .filter(l => listBound(cq(l), minCs(l)) >= t)
          .map(l => (qid, qv, listIds(l)))
      }.toSeq
      val probe2 = probe2Rows.toDF("qid", "qvec", "list")
      val r2 = ranked(probe2, Some(probe2Rows.map(_._3).distinct))
      (r1, r1.union(r2))
    } else {
      // Oversized-batch path: everything distributed, plain joins AQE can
      // plan from real sizes (scaladoc) — the original shape.
      val meta = udf { (v: Seq[Float]) =>
        if (v == null) Seq.empty[(Int, Double, Boolean)]
        else {
          val iv = v.toIndexedSeq
          val cq = Array.tabulate(cents.length)(l => cosineTo(iv, cents(l)))
          val p1 = cq.indices.sortBy(l => (-cq(l), l)).take(np).toSet
          cq.indices.map(l =>
            (listIds(l), listBound(cq(l), minCs(l)), p1.contains(l)))
        }
      }
      val qmeta = queries
        .select(col(qidCol).cast("long").as("qid"), col(vecCol).as("qvec"))
        .select(col("qid"), col("qvec"), explode(meta(col("qvec"))).as("m"))
        .select(col("qid"), col("qvec"), col("m._1").as("list"),
          col("m._2").as("bound"), col("m._3").as("p1"))
        .persist(lvl)
      val probe1 = qmeta.where(col("p1")).select("qid", "qvec", "list")
      val r1 = ranked(probe1, None).persist(lvl)
      // LEFT join onto the batch's distinct qids: a query with zero round-1
      // candidates has no aggregate group, and must sweep all lists
      // (kth = -Inf), not vanish from the output (ADVICE item 1)
      val kth1 = qmeta.select("qid").distinct()
        .join(r1
            .select(col("qid"),
              when(size(col("tk")) < k, lit(Double.NegativeInfinity))
                .otherwise(element_at(col("tk"), k).getField("score")).as("kth")),
          Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("kth"), lit(Double.NegativeInfinity)).as("kth"))
        .persist(lvl)
      val probe2 = qmeta.where(!col("p1"))
        .join(kth1, Seq("qid"))
        .where(col("bound") >= col("kth") - lit(5e-5) - lit(1e-12))
        .select("qid", "qvec", "list")
      // qmeta/kth1 release after the final write below
      cleanup = () => { qmeta.unpersist(); kth1.unpersist() }
      (r1, r1.union(ranked(probe2, None)))
    }
    val out2 = out
      .select(col("qid"), explode(col("tk")).as("e"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKBy.topk_by(
        col("e.score"), col("e.id"), k).as("tk"))
      .select(col("qid"), explode(col("tk")).as("e"))
      .select(col("qid"), col("e.id").as("id"), col("e.score").as("cos"))
    graft.util.Staging.scoped(spark) { st =>
      val tmp = st.result("ivf-batch")
      out2.write.mode("overwrite").parquet(tmp)
      r1.unpersist()
      cleanup()
      spark.read.parquet(tmp)
    }
  }
}
