package perfbench

import graft.index.{Compactor, IndexBuilder, Searcher}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The graft benchmark: one JVM, `local[nproc]`, one client thread in a
  * closed loop (each operation starts after the previous one returned).
  *
  * Every run ingests a generated corpus the way a crawl would: an untimed
  * warm-up build and append of a small slice, a timed bulk build of its
  * first 60%, then two append waves and a tiered compaction back to one
  * wave. It then warms
  * up and times queries for the window (`setup_s` is everything from JVM
  * start to the window's first query):
  *  - `search_hot`: queries drawn with replacement from a small pool of
  *    Zipf-popular term sets, so after warm-up every term-stats and
  *    touched-segment lookup hits the searcher's memo;
  *  - `search_live`: every term set is new and terms span the whole
  *    vocabulary, rare ones included; a small append wave is committed
  *    (and the searcher reopened) at fixed times, so reads share the box
  *    with writes and the visible wave count grows.
  *
  * Every query result is checked against [[Oracle]] after the window. The
  * last stdout line is the result JSON; the exit code is nonzero on any
  * wrong or failed operation.
  */
object Main {
  val Workloads = Seq("search_hot", "search_live")
  /** Docs committed before the window: 60% bulk-built, 40% appended. */
  val Docs = 16000
  /** Docs of the untimed warm-up build and of the append onto it, which pay
    * the cold JVM's class loading and code generation so the timed bulk
    * build and appends run warm.
    */
  val WarmBuildDocs = 1000
  val WarmAppendDocs = 200
  val Vocab = 50000
  val ZipfS = 1.0
  val TopK = 10
  /** Ranks below this are stopword-like and excluded from query terms. */
  val HeadRanks = 10
  /** search_live: docs per live wave, and seconds between waves. */
  val LiveWave = 500
  val LiveEverySec = 7.0
  /** search_live warm-up queries, two of each kind: its terms never repeat,
    * so warm-up fills no memo and only settles the JIT (search_hot instead
    * runs its whole pool twice).
    */
  val WarmQueries = 8
  val QueryKinds = Seq("bm25", "and", "or", "phrase")

  final case class Q(kind: String, terms: Seq[Int])
  /** One timed query: its answer, and how many docs were committed when it ran. */
  final case class Done(q: Q, limit: Int, ms: Double, answer: Any)

  def main(argv: Array[String]): Unit = {
    // build-phase lines (GRAFT_BUILD_TIMING) are layer data, not output
    val phases = new PhaseCapture(System.out)
    System.setOut(phases)
    val a = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload' (${Workloads.mkString(", ")})")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = java.nio.file.Paths.get(a("work")).toAbsolutePath
    val code =
      try new Main(workload, seed, seconds, trace, work, phases).run()
      finally deleteTree(work.resolve("idx"))
    System.out.flush()
    sys.exit(code)
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }

  /** Bytes of the index's files, the manifest excepted: it records build
    * timings, so its length varies from run to run.
    */
  def indexBytes(p: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(p)
    try s.filter(f => java.nio.file.Files.isRegularFile(f) &&
        f.getFileName.toString != graft.index.ManifestIO.FileName)
      .mapToLong(f => java.nio.file.Files.size(f)).sum()
    finally s.close()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    (s((s.length - 1) / 2) + s(s.length / 2)) / 2
  }

  /** Java processes on the box other than this JVM and its ancestors: they
    * share the cores and contaminate timings.
    */
  def foreignJvms(): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val self = ProcessHandle.current()
    var ancestors = Set(self.pid)
    var p = self.parent()
    while (p.isPresent) { ancestors += p.get.pid; p = p.get.parent() }
    ProcessHandle.allProcesses().iterator().asScala
      .filter(h => !ancestors.contains(h.pid))
      .filter { h =>
        val info = h.info()
        (info.command().orElse("") + " " + info.commandLine().orElse("")).contains("java")
      }
      .map(_.pid).toSeq
  }
}

/** Passes stdout through, except `[build-phase] <name>: <s> s` lines, which
  * it keeps as (phase, seconds) for the traced run's build breakdown.
  */
final class PhaseCapture(out: java.io.PrintStream) extends java.io.PrintStream(out, true) {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Double)]()
  private val line = new ThreadLocal[java.lang.StringBuilder] {
    override def initialValue() = new java.lang.StringBuilder
  }
  private val Phase = """\[build-phase\] (.+): ([0-9.]+) s""".r
  override def write(b: Int): Unit = {
    val sb = line.get
    if (b == '\n') {
      sb.toString match {
        case Phase(name, s) => seen.add((System.currentTimeMillis(), name, s.toDouble))
        case other => out.synchronized { out.println(other) }
      }
      sb.setLength(0)
    } else sb.append(b.toChar)
  }
  override def write(buf: Array[Byte], off: Int, len: Int): Unit = {
    var i = off
    while (i < off + len) { write(buf(i).toInt & 0xff); i += 1 }
  }
  override def flush(): Unit = out.flush()
}

final class Main(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: java.nio.file.Path, phases: PhaseCapture) {
  import Main._

  private val nproc = Runtime.getRuntime.availableProcessors()
  /** Live waves the window commits; the corpus holds their docs too. */
  private val liveWaves =
    if (workload == "search_live") math.ceil(seconds / LiveEverySec).toInt - 1 else 0
  private val g = GenSpec(seed, Docs + liveWaves * LiveWave, Vocab, ZipfS)
  private val idxRoot = work.resolve("idx")
  private val err = System.err

  private val spark = SparkSession.builder()
    .master(s"local[$nproc]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark.sparkContext)) else None
  /** Off during the traced run's bare batches, which run with the listener
    * detached and no spans: comparing their op times with the recorded
    * batches' estimates the tracing overhead.
    */
  private var recording = true
  private def record(on: Boolean): Unit = tracer.foreach { t =>
    if (on != recording) {
      if (on) t.sc.addSparkListener(t.recorder)
      else { t.recorder.drain(); t.sc.removeSparkListener(t.recorder) }
      recording = on
    }
  }
  private final case class Logged(kind: String, ms: Double, window: Boolean, recorded: Boolean)
  private val opLog = ArrayBuffer.empty[Logged]
  private var inWindow = false
  private var attempted = 0L
  private var failed = 0L

  private def now: Double = System.nanoTime() / 1e6

  /** Times one operation; in the traced run it is also an operation span. */
  private def op[T](kind: String)(f: => T): (T, Double) = {
    val t0 = now
    val r = tracer match {
      case Some(t) if recording => t.op("op", kind)(f)
      case _ => f
    }
    val ms = now - t0
    opLog += Logged(kind, ms, inWindow, recording && trace)
    (r, ms)
  }

  private def frame(lo: Int, hi: Int) = g.frame(spark, lo, hi, nproc * 2)

  // ---------------------------------------------------------------- queries

  private lazy val oracle = new Oracle(g)

  private def words(q: Q): Seq[String] = q.terms.map(g.words)

  private def execute(s: Searcher, q: Q): Any = q.kind match {
    case "bm25" => s.bm25(words(q), TopK).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    case "and" => s.and(words(q)).collect().map(_.getLong(0)).toSet
    case "or" => s.or(words(q)).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    case "phrase" => s.phrase(words(q)).collect().map(_.getLong(0)).toSet
  }

  /** BM25 top-k against the oracle's full ranking: the same length and
    * distinct docs, every score within 1e-9 of the oracle's at that rank,
    * and a doc other than the oracle's only if its own oracle score ties
    * within 1e-9.
    */
  private def sameTopK(got: Seq[(Long, Double)], ranking: Array[(Long, Double)]): Boolean = {
    val want = ranking.take(TopK)
    lazy val score = ranking.toMap
    got.length == want.length && got.map(_._1).distinct.length == got.length &&
      got.zip(want).forall { case ((gd, gs), (wd, ws)) =>
        math.abs(gs - ws) <= 1e-9 &&
          (gd == wd || score.get(gd).exists(t => math.abs(t - gs) <= 1e-9))
      }
  }

  /** Whether `d`'s answer matches the oracle's; prints both when not. */
  private def check(d: Done): Boolean = {
    val (ok, want) = d.q.kind match {
      case "bm25" =>
        val ranking = oracle.bm25(d.q.terms, d.limit)
        (sameTopK(d.answer.asInstanceOf[Seq[(Long, Double)]], ranking), ranking.take(TopK).toSeq)
      case "and" => val w = oracle.and(d.q.terms, d.limit); (d.answer == w, w)
      case "or" => val w = oracle.or(d.q.terms, d.limit); (d.answer == w, w)
      case "phrase" => val w = oracle.phrase(d.q.terms, d.limit); (d.answer == w, w)
    }
    if (!ok) err.println(s"[perfbench] WRONG ${d.q.kind} ${words(d.q).mkString(" ")} " +
      s"(limit ${d.limit}): got ${d.answer} want $want")
    ok
  }

  /** Terms used by earlier `search_live` queries, which never reuse one:
    * so every term-stats lookup there misses the searcher's memo.
    */
  private val usedTerms = scala.collection.mutable.HashSet.empty[Int]

  /** Usable query term: not head-ranked, in docs [0, limit), and fresh on
    * `search_live`.
    */
  private def usable(t: Int, limit: Int): Boolean =
    t >= HeadRanks && t < Vocab && !(live && usedTerms.contains(t)) && oracle.df(t, limit) > 0

  /** A term drawn by corpus (Zipf) frequency. */
  private def zipfTerm(r: java.util.SplittableRandom, limit: Int): Int = {
    var t = -1
    while (t < 0) {
      val c = g.zipfRank(r.nextDouble())
      if (usable(c, limit)) t = c
    }
    t
  }

  /** A log-uniform rank over the whole vocabulary, rare terms included. */
  private def anyTerm(r: java.util.SplittableRandom, limit: Int): Int = {
    var t = -1
    while (t < 0) {
      val c = math.exp(r.nextDouble() * math.log(Vocab.toDouble)).toInt - 1
      if (usable(c, limit)) t = c
    }
    t
  }

  /** Two adjacent distinct tokens of a random committed doc. */
  private def phraseTerms(r: java.util.SplittableRandom, limit: Int): Seq[Int] = {
    var out: Seq[Int] = Nil
    while (out.isEmpty) {
      val ts = oracle.tokensOf(r.nextInt(limit))
      val p = r.nextInt(ts.length - 1)
      if (ts(p) != ts(p + 1) && usable(ts(p), limit) && usable(ts(p + 1), limit))
        out = Seq(ts(p), ts(p + 1))
    }
    out
  }

  /** Query kinds in the order they are sent, repeated: half BM25 on
    * `search_hot`; even on `search_live`, whose BM25 misses cost several
    * match queries each.
    * A fixed cycle (not a random draw) gives every kind the same share and
    * spacing in every run.
    */
  private val kindCycle =
    if (live) QueryKinds else Seq("bm25", "and", "bm25", "or", "bm25", "phrase")
  private def kindOf(n: Int): String = kindCycle(n % kindCycle.length)

  /** A new query of `kind`; on `search_live` half the terms come from the
    * whole vocabulary and none was used before.
    */
  private def newQuery(r: java.util.SplittableRandom, kind: String, limit: Int): Q = {
    def t() = if (live && r.nextBoolean()) anyTerm(r, limit) else zipfTerm(r, limit)
    def distinctTerms(n: Int) = {
      val ts = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (ts.size < n) ts += (if (ts.isEmpty) zipfTerm(r, limit) else t())
      ts.toSeq
    }
    val q = kind match {
      case "bm25" => Q(kind, distinctTerms(3))
      case "and" | "or" => Q(kind, distinctTerms(2))
      case "phrase" => Q(kind, phraseTerms(r, limit))
    }
    if (live) usedTerms ++= q.terms
    q
  }

  /** Hot pool: a fixed set of term sets per kind, drawn Zipf-popular. */
  private lazy val hotPool: Map[String, IndexedSeq[Q]] = {
    val r = new java.util.SplittableRandom(seed * 31 + 7)
    val n = Map("bm25" -> 4, "and" -> 2, "or" -> 1, "phrase" -> 1)
    QueryKinds.map(k => k -> IndexedSeq.fill(n(k))(newQuery(r, k, Docs))).toMap
  }

  private def hotDraw(r: java.util.SplittableRandom, kind: String): Q = {
    val pool = hotPool(kind)
    val w = pool.indices.map(i => 1.0 / (i + 1))
    var u = r.nextDouble() * w.sum
    var i = 0
    while (i < pool.length - 1 && u >= w(i)) { u -= w(i); i += 1 }
    pool(i)
  }

  // ------------------------------------------------------------------ setup

  private def build(dir: String, lo: Int, hi: Int): Double = {
    val (_, ms) = op("build")(IndexBuilder.build(spark, frame(lo, hi), dir))
    (hi - lo) / (ms / 1000)
  }

  /** Docs and seconds of every timed append of the run, set-up and live:
    * `append_docs_per_s` is their ratio. An append is mostly fixed cost
    * whatever its size, and one run holds few, so the metric pools them all.
    */
  private var appendDocs = 0L
  private var appendSecs = 0.0

  private def append(dir: String, lo: Int, hi: Int): Unit = {
    val (_, ms) = op("append")(IndexBuilder.append(spark, frame(lo, hi), dir))
    appendDocs += hi - lo
    appendSecs += ms / 1000
  }

  private val compactMerges = ArrayBuffer.empty[Double]

  private def compact(dir: String): Double = {
    val before = graft.index.ManifestIO.read(dir).waves.length
    val (m, ms) = op("compact")(Compactor.compact(spark, dir))
    require(m.waves.length == 1, s"tiered compaction left ${m.waves.length} waves")
    compactMerges += (before - m.waves.length).toDouble
    ms / 1000
  }

  private def open(dir: String): Searcher = op("reopen")(new Searcher(spark, dir))._1

  private val base = Docs * 6 / 10
  private var buildRate = 0.0
  private val compactSecs = ArrayBuffer.empty[Double]
  private val done = ArrayBuffer.empty[Done]

  private def runQuery(s: Searcher, q: Q, limit: Int, timed: Boolean): Unit =
    try {
      val (ans, ms) = op(q.kind)(execute(s, q))
      if (timed) done += Done(q, limit, ms, ans)
    } catch {
      case e: Exception =>
        err.println(s"[perfbench] FAILED ${q.kind} ${words(q).mkString(" ")}: $e")
        attempted += 1
        failed += 1
    }

  /** Generate the corpus and its oracle, warm the builder up on a small
    * slice and one append onto it (untimed, thrown away), then bulk-build
    * the first 60%.
    */
  private def bulkBuild(): String = {
    oracle
    val warmDir = idxRoot.resolve("warm").toString
    tracer.foreach(_.tag = "warmup")
    op("warmup")(IndexBuilder.build(spark, frame(0, WarmBuildDocs), warmDir))
    op("warmup")(IndexBuilder.append(spark,
      frame(WarmBuildDocs, WarmBuildDocs + WarmAppendDocs), warmDir))
    Main.deleteTree(java.nio.file.Paths.get(warmDir))
    tracer.foreach(_.tag = "setup")
    val dir = idxRoot.resolve("main").toString
    buildRate = build(dir, 0, base)
    dir
  }

  /** The rest of the LSM ingest path on the kept setup index: append the
    * remaining 40% as two waves, tiered-compact back to one wave.
    */
  private def appendAndCompact(dir: String): Unit = {
    val mid = (base + Docs) / 2
    append(dir, base, mid)
    append(dir, mid, Docs)
    compactSecs += compact(dir)
  }

  private def live = workload == "search_live"

  // ----------------------------------------------------------------- timing

  private var liveAppends = 0
  private var committed = Docs
  private var searcher: Searcher = _

  /** Closed loop until the deadline; `search_live` also commits a wave of
    * `LiveWave` docs every `LiveEverySec` seconds of the window.
    */
  private def window(dir: String, start: Double, deadline: Double): Unit = {
    val r = new java.util.SplittableRandom(seed * 101 + 11)
    var n = 0
    while (now < deadline) {
      record((n / 12) % 2 == 0) // batches of whole kind cycles
      if (live && liveAppends < liveWaves &&
          now >= start + (liveAppends + 1) * LiveEverySec * 1000) {
        attempted += 1
        liveAppends += 1
        try {
          append(dir, committed, committed + LiveWave)
          committed += LiveWave
        } catch {
          case e: Exception =>
            err.println(s"[perfbench] FAILED append: $e")
            failed += 1
        }
        searcher = open(dir)
      }
      val q = if (live) newQuery(r, kindOf(n), committed) else hotDraw(r, kindOf(n))
      runQuery(searcher, q, committed, timed = true)
      n += 1
    }
  }

  // ------------------------------------------------------------------ run

  def run(): Int = {
    val foreign = foreignJvms()

    if (foreign.nonEmpty)
      err.println(s"[perfbench] WARNING: ${foreign.size} foreign java process(es) " +
        s"alive (pids ${foreign.mkString(",")}); timings may be contaminated")
    import java.lang.management.ManagementFactory
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val dir = bulkBuild()
    // the rest of ingest (measured per op), then warm-up so the JIT and
    // Spark's codegen caches are hot, and (search_hot) every pool term set
    // is in the searcher's memo
    val warm0 = now
    // term sets for the traced run's replays: fixed by the seed (the
    // window's depend on speed); drawn in both modes so that the window's
    // queries are the same
    val replaySet = if (live) {
      val r = new java.util.SplittableRandom(seed * 7 + 1)
      (0 until 16).map(i => newQuery(r, kindOf(i), Docs))
    } else QueryKinds.flatMap(hotPool)
    appendAndCompact(dir)
    searcher = open(dir)
    val warm = if (live) {
      val r = new java.util.SplittableRandom(seed * 13 + 5)
      (0 until WarmQueries).map(i => newQuery(r, kindOf(i), Docs))
    } else {
      val pool = QueryKinds.flatMap(hotPool)
      pool ++ pool
    }
    warm.foreach(q => runQuery(searcher, q, Docs, timed = false))
    val warmS = (now - warm0) / 1000

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.toArray(
      Array.empty[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val gcs = ManagementFactory.getGarbageCollectorMXBeans
    def gcMs: Long = { var t = 0L; gcs.forEach(b => t += math.max(0L, b.getCollectionTime)); t }
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    tracer.foreach(_.tag = "window")
    inWindow = true
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val start = now
    window(dir, start, start + seconds * 1000)
    val windowS = (now - start) / 1000
    inWindow = false
    record(true)
    val gcS = (gcMs - gc0) / 1000.0
    err.println("[perfbench] ops (kind ms): " + opLog.map(o => f"${o.kind}%s ${o.ms}%.0f").mkString(", "))
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    System.gc()
    val heapRetainedMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val indexBytes = Main.indexBytes(java.nio.file.Paths.get(dir))

    // correctness, outside the timed window
    done.foreach { d =>
      attempted += 1
      if (!check(d)) failed += 1
    }

    val lat = done.groupBy(_.q.kind).map { case (k, ds) => k -> ds.map(_.ms).toSeq }
    QueryKinds.foreach(k => require(lat.contains(k), s"no $k query ran in the window"))
    // highest percentile of all query latencies with ten samples beyond it
    val all = done.map(_.ms).sorted
    val tailIdx = math.max(0, all.length - 11)
    val tailPct = 100.0 * (tailIdx + 1) / all.length

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("build_docs_per_s", buildRate, "docs/s"),
      ("append_docs_per_s", appendDocs / appendSecs, "docs/s"),
      ("compact_s", median(compactSecs.toSeq), "s"),
      ("index_bytes_per_text_byte", indexBytes.toDouble / oracle.textBytes(committed), "B/B"),
      ("bm25_p50_ms", median(lat("bm25")), "ms"),
      ("and_p50_ms", median(lat("and")), "ms"),
      ("or_p50_ms", median(lat("or")), "ms"),
      ("phrase_p50_ms", median(lat("phrase")), "ms"),
      // per second spent in queries: live appends have their own metric
      ("queries_per_s", done.length / (done.map(_.ms).sum / 1000), "1/s"),
      ("heap_retained_mb", heapRetainedMb, "MB"))
    println(f"[perfbench] workload=$workload seed=$seed nproc=$nproc docs=$committed " +
      s"text_bytes=${oracle.textBytes(committed)} index_bytes=$indexBytes " +
      f"window_s=$windowS%.3f " +
      f"warmup_s=$warmS%.3f queries=${done.length} " +
      QueryKinds.map(k => s"${k}_samples=${lat(k).length}").mkString(" ") +
      f" query_tail_ms=${all(tailIdx)}%.1f query_tail_percentile=$tailPct%.1f " +
      f"heap_peak_mb=$heapPeakMb%.1f " +
      f"setup_s=$setupS%.3f " +
      s"foreign_jvms=${foreign.size} live_appends=$liveAppends " +
      f"error_rate=${failed.toDouble / math.max(1L, attempted)}%.6f")

    val metrics =
      if (trace) layers(replaySet, gcS, heapPeakMb, heapRetainedMb, all(tailIdx)) else e2e
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (failed == 0) 0 else 1
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  // ------------------------------------------------------- per-layer (trace)

  private def layers(replaySet: Seq[Q], gcS: Double, heapPeakMb: Double, heapEndMb: Double,
      tailMs: Double): Seq[(String, Double, String)] = {
    val t = tracer.get
    t.tag = "replay"
    val dir = searcher.dir
    val (repl, tsSpanIds) = new Replays(spark, t, g, dir).all(replaySet,
      if (live) Nil else replaySet)

    val (extra, jobsByOp, stagesByOp) = t.attributed()
    /** Operation spans of `kind` in the window, or in the setup if the
      * window ran none.
      */
    def chosen(kind: String): Seq[Span] = {
      val all = t.ops.filter(o => o.kind == "op" && o.name == kind)
      val w = all.filter(_.tag == "window")
      if (w.nonEmpty) w else all.filter(_.tag == "setup")
    }
    /** Per-operation mean of a stage metric over `ss`. */
    def perOp(ss: Seq[Span], f: StageAgg => Long): Double =
      ss.flatMap(s => stagesByOp.getOrElse(s.id, Nil)).map(x => f(x._2)).sum /
        math.max(1, ss.length).toDouble
    val sparkM = (Seq("build", "append", "compact", "reopen") ++ QueryKinds).flatMap { k =>
      val ss = chosen(k)
      val n = math.max(1, ss.length).toDouble
      val jobs = ss.map(s => jobsByOp.getOrElse(s.id, Nil).length).sum / n
      val driverMs = ss.map { s =>
        s.durMs - Trace.covered(s.startMs, s.endMs,
          jobsByOp.getOrElse(s.id, Nil).map(j => (j.startMs, j.endMs)))
      }.sum / n
      Seq(
        (s"spark.$k.jobs", jobs, "count"),
        (s"spark.$k.tasks", perOp(ss, _.tasks), "count"),
        (s"spark.$k.driver_ms", driverMs, "ms"),
        (s"spark.$k.executor_cpu_s", perOp(ss, _.cpuNs) / 1e9, "s"),
        (s"spark.$k.shuffle_write_bytes", perOp(ss, _.shuffleWrite), "B"),
        (s"spark.$k.spill_bytes", perOp(ss, _.spill), "B"),
        (s"spark.$k.output_bytes", perOp(ss, _.output), "B"))
    }
    // phases the builder prints under GRAFT_BUILD_TIMING, inside build spans
    val builds = chosen("build")
    val phaseS = scala.jdk.CollectionConverters.IteratorHasAsScala(phases.seen.iterator())
      .asScala.toSeq.filter { case (at, _, _) => builds.exists(b => at >= b.startMs && at <= b.endMs) }
    def phase(name: String) =
      phaseS.filter(_._2 == name).map(_._3).sum / math.max(1, builds.length)
    val queries = QueryKinds.flatMap(chosen)
    val tsJobs = tsSpanIds.map(id => jobsByOp.getOrElse(id, Nil).length)
    val timed = opLog.filter(o => o.window && QueryKinds.contains(o.kind))
    def meanMs(recorded: Boolean) = {
      val xs = timed.filter(_.recorded == recorded).map(_.ms)
      xs.sum / math.max(1, xs.length)
    }
    val overhead = if (timed.exists(!_.recorded)) meanMs(true) / meanMs(false) - 1 else 0.0
    val all = t.ops ++ extra
    val out = work.getParent.resolve("traces").resolve(s"$workload-seed$seed.jsonl")
    Trace.write(out, all)
    val self = Trace.selfMs(all)
    println(s"[perfbench] ${all.length} spans written to $out; self ms by op kind: " +
      t.ops.filter(_.kind == "op").groupBy(_.name).map { case (k, ss) =>
        s"$k=${ss.map(s => self(("op", s.id))).sum}" }.mkString(" "))

    sparkM ++ Seq(
      ("text.tokenize_mb_per_s", repl("tokenize_mb_per_s"), "MB/s"),
      ("codec.encode_postings_per_s", repl("encode_postings_per_s"), "1/s"),
      ("codec.decode_postings_per_s", repl("decode_postings_per_s"), "1/s"),
      ("codec.bytes_per_posting", repl("bytes_per_posting"), "B"),
      ("index.build.tokenize_s", phase("tokenize+persist"), "s"),
      ("index.build.postings_s", phase("postings-write"), "s"),
      ("index.build.norms_s", phase("norms-write"), "s"),
      ("index.build.docmeta_s", phase("docmeta-write"), "s"),
      ("index.build.termstats_s", phase("termstats-write"), "s"),
      ("index.write_bytes_per_text_byte",
        perOp(builds, _.output) / oracle.textBytes(base), "B/B"),
      ("compact.rewrite_bytes", perOp(chosen("compact"), _.output), "B"),
      ("compact.merges", median(compactMerges.toSeq), "count"),
      ("searcher.open_ms", repl("open_ms"), "ms"),
      ("searcher.term_stats_ms", repl("term_stats_ms"), "ms"),
      ("searcher.term_stats_hit_frac",
        tsJobs.count(_ == 0).toDouble / math.max(1, tsJobs.length), "ratio"),
      ("searcher.fetch_bytes_per_query", perOp(queries, _.input), "B"),
      ("searcher.wand_postings_per_s", repl("wand_postings_per_s"), "1/s"),
      ("searcher.wand_scored_frac", repl("wand_scored_frac"), "ratio"),
      ("searcher.intersect_postings_per_s", repl("intersect_postings_per_s"), "1/s"),
      ("searcher.waves_visible", repl("waves_visible"), "count"),
      ("query.tail_ms", tailMs, "ms"),
      ("jvm.gc_s", gcS, "s"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("jvm.heap_used_mb_end", heapEndMb, "MB"),
      ("trace.overhead_frac", overhead, "ratio"))
  }
}
