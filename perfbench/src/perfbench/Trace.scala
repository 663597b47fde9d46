package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One recorded interval. `parent` is -1 for a root; times are epoch ms
  * (the clock Spark stamps its events with).
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Long, endMs: Long, attrs: Map[String, Double] = Map.empty, tag: String = "") {
  def durMs: Long = endMs - startMs
}

/** Spark work seen by the listener, summed per stage attempt. */
final class StageAgg {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var output = 0L
  var input = 0L
  var name = ""
  var submitMs = 0L
  var endMs = 0L
}

/** Records Spark jobs and stages from outside the program: registered on
  * the benchmark's SparkContext, it keeps per-job times and per-stage task
  * metric sums in memory. Jobs are attributed to benchmark operations
  * afterwards by their submission time — the benchmark runs one operation
  * at a time, so each job's submission falls inside exactly one operation
  * span. The operation's id is also set as the job group; jobs that carry a
  * current group id use it directly.
  */
final class SparkRecorder extends SparkListener {
  final case class Job(id: Int, group: String, startMs: Long, var endMs: Long, stages: Seq[Int])
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAgg]()
  @volatile var events = 0L

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.computeIfAbsent((id, attempt), _ => new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, Job(e.jobId, g, e.time, -1L, e.stageIds))
    events += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    events += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.synchronized {
      s.name = i.name
      s.submitMs = i.submissionTime.getOrElse(0L)
      s.endMs = i.completionTime.getOrElse(0L)
    }
    events += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.output += m.outputMetrics.bytesWritten
        s.input += m.inputMetrics.bytesRead
      }
    }
    events += 1
  }

  /** Blocks until the asynchronous listener bus has delivered every event:
    * all started jobs ended and no event arrived for 300 ms.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000L
    var last = -1L
    var quietSince = System.currentTimeMillis()
    import scala.jdk.CollectionConverters._
    while (System.currentTimeMillis() < deadline &&
        (jobs.values().asScala.exists(_.endMs < 0) ||
          System.currentTimeMillis() - quietSince < 300)) {
      if (events != last) { last = events; quietSince = System.currentTimeMillis() }
      Thread.sleep(20)
    }
  }
}

/** In-memory span store for the traced run. Operation spans come from the
  * benchmark; job and stage spans from [[SparkRecorder]]; replay spans from
  * the layer replays. Written out once, at the end of the run.
  */
final class Tracer(val sc: SparkContext) {
  val recorder = new SparkRecorder
  sc.addSparkListener(recorder)
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger(1000000)
  /** Run phase stamped on new spans (`warmup`, `setup`, `window`, `replay`). */
  @volatile var tag = ""

  /** Runs `f` as one operation span; its Spark jobs carry the span id as
    * job group.
    */
  def op[T](kind: String, name: String)(f: => T): T = {
    val id = ids.getAndIncrement()
    val start = System.currentTimeMillis()
    sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
    try f
    finally {
      sc.clearJobGroup()
      spans.synchronized(spans += Span(id, -1, kind, name, start, System.currentTimeMillis(), tag = tag))
    }
  }

  def ops: Seq[Span] = spans.synchronized(spans.toList)

  /** Adds a finished replay span (a timed call into a public function). */
  def replay(name: String, startMs: Long, endMs: Long, attrs: Map[String, Double]): Unit =
    spans.synchronized {
      spans += Span(ids.getAndIncrement(), -1, "replay", name, startMs, endMs, attrs, tag)
    }

  /** Job and stage spans attributed to operation spans. */
  def attributed(): (Seq[Span], Map[Int, Seq[recorder.Job]], Map[Int, Seq[((Int, Int), StageAgg)]]) = {
    recorder.drain()
    import scala.jdk.CollectionConverters._
    val opSpans = ops.sortBy(_.startMs)
    val starts = opSpans.map(_.startMs).toArray
    def opAt(t: Long): Option[Span] = {
      val i = java.util.Arrays.binarySearch(starts, t)
      val k = if (i >= 0) {
        var j = i
        while (j + 1 < starts.length && starts(j + 1) == t) j += 1
        j
      } else -i - 2
      if (k >= 0 && t <= opSpans(k).endMs) Some(opSpans(k)) else None
    }
    val byGroup = opSpans.map(s => s"pb-${s.id}" -> s).toMap
    val jobsByOp = recorder.jobs.values().asScala.toSeq.flatMap { j =>
      byGroup.get(j.group).filter(s => j.startMs >= s.startMs && j.startMs <= s.endMs)
        .orElse(opAt(j.startMs)).map(s => s.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_.startMs) }
    val stagesByOp = recorder.stages.asScala.toSeq.flatMap { case (k, s) =>
      opAt(s.submitMs).map(o => o.id -> (k -> s))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val jobSpans = jobsByOp.toSeq.flatMap { case (opId, js) =>
      js.map(j => Span(j.id, opId, "job", s"job-${j.id}", j.startMs, math.max(j.endMs, j.startMs)))
    }
    val stageSpans = stagesByOp.toSeq.flatMap { case (opId, ss) =>
      ss.map { case ((sid, att), s) =>
        val parent = jobsByOp.getOrElse(opId, Nil).find(_.stages.contains(sid))
          .map(_.id).getOrElse(opId)
        Span(100000 + sid * 10 + att, parent, "stage", s.name, s.submitMs, s.endMs,
          Map("tasks" -> s.tasks.toDouble, "executor_cpu_s" -> s.cpuNs / 1e9,
            "shuffle_write_bytes" -> s.shuffleWrite.toDouble,
            "spill_bytes" -> s.spill.toDouble, "output_bytes" -> s.output.toDouble,
            "input_bytes" -> s.input.toDouble))
      }
    }
    (jobSpans ++ stageSpans, jobsByOp, stagesByOp)
  }
}

object Trace {
  /** Milliseconds of [lo, hi] covered by the union of `ivs`. */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  /** Self time of each span: its duration minus the part its children cover. */
  def selfMs(all: Seq[Span]): Map[(String, Int), Long] = {
    val kids = all.groupBy(s => s.parent)
    all.map { s =>
      val ch = kids.getOrElse(s.id, Nil)
      (s.kind, s.id) -> (s.durMs - covered(s.startMs, s.endMs, ch.map(c => (c.startMs, c.endMs))))
    }.toMap
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** One JSON object per line: id, parent, kind, name, start/end ms, self
    * ms and attributes.
    */
  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val self = selfMs(all)
    val lines = all.sortBy(s => (s.startMs, s.kind)).map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${esc(s.name)}",""" +
        s""""tag":"${s.tag}","start_ms":${s.startMs},"end_ms":${s.endMs},"self_ms":${self((s.kind, s.id))},""" +
        s""""attrs":{$attrs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
