package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. Times are epoch milliseconds (fractional,
  * so harness spans keep sub-millisecond resolution next to the listener's
  * millisecond event times). `parent` is -1 for the root. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, end: Double)

object Clock {
  private val base = System.currentTimeMillis() * 1e6 - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + base) / 1e6
}

/** Everything the traced run observes from outside the program: a
  * `SparkListener` for jobs, stages, tasks and streaming progress, and a
  * `QueryExecutionListener` that reads each executed plan's `SQLMetrics`.
  * Events are kept in memory and attributed to the harness's spans once
  * the run is over. */
final class Trace extends SparkListener with QueryExecutionListener {
  private final class Job(val id: Int, val start: Long, var end: Long,
      val stages: Seq[Int])
  private final class StageAgg {
    var submit = 0L; var complete = 0L; var tasks = 0
    var cpuNs = 0L; var gcMs = 0L; var inBytes = 0L; var outBytes = 0L
    var shWrite = 0L; var shRead = 0L; var spill = 0L; var peakMem = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, StageAgg]
  // (callback time, session identity, generate rows, widest join rows)
  private val planStats = mutable.ArrayBuffer.empty[(Double, Int, Long, Long)]
  private val progress = mutable.ArrayBuffer.empty[Trace.Progress]
  private val events = new AtomicLong(0L)
  private val lock = new Object

  def eventCount: Long = events.get()

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time, e.time, e.stageIds)
    events.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    events.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val s = stage(e.stageInfo.stageId)
      s.submit = e.stageInfo.submissionTime.getOrElse(0L)
      s.complete = e.stageInfo.completionTime.getOrElse(0L)
      events.incrementAndGet()
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    s.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
    events.incrementAndGet()
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: StreamingQueryListener.QueryProgressEvent => lock.synchronized {
      val p = x.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      progress += Trace.Progress(start, d.getOrElse("triggerExecution", 0L), d,
        p.numInputRows)
      events.incrementAndGet()
    }
    case _ =>
  }

  // QueryExecutionListener: plan metrics of every successful action. The
  // callback arrives on the listener bus after the action ended; it is
  // attributed through its session (one per operation, or per pass for
  // the word-list job) to the latest operation of that session that had
  // started by then.
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val (gen, join) = Trace.planStats(qe.executedPlan)
    val t = Clock.nowMs - durationNs / 1e6
    lock.synchronized {
      planStats += ((t, System.identityHashCode(qe.sparkSession), gen, join))
      events.incrementAndGet()
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Blocks until no listener event has arrived for `quietMs` (the bus is
    * asynchronous and its drain hook is not public). */
  def quiesce(quietMs: Long = 300L, maxMs: Long = 10000L): Unit =
    Trace.quiesce(() => eventCount, quietMs, maxMs)

  /** Per-operation metrics: every job (with its stages) and streaming
    * batch is attributed to the innermost phase span containing its start
    * time, then rolled up to that span's operation; plan metrics go through
    * their session (see `onSuccess`). Returns the metric map per op span
    * id, the job and stage spans, and the batch durations per op span. */
  def attribute(spans: Seq[Span], opSession: Map[Int, Int], nextId: () => Int)
      : (Map[Int, Map[String, Double]], Seq[Span], Map[Int, Seq[Long]]) =
    lock.synchronized {
      val phases = spans.filter(s => Trace.PhaseKinds(s.kind))
        .sortBy(_.start).toArray
      val starts = phases.map(_.start)
      val opOf = spans.map(s => s.id -> s.parent).toMap
      def phaseAt(t: Double): Option[Span] = {
        // innermost = latest-starting phase that contains t (1 ms slack:
        // listener event times are whole milliseconds)
        var i = java.util.Arrays.binarySearch(starts, t + 1e-9)
        i = if (i < 0) -i - 2 else i
        while (i >= 0 && !(phases(i).start <= t + 1.0 && t <= phases(i).end + 1.0))
          i -= 1
        if (i >= 0) Some(phases(i)) else None
      }
      val acc = mutable.Map.empty[Int, mutable.Map[String, Double]]
      def add(op: Int, k: String, v: Double): Unit = {
        val m = acc.getOrElseUpdate(op, mutable.Map.empty)
        m(k) = m.getOrElse(k, 0.0) + v
      }
      def mx(op: Int, k: String, v: Double): Unit = {
        val m = acc.getOrElseUpdate(op, mutable.Map.empty)
        m(k) = math.max(m.getOrElse(k, 0.0), v)
      }
      val extra = mutable.ArrayBuffer.empty[Span]
      val jobIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Double, Double)]]
      for (j <- jobs.values.toSeq.sortBy(_.id); ph <- phaseAt(j.start.toDouble)) {
        val op = opOf(ph.id)
        val jobSpan = Span(nextId(), ph.id, "job", s"job ${j.id}",
          j.start.toDouble, math.max(j.end, j.start).toDouble)
        extra += jobSpan
        jobIntervals.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
          (jobSpan.start -> jobSpan.end)
        add(op, "exec.jobs", 1)
        add(op, s"${ph.kind}.jobs", 1)
        for (sid <- j.stages; s <- stages.get(sid) if s.tasks > 0) {
          extra += Span(nextId(), jobSpan.id, "stage", s"stage $sid",
            s.submit.toDouble, math.max(s.complete, s.submit).toDouble)
          add(op, "exec.stages", 1)
          add(op, "exec.tasks", s.tasks)
          add(op, "exec.scan_bytes", s.inBytes)
          add(op, "exec.shuffle_write_bytes", s.shWrite)
          add(op, "exec.shuffle_read_bytes", s.shRead)
          add(op, "exec.spill_bytes", s.spill)
          add(op, "exec.executor_cpu_s", s.cpuNs / 1e9)
          add(op, "exec.gc_s", s.gcMs / 1e3)
          mx(op, "exec.peak_exec_mem_mb", s.peakMem / 1048576.0)
          val d = s.durations.sorted
          val med = d(d.size / 2).toDouble
          mx(op, "exec.task_skew", if (med > 0) d.last / med else 1.0)
          if (ph.kind == "sink") add(op, "sources.sink_bytes", s.outBytes)
        }
      }
      for ((op, iv) <- jobIntervals) add(op, "exec.exec_s", Trace.unionMs(iv.toSeq) / 1e3)
      val opsBySession = spans.filter(s => opSession.contains(s.id))
        .groupBy(s => opSession(s.id)).map { case (k, v) => k -> v.sortBy(_.start) }
      for ((t, session, gen, join) <- planStats;
           cands <- opsBySession.get(session);
           op <- cands.filter(_.start <= t + 1.0).lastOption.map(_.id)) {
        add(op, "functions.ngram_rows", gen)
        mx(op, "operators.widest_join_rows", join)
      }
      val batches = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
      for (p <- progress.sortBy(_.startMs); ph <- phaseAt(p.startMs)) {
        val op = opOf(ph.id)
        val opStart = spans.find(_.id == op).get.start
        if (!batches.contains(op))
          add(op, "streaming.startup_s", (p.startMs - opStart) / 1e3)
        batches.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += p.triggerMs
        add(op, "streaming.batches", 1)
        add(op, "streaming.input_rows", p.inputRows)
        val named = Trace.BatchPhases.map { case (k, metric) =>
          val v = p.durations.getOrElse(k, 0L); add(op, metric, v); v }.sum
        val other = Seq("latestOffset", "getBatch")
          .map(p.durations.getOrElse(_, 0L)).sum
        add(op, "streaming.trigger_overhead_ms",
          math.max(0L, p.triggerMs - named - other))
      }
      (acc.map { case (k, v) => k -> v.toMap }.toMap, extra.toSeq,
        batches.map { case (k, v) => k -> v.toSeq }.toMap)
    }
}

object Trace {
  /** One micro-batch: trigger start, trigger duration, phase durations. */
  final case class Progress(startMs: Double, triggerMs: Long,
      durations: Map[String, Long], inputRows: Long)

  val PhaseKinds = Set("read", "build", "plan", "exec", "sink")
  val BatchPhases = Seq("addBatch" -> "streaming.add_batch_ms",
    "queryPlanning" -> "streaming.query_planning_ms",
    "walCommit" -> "streaming.wal_commit_ms",
    "commitOffsets" -> "streaming.commit_offsets_ms")

  def quiesce(counter: () => Long, quietMs: Long, maxMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = counter(); var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() - stableSince < quietMs &&
           System.currentTimeMillis() < deadline) {
      Thread.sleep(20)
      val now = counter()
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
    }
  }

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    for ((s, e) <- iv.sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** (rows out of Generate nodes, rows out of the widest join node) of an
    * executed plan, looking through adaptive query stages. */
  def planStats(plan: SparkPlan): (Long, Long) = {
    var gen = 0L; var join = 0L
    def rows(p: SparkPlan): Long =
      p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
          if (p.nodeName == "Generate") gen += rows(p)
          if (p.isInstanceOf[BaseJoinExec]) join = math.max(join, rows(p))
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
    }
    walk(plan)
    (gen, join)
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
      s.id -> math.max(0.0, (s.end - s.start) - unionMs(covered))
    }.toMap
  }
}
