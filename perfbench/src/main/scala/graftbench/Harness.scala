package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftRefusal, SparkEntry, Tables}
import graft.operators.TextPipeline
import graft.sources.{ReferenceSink, WordListSource}
import graft.streaming.StreamObserver

/** The benchmark's JVM side: one closed-loop client running a workload's
  * operations pass after pass against the graft library, timing its own
  * calls into each layer's public functions.
  *
  * {{{
  * Harness <mix|wordlist> <input> <outDir> <seed> <seconds> <trace 0|1>
  *         <warmupPasses> [query...]
  * }}}
  *
  * A run is: session build, one untimed CHECK pass whose outputs are kept
  * under `outDir/check` for the oracle, `warmupPasses` more untimed passes,
  * then timed passes until `seconds` have elapsed (at least two). With
  * trace 1 every other timed pass runs with the listeners attached (at
  * least two of each); the rest stay untraced so that the difference
  * measures the tracing overhead. A pass during which the hypervisor
  * stole [[MaxStealShare]] or more of the machine's CPU time is not
  * clean; up to [[ExtraPasses]] more timed passes run until two untraced
  * ones are. The result goes to
  * `outDir/result.json` (and the spans to `outDir/spans.jsonl`).
  */
object Harness {
  private final case class OpRecord(pass: Int, passKind: String,
      traced: Boolean, op: String, spanId: Int, wallS: Double,
      status: String, error: String)
  private final case class PassRecord(pass: Int, kind: String,
      traced: Boolean, wallS: Double, stealShare: Double, spanId: Int) {
    def clean: Boolean = stealShare < MaxStealShare
  }

  /** Steal share from which a pass does not count as clean. On a quiet
    * 4-vCPU VM passes read 0.00-0.02; passes at 0.04 and above ran
    * 10-120% slower, and such spells lasted from one pass to a whole run. */
  val MaxStealShare = 0.03
  /** Timed passes run beyond the minimum while fewer than two untraced
    * ones are clean. */
  val ExtraPasses = 2

  def main(args: Array[String]): Unit = {
    val Array(kind, input, outDir, seedS, secondsS, traceS, warmS) = args.take(7)
    val queries = args.drop(7).toSeq
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val tracing = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val out = Paths.get(outDir)
    Files.createDirectories(out)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config(Tables.NanosConf, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = Clock.nowMs

    val spans = mutable.ArrayBuffer.empty[Span]
    var nextSpan = 0
    def newId(): Int = { nextSpan += 1; nextSpan }
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val passes = mutable.ArrayBuffer.empty[PassRecord]
    val trace = new Trace
    var traceOn = false
    var current = -1 // span id of the enclosing span

    def span[A](kind: String, name: String)(f: => A): (A, Span) = {
      val id = newId(); val parent = current
      val t0 = Clock.nowMs
      current = id
      try {
        val a = f
        val s = Span(id, parent, kind, name, t0, Clock.nowMs)
        spans += s; (a, s)
      } catch { case e: Throwable =>
        spans += Span(id, parent, kind, name, t0, Clock.nowMs); throw e
      } finally current = parent
    }
    def phase[A](kind: String)(f: => A): A = span(kind, kind)(f)._1

    val rootId = newId()
    val rootStart = Clock.nowMs
    current = rootId

    val statePeaks = mutable.Map.empty[Int, (Long, Long)]
    val opSession = mutable.Map.empty[Int, Int] // op span id -> session identity

    // A fresh session per operation (per pass for the word-list job, whose
    // operations share one DataFrame lineage) keeps every session memo in
    // the same cold state on every pass, so a memo hit cannot pose as a
    // speed-up.
    def freshSession(): SparkSession = {
      val ss = spark.newSession()
      if (traceOn) ss.listenerManager.register(trace)
      ss
    }

    def runOp(pass: Int, passKind: String, name: String, ss: SparkSession)(
        body: SparkSession => Unit): Unit = {
      val streamy = name.endsWith("_stream")
      if (traceOn && streamy) StreamObserver.arm()
      val (status, err, s) = try {
        val (_, s) = span("op", name)(body(ss))
        ("ok", "", s)
      } catch { case e: Throwable =>
        val st = if (GraftRefusal.isRefusal(e)) "refused" else "failed"
        (st, String.valueOf(e).take(300), spans.last)
      }
      if (traceOn && streamy) {
        Trace.quiesce(() => StreamObserver.deliveries, 150L, 3000L)
        val (rows, bytes) = StreamObserver.disarm()
        statePeaks(s.id) = (rows, bytes)
      }
      spark.catalog.clearCache()
      opSession(s.id) = System.identityHashCode(ss)
      ops += OpRecord(pass, passKind, traceOn, name, s.id,
        (s.end - s.start) / 1e3, status, err)
    }

    def sinkDir(pass: Int, passKind: String, name: String): String =
      if (passKind == "check") out.resolve("check").resolve(name).toString
      else out.resolve("scratch").resolve(name).toString

    /** A SparkEntry query: build, plan, execute (noop sink; the check
      * pass writes parquet for the oracle instead). */
    def mixOp(pass: Int, passKind: String, q: String): Unit =
      runOp(pass, passKind, q, freshSession()) { ss =>
        val df = phase("build")(SparkEntry.queries(q)(ss, input))
        phase("plan")(df.queryExecution.executedPlan)
        phase("exec") {
          if (passKind == "check")
            df.coalesce(1).write.mode("overwrite").parquet(sinkDir(pass, passKind, q))
          else df.write.format("noop").mode("overwrite").save()
        }
      }

    /** The paper's job over a word list: quirk-mode read, split-phase
      * sink, bigram probabilities, the two reference sinks, onlyOne. */
    def wordlistPass(pass: Int, passKind: String): Unit = {
      val ss = freshSession()
      var words: DataFrame = null
      var probs: DataFrame = null
      def computed(name: String)(build: => DataFrame): Unit =
        runOp(pass, passKind, name, ss) { _ =>
          val df = phase("build")(build)
          phase("plan")(df.queryExecution.executedPlan)
          phase("exec") {
            if (passKind == "check")
              df.write.mode("overwrite").parquet(sinkDir(pass, passKind, name))
            else df.write.format("noop").mode("overwrite").save()
          }
          if (name == "count") probs = df
        }
      runOp(pass, passKind, "read", ss) { ss =>
        words = phase("read")(WordListSource.read(ss, input, referenceQuirk = true))
      }
      runOp(pass, passKind, "split", ss) { _ =>
        phase("sink")(ReferenceSink.writeSplitPhase(words, sinkDir(pass, passKind, "split")))
      }
      computed("count")(TextPipeline.bigramProbabilitiesFromWords(words))
      runOp(pass, passKind, "sink_results", ss) { _ =>
        phase("sink")(ReferenceSink.writeCounts(probs, "bigram", "cnt",
          sinkDir(pass, passKind, "results")))
      }
      runOp(pass, passKind, "sink_probs", ss) { _ =>
        phase("sink")(ReferenceSink.writeCounts(probs, "bigram", "p",
          sinkDir(pass, passKind, "probabilities")))
      }
      computed("onlyone")(TextPipeline.onlyOneProbabilitiesFromWords(words))
    }

    // The listener bus is asynchronous and drops the events still queued
    // for a listener when it is removed, so wait for the last operation's
    // job, stage and task ends first.
    def stopTracing(): Unit = {
      trace.quiesce()
      spark.sparkContext.removeSparkListener(trace)
      traceOn = false
    }

    def runPass(pass: Int, passKind: String, traced: Boolean): Unit = {
      if (traced && !traceOn) { spark.sparkContext.addSparkListener(trace); traceOn = true }
      if (!traced && traceOn) stopTracing()
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      val host0 = hostJiffies()
      val (_, s) = span("pass", s"$passKind $pass") {
        if (kind == "wordlist") wordlistPass(pass, passKind)
        else order.foreach(q => mixOp(pass, passKind, q))
      }
      val host1 = hostJiffies()
      val total = host1._1 - host0._1
      passes += PassRecord(pass, passKind, traced, (s.end - s.start) / 1e3,
        if (total > 0) (host1._2 - host0._2).toDouble / total else 0.0, s.id)
    }

    // The check pass also counts the stream input rows per pass (a
    // throughput denominator), so the listener is attached to it.
    runPass(0, "check", traced = tracing || queries.exists(_.endsWith("_stream")))
    if (kind == "mix")
      Files.write(out.resolve("check").resolve("oracle_sql.json"),
        queries.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
          .mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
    for (w <- 1 to warmS.toInt) runPass(w, "warmup", traced = false)
    val firstTimedMs = Clock.nowMs
    var p = warmS.toInt + 1
    var timed = 0
    // at least two untraced passes, and with trace 1 two traced ones too,
    // so that no median and no overhead is a single sample
    val minTimed = if (tracing) 4 else 2
    def cleanTimed = passes.count(r => r.kind == "timed" && !r.traced && r.clean)
    while (timed < minTimed || Clock.nowMs - firstTimedMs < seconds * 1e3 ||
        (cleanTimed < 2 && timed < minTimed + ExtraPasses)) {
      runPass(p, "timed", traced = tracing && timed % 2 == 0)
      p += 1; timed += 1
    }
    spans += Span(rootId, -1, "workload", kind, rootStart, Clock.nowMs)
    val peakRssMb = vmHwmMb()
    if (traceOn) stopTracing()
    val (opMetrics, extra, batches) = trace.attribute(spans.toSeq, opSession.toMap, () => newId())
    val allSpans = spans.toSeq ++ extra
    val self = Trace.selfTimes(allSpans)
    spark.stop()

    // ---- result ----
    val sb = new StringBuilder
    val J = Json
    sb ++= "{"
    sb ++= s""""session_ready_ms":${J.num(sessionReadyMs)},"first_timed_ms":${J.num(firstTimedMs)},"""
    sb ++= s""""cores":$cores,"peak_rss_mb":${J.num(peakRssMb)},"""
    sb ++= "\"passes\":" + passes.map(r =>
      s"""{"pass":${r.pass},"kind":${J.str(r.kind)},"traced":${r.traced},"wall_s":${J.num(r.wallS)},""" +
        s""""steal_share":${J.num(r.stealShare)},"clean":${r.clean}}""")
      .mkString("[", ",", "]") + ","
    sb ++= "\"ops\":" + ops.map { r =>
      val m = opMetrics.getOrElse(r.spanId, Map.empty) ++
        statePeaks.get(r.spanId).toSeq.flatMap { case (rows, bytes) =>
          Seq("streaming.state_rows_peak" -> rows.toDouble,
            "streaming.state_bytes_peak" -> bytes.toDouble) }
      val phases = allSpans.filter(_.parent == r.spanId)
        .groupBy(_.kind).map { case (k, v) => k -> v.map(s => s.end - s.start).sum / 1e3 }
      s"""{"pass":${r.pass},"kind":${J.str(r.passKind)},"traced":${r.traced},""" +
        s""""op":${J.str(r.op)},"wall_s":${J.num(r.wallS)},"status":${J.str(r.status)},""" +
        s""""error":${J.str(r.error)},"phases":${J.obj(phases)},"metrics":${J.obj(m)},""" +
        s""""batch_ms":${batches.getOrElse(r.spanId, Nil).mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]") + ","
    // self time per span kind, per pass
    val passOf = mutable.Map.empty[Int, Int]
    val byId = allSpans.map(s => s.id -> s).toMap
    def passOfSpan(id: Int): Int = passOf.getOrElseUpdate(id, {
      val s = byId(id)
      if (s.kind == "pass") passes.find(_.spanId == id).map(_.pass).getOrElse(-1)
      else if (s.parent < 0) -1 else passOfSpan(s.parent)
    })
    val selfByPass = allSpans.groupBy(s => passOfSpan(s.id)).map { case (pp, ss) =>
      pp -> ss.groupBy(_.kind).map { case (k, v) => k -> v.map(s => self(s.id)).sum / 1e3 }
    }
    sb ++= "\"self_s\":" + selfByPass.toSeq.sortBy(_._1).map { case (pp, m) =>
      s"""{"pass":$pp,"self":${J.obj(m)}}""" }.mkString("[", ",", "]")
    sb ++= "}"
    Files.write(out.resolve("result.json"), sb.toString.getBytes(StandardCharsets.UTF_8))
    if (tracing) {
      val lines = allSpans.sortBy(_.start).map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"kind":${J.str(s.kind)},"name":${J.str(s.name)},""" +
          s""""start_ms":${J.num(s.start)},"end_ms":${J.num(s.end)},"self_ms":${J.num(self(s.id))}}""")
      Files.write(out.resolve("spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }

  /** (all, stolen) jiffies of the machine's CPUs, from `/proc/stat`. */
  private def hostJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  /** The harness JVM's peak resident set (`VmHWM`), in MiB. */
  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }
      .mkString("{", ",", "}")
}
