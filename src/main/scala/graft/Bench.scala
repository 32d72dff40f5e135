package graft

/** Driver-run benchmark: every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Output protocol: after EVERY cell completes, the cumulative result
  * line (`{"metric":"total",...}`) is re-printed to stdout. Each line is
  * a valid, complete bench artifact over the cells finished so far, so
  * a timeout or kill at any point still leaves the last printed line as
  * a usable partial result. Consumers take the LAST matching line.
  *
  * Pass policy — fixed, judged inside the run, no cross-run prior:
  *   - batch cells: one untimed warm-up pass (JIT + whole-stage-codegen
  *     compilation dominate cold runs), then [[BatchPasses]] timed
  *     passes;
  *   - streaming-sink cells (`*_stream`): [[StreamPasses]] timed passes,
  *     no warm-up (the first stream invocation in a JVM pays ~1.5 s of
  *     micro-batch planner/state-store JIT, which the second pass
  *     sheds);
  *   - a failed pass ends its cell; failed samples never enter the
  *     summary, and a cell with no good sample reports -1;
  *   - a global wall budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default
  *     1500 s) degrades the policy to one pass without warm-up once
  *     exceeded, so the tail of the suite still produces numbers.
  * `queries` holds each cell's min and `value` the sum of mins. The
  * full artifact line also carries `cells`: per cell the min, median,
  * sample count n and spread = (max − min) / median, so a noisy cell
  * is visible in the run that measured it (see [[Cell]]).
  *
  * Per-cell wall time goes to stderr as it happens, so a stall is
  * attributable to a specific cell.
  */
object Bench {
  /** Timed passes per batch cell, after one untimed warm-up. */
  val BatchPasses = 3
  /** Timed passes per streaming-sink cell. */
  val StreamPasses = 2

  /** One cell's timed samples, summarized. Failed passes (negative
    * samples) are excluded; a cell with none left has n = 0 and reports
    * -1 for min and median. Spread is (max − min) / median over the good
    * samples: 0 for a single sample, and the number to read before
    * trusting a min. */
  final case class Cell(min: Double, median: Double, n: Int, spread: Double)

  object Cell {
    def of(samples: Seq[Double]): Cell = {
      val ok = samples.filter(_ >= 0).sorted
      if (ok.isEmpty) Cell(-1.0, -1.0, 0, 0.0)
      else {
        val n = ok.size
        val median =
          if (n % 2 == 1) ok(n / 2) else (ok(n / 2 - 1) + ok(n / 2)) / 2.0
        val spread = if (median > 0) (ok.last - ok.head) / median else 0.0
        Cell(ok.head, median, n, spread)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500").toDouble
    val spark = Graft.localSession("graft-bench")
    // ERROR, not WARN: the take-the-last-line artifact protocol must
    // survive a TIMEOUT KILL, where the capture is cut at an arbitrary
    // point. At WARN, Spark logs steadily DURING queries ("Broadcasting
    // large task binary" fires per stage), so a mid-query cut leaves a
    // WARN line after the last compact JSON line (measured: a SIGTERM at
    // query 19 left ten of them trailing and strict last-line extraction
    // failed). At ERROR the only steady-state output is the per-cell
    // stderr progress line followed by the stdout JSON line, so any cut
    // point leaves a JSON line last (the shutdown-hook re-print cannot
    // be relied on under a timeout: killing sbt does NOT kill this
    // forked JVM — it ORPHANS with a broken stdout pipe and keeps
    // running, so no hook fires at the cut point).
    spark.sparkContext.setLogLevel("ERROR")

    // Same-data baseline cells: the bigram pipeline over the reference
    // corpus, the exact 354,984-word file behind every BASELINE.md
    // number (6.238 s `main`, 7.379 s `onlyOne`). Bench-only, like the
    // shared_* rows: no oracle entry (the VALUES are golden-pinned by
    // ReferenceCorpusSpec) — only a timing over the bytes the reference
    // timed. The artifact carries the corpus's own word count as
    // `reference_corpus_words`, so an env override to a tiny fixture
    // cannot ship a flattering number unnoticed; when the corpus is
    // unreadable both cells are skipped and `reference_cells` says
    // "missing".
    val refCorpus = sys.env.getOrElse(
      "SPARK_GRAFT_REFERENCE_CORPUS", "/root/reference/354984si.ngl")
    def refWords() =
      sources.WordListSource.read(spark, refCorpus, referenceQuirk = true)
    val refCorpusWords: Option[Long] =
      try Some(refWords().count())
      catch {
        case e: Exception =>
          System.err.println(
            s"[bench] reference corpus $refCorpus unreadable: ${e.getMessage}")
          None
      }
    val benchOnly: Map[String, () => org.apache.spark.sql.DataFrame] =
      if (refCorpusWords.isEmpty) Map.empty
      else Map(
        "bigram_reference_corpus" -> (() =>
          operators.TextPipeline.bigramProbabilitiesFromWords(refWords())),
        "bigram_reference_corpus_onlyone" -> (() =>
          operators.TextPipeline.onlyOneProbabilitiesFromWords(refWords())))
    // "pending" until both cells have run (they run last)
    var referenceCells = if (refCorpusWords.isEmpty) "missing" else "pending"

    def runOnce(name: String): Double = {
      // operators may persist shared subtrees within a query; drop those
      // caches so every timed run recomputes from the source. EXCEPTION:
      // Dedup's sharedEdges memo (localCheckpoint, not SQL cache)
      // survives deliberately — clustering/propagation timed passes
      // measure CONSUMER cost over the once-materialized graph, the
      // documented shared-intermediate design (SCALE.md)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try benchOnly.get(name).map(_())
        .getOrElse(SparkEntry.queries(name)(spark, sfDir))
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    /** Up to `k` timed samples; a failed pass ends the cell. */
    def timed(name: String, k: Int): Seq[Double] = {
      val samples = scala.collection.mutable.ArrayBuffer[Double]()
      while (samples.size < k && !samples.exists(_ < 0))
        samples += runOnce(name)
      samples.toSeq
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    val streaming = names.filter(_.endsWith("_stream")).toSet
    val benchStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchStart) / 1e9

    // --- environment-contamination telemetry ---------------------------
    // Two measured contamination modes move timings without touching
    // code: an ORPHANED sibling JVM from a killed sbt run (74/258
    // queries 1.3-1.9x high, uniformly) and general host load. The
    // artifact records both at startup. A sibling is any OTHER java
    // process whose command line mentions this repo's code ("graft" —
    // the forked classpath and the sbt runMain args both carry it),
    // excluding this process and its ancestor chain (the parent sbt's
    // own args say "graft.Bench").
    val siblingJvms: Int = try {
      val self = ProcessHandle.current()
      val ancestors = Iterator.iterate(Option(self))(
        _.flatMap(h => Option(h.parent().orElse(null))))
        .takeWhile(_.isDefined).take(16).flatten.map(_.pid()).toSet
      import scala.jdk.CollectionConverters._
      ProcessHandle.allProcesses().iterator().asScala.count { h =>
        !ancestors.contains(h.pid()) && {
          val info = h.info()
          val cmd = info.command().orElse("")
          val line = cmd + " " +
            info.arguments().orElse(Array.empty[String]).mkString(" ")
          cmd.contains("java") && line.contains("graft")
        }
      }
    } catch { case _: Exception => -1 }
    val loadAvg: Double = try
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Exception => -1.0 }
    if (siblingJvms > 0)
      System.err.println(s"[bench] WARNING: $siblingJvms sibling graft " +
        s"JVM(s) detected at startup (load_avg=$loadAvg) - timings may " +
        "be contention-contaminated")

    // Whole-suite codegen/JIT pre-warm at a tiny sf: cells whose FIRST
    // executions still carried Janino compilation + C2 warmup +
    // code-cache churn from neighbors read up to 2x high. One untimed
    // sweep at sf0.001 compiles every query's generated classes up
    // front, so the timed loop starts JIT-hot for the whole suite, not
    // just the cell at hand. Disable with SPARK_GRAFT_BENCH_WARM_DIR=""
    // (and it stops starting queries once it has eaten a quarter of the
    // budget).
    val warmDir =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_DIR", "/root/testdata/sf0.001")
    if (warmDir.nonEmpty) {
      val t0 = System.nanoTime()
      val warmCap = budgetSec / 4
      // Parallel: a serial sweep measured >360 s cold (each query pays
      // its own Janino compile + planner warmup serially on the driver
      // thread) — compilation is per-thread work, so an 8-way pool
      // overlaps it. Streaming sinks are excluded: their cost is
      // micro-batch engine overhead, not codegen. No clearCache()
      // inside the sweep (racy across threads); one clear at the end.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val warmed = new java.util.concurrent.atomic.AtomicInteger
      val batch = names.filterNot(streaming)
      for (name <- batch) pool.execute { () =>
        if (elapsed < warmCap) {
          try {
            SparkEntry.queries(name)(spark, warmDir)
              .write.format("noop").mode("overwrite").save()
            warmed.incrementAndGet()
          } catch { case _: Throwable => () }
        }
      }
      pool.shutdown()
      val drained = pool.awaitTermination(
        warmCap.toLong + 60, java.util.concurrent.TimeUnit.SECONDS)
      if (!drained) {
        // stragglers past the cap must not overlap the timed loop (CPU
        // contention + clearCache() racing their cache writes):
        // interrupt them (Spark jobs are interruptible) and wait out the
        // unwind before timing starts
        System.err.println("[bench] pre-warm stragglers at cap; interrupting")
        pool.shutdownNow()
        if (!pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS))
          System.err.println(
            "[bench] WARNING: pre-warm stragglers still running; timed " +
              "passes may be contaminated")
      }
      spark.catalog.clearCache()
      System.err.println(
        f"[bench] pre-warm sweep at $warmDir: ${warmed.get}/${batch.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    val cells = scala.collection.mutable.LinkedHashMap[String, Cell]()
    // Self-contained artifact: the log capture keeps only a tail, which
    // front-truncates the (>2000 char) full cumulative line — so the
    // full line is also rewritten to a file after every cell: always one
    // complete, parseable JSON object regardless of how the stdout
    // capture was sliced.
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LIVE.json"))
    // The LAST stdout line of the whole process must be the compact
    // JSON artifact line (the take-the-last-line protocol; see
    // build.sbt's outputStrategy/showSuccess notes). A shutdown hook
    // re-prints it at JVM exit — after Spark's own stop banners — and
    // mirrors it to stderr as a second survival channel for captures
    // that interleave the two streams. Registered through HADOOP's
    // ShutdownHookManager at priority 1, NOT Runtime.addShutdownHook:
    // raw JVM hooks run CONCURRENTLY, so Spark's teardown logging could
    // land after the re-printed line; Hadoop runs its hooks sequentially
    // in descending priority, and all of Spark's shutdown is one hook at
    // priority 30, so priority 1 prints strictly after it. This covers
    // NORMAL exits only; the timeout path is covered by the quiet
    // steady-state output at log level ERROR (see setLogLevel above).
    val lastCompact =
      new java.util.concurrent.atomic.AtomicReference[String](null)
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        override def run(): Unit = {
          val c = lastCompact.get()
          if (c != null) {
            println(c); Console.out.flush()
            System.err.println(c); System.err.flush()
          }
        }
      }, 1)
    def emit(): Unit = {
      def fmt(v: Double): String = // 4dp: 0.1 ms grain, keeps lines short
        BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
      def secs(s: Iterable[(String, Double)]): String =
        s.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
      val mins = cells.map { case (k, c) => k -> c.min }
      val total = mins.valuesIterator.filter(_ >= 0).sum
      val summaries = cells.map { case (k, c) =>
        s""""$k":{"min":${fmt(c.min)},"median":${fmt(c.median)},""" +
          s""""n":${c.n},"spread":${fmt(c.spread)}}"""
      }.mkString("{", ",", "}")
      val envFields =
        s""""sibling_jvms":$siblingJvms,"load_avg":${fmt(loadAvg)},""" +
          s""""reference_cells":"$referenceCells"""" +
          refCorpusWords.map(n => s""","reference_corpus_words":$n""")
            .getOrElse("")
      // cumulative: every written line is a complete artifact so far
      val line =
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${secs(mins)},"cells":$summaries,$envFields,"sf":"$sfDir"}"""
      // stdout carries a COMPACT line (<2 KB) instead of the full one:
      // a consumer that keeps only a bounded TAIL of stdout
      // front-truncated the full line (>7 KB at 258 cells) past
      // parseability. Totals + worst-10 + the reference's headline
      // pipeline always fit; the full per-cell map lives in the file
      // named by `full_artifact`. Same take-the-LAST-line protocol.
      val worst = mins.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(10)
      val headliners = Seq("bigram_probs", "bigram_probs_onlyone",
        "bigram_counts", "trigram_counts", "word_topk")
        .flatMap(n => mins.get(n).map(n -> _))
      val compact =
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${secs((worst ++ headliners).distinct)},""" +
          s""""queries_done":${cells.size},$envFields,"full_artifact":"${outFile.getFileName}","sf":"$sfDir"}"""
      lastCompact.set(compact)
      println(compact)
      Console.out.flush()
      // atomic replace (write temp + move) so a kill mid-write can never
      // leave a truncated artifact, and guarded so an unwritable cwd
      // degrades to the stdout protocol instead of aborting the suite
      try {
        val tmp = outFile.resolveSibling(outFile.getFileName.toString + ".tmp")
        java.nio.file.Files.writeString(tmp, line + "\n")
        java.nio.file.Files.move(tmp, outFile,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
          // the stdout line is COMPACT (worst-10 + headliners only), so an
          // unwritable cwd would otherwise lose the full per-cell map
          // entirely — fall back to printing the full line
          println(line)
          Console.out.flush()
      }
    }

    // Pre-materialize the shared edge graphs before any timed pass, and
    // ship each build as its OWN cell (`shared_*`, the Scaling naming):
    // consumers then measure CONSUMER cost over the memoized graph, and
    // a slow build shows up attributed to the build cell instead of
    // smearing onto whichever consumer runs first. One sample by nature
    // (the memo makes a second pass free), but the sf0.001 pre-warm
    // sweep above has already compiled the codegen for these pipelines,
    // so the single sample is JIT-warm.
    for ((kind, build) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "shared_prefix_edges" -> (() => operators.Dedup.nearDupEdgesShared(spark, sfDir)),
        "shared_minhash_edges" -> (() => operators.Dedup.minhashEdgesShared(spark, sfDir)),
        "shared_embedding_edges" -> (() => operators.Dedup.embeddingEdgesShared(spark, sfDir)),
        "shared_truth_pairs" -> (() => operators.Dedup.truthPairsShared(spark, sfDir)))) {
      val t0 = System.nanoTime()
      val sec = try { build(); (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $kind build failed: ${e.getMessage}")
            -1.0
        }
      cells(kind) = Cell.of(Seq(sec))
      System.err.println(f"[bench] $kind%-34s min=$sec%8.3f s  (shared-build)")
      spark.catalog.clearCache()
      emit()
    }

    // benchOnly cells run through the same pass policy after the
    // SparkEntry names (and are excluded from the sf0.001 pre-warm: they
    // read the fixed reference corpus, and their warm-up pass covers JIT)
    for (name <- names ++ benchOnly.keys.toSeq.sorted) {
      val qStart = elapsed
      val (samples, mode) =
        if (qStart > budgetSec) (timed(name, 1), "budget-1pass")
        else if (streaming(name)) (timed(name, StreamPasses), "stream")
        else { runOnce(name); (timed(name, BatchPasses), "batch") }
      val c = Cell.of(samples)
      cells(name) = c
      System.err.println(
        f"[bench] $name%-34s min=${c.min}%8.3f s  median=${c.median}%8.3f s  n=${c.n}  spread=${c.spread}%.3f  wall=${elapsed - qStart}%8.3f s  elapsed=$elapsed%8.1f s  ($mode)")
      if (benchOnly.nonEmpty && benchOnly.keySet.subsetOf(cells.keySet))
        referenceCells = "ran"
      emit()
    }
    spark.stop()
  }
}
