package graft

import org.apache.spark.sql.SparkSession

/** Library entry point — how an application adopts graft.
  *
  * Either start from [[builder]] (pre-wired extensions + the configs the
  * engine assumes) or call [[install]] on an already-running session.
  * After that, every operator in `graft.operators._` is a plain function
  * over DataFrames, the native expressions are SQL-callable
  * (`ngram_array`, `cosine_similarity`, `topk_agg`, `hist_quantile`, …)
  * and `NativeAsOf.joinAsOf` plans through the custom strategy.
  *
  * Deliberately NOT set in [[builder]]: master, shuffle partitions,
  * memory — those belong to the deployment (spark-submit / cluster
  * manager), not the library. The driver mains (`Bench`, `Verify`,
  * `Scaling`, `ProfPhases`, `Explain`) size them for local mode through
  * [[localSession]]. */
object Graft {

  /** A builder with graft's session extensions and the two configs the
    * engine's semantics rely on: UTC session time (all date/window
    * oracles are UTC-defined) and nanosecond-parquet timestamp reads
    * (`Tables.events`). */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosConf, "true")

  /** Cores for a driver main's local session: `SPARK_GRAFT_CPUS` when
    * set, else every core the JVM sees. */
  def localCores(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS") match {
      case None => Runtime.getRuntime.availableProcessors
      case Some(v) =>
        val n = v.trim.toIntOption.getOrElse(0)
        require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
        n
    }

  /** The local session every driver main runs on: `local[cores]`,
    * shuffle partitions = cores unless the caller overrides them, UTC
    * session time, UI off, nanosecond-parquet reads. No session
    * extensions — the mains measure and verify the plain-DataFrame
    * plans the queries build. */
  def localSession(appName: String,
      shufflePartitions: Option[Int] = None): SparkSession = {
    val cores = localCores()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosConf, "true")
      .getOrCreate()
  }

  /** Install graft on a live session: SQL-registers the native
    * expressions and the as-of strategy/pruning rule (idempotent). */
  def install(spark: SparkSession): SparkSession = {
    GraftFunctions.register(spark)
    graft.plans.NativeAsOf.ensureRegistered(spark)
    if (!spark.conf.getOption(Tables.NanosConf).contains("true"))
      spark.conf.set(Tables.NanosConf, "true")
    spark
  }

  /** The SQL entry surface: register the star schema at `dir` as temp
    * views (plain table names), so every analog is writable as
    * `spark.sql` text — `SELECT … FROM lineitem JOIN orders …` — with
    * the graft native functions available by name after [[install]].
    * `events` registers through [[Tables.events]], so the
    * nanos-vs-micros timestamp normalization applies to the SQL surface
    * too. A temp view over a parquet-backed DataFrame resolves to the
    * SAME LogicalRelation the DataFrame API plans, so SQL text and
    * DataFrame twins optimize to identical plans (`SqlSurfaceSpec`
    * pins canonicalized-plan equality). */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }
}
