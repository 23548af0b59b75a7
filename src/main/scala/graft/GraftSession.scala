package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession configuration for the graft engine.
  *
  * Scale posture (SURVEY.md §4.3): AQE on (runtime shuffle coalescing +
  * skew-join handling replaces the reference's hard-coded `coalesce(13)`,
  * see /root/reference/data_processing/batch_processing/
  * batch_process_Bronze_to_Silver.py:91), LAST_WIN map dedup to match the
  * reference's Python `dict.update` merge semantics
  * (batch_process_Bronze_to_Silver.py:81), and nanos-as-long so a
  * nanosecond-precision event-time parquet reads as epoch-nano BIGINT
  * (Spark has no TIMESTAMP(NANOS) type; integer event-times also make
  * cross-engine comparisons exact). Fixture generations have shipped both
  * nano and micro event-time precision — graft.sources.Tables.tsUsOf
  * normalizes either to epoch-micros BIGINT.
  */
object GraftSession {

  /** Configs applied to any session, including ones created externally
    * (the perfbench harness owns its builder; it calls [[tune]]). */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.ext.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.compression.codec", "snappy")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // Join strategy (guide §3.1): let the planner pick a shuffled-hash
    // join when its size conditions hold instead of always preferring
    // sort-merge — SHJ skips both sort passes, and the risk (a build-side
    // partition that outgrows memory) is bounded by the same size checks
    // the planner already applies. The AQE threshold additionally
    // rewrites an already-planned SMJ to SHJ at runtime when EVERY
    // post-shuffle partition is under 64 MB (default 0 = never) — a
    // size-gated, scale-graceful rewrite: at cluster scale partitions
    // sized to the 100 MB-1 GB guidance simply keep the SMJ.
    // DEPLOYMENT NOTE (r17 ADVICE #1): unlike the AQE rewrite below
    // (gated on ACTUAL runtime partition sizes), this static preference
    // decides from size ESTIMATES, which can be badly wrong after
    // filters — a cluster deployment that prefers SMJ's graceful spill
    // can re-set this to true AFTER tune() (later .config wins on the
    // same builder) without touching the runtime-gated threshold.
    .config("spark.sql.join.preferSortMergeJoin", "false")
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      (64L * 1024 * 1024).toString)
    // Long-lived-driver hygiene: the app/SQL status stores retain
    // per-execution detail — including FULL plan strings, which for
    // literal-heavy plans (PQ/IVF codebooks, q24's hyperplane tables)
    // run to megabytes each — for 1000 executions by default, UI
    // enabled or not. A driver that issues hundreds of queries
    // accumulates that as old-gen heap and pays the GC tax on
    // whatever runs LAST (measured on the bench suite: q239 warm
    // pass 2.9 s with 68 queries of retained state vs 9.5 s with
    // 262). Production services sizing drivers for query THROUGHPUT
    // want the same bounds.
    .config("spark.sql.ui.retainedExecutions", "16")
    .config("spark.ui.retainedJobs", "200")
    .config("spark.ui.retainedStages", "200")
    .config("spark.ui.retainedTasks", "2000")
    .config("spark.ui.retainedDeadExecutors", "10")

  /** Cores for a harness session: `SPARK_GRAFT_CPUS`, else the available
    * processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Stop `spark`, the JVM-global state-store machinery first. Its
    * maintenance pool is not tied to the context: providers loaded by
    * finished streaming replays keep pinging the StateStoreCoordinator on
    * their 60s cadence, and once the context stops those pings surface as
    * RpcEndpointNotFoundException retries in whatever runs next (seen in
    * the bench tail between chunk sessions). `StateStore.stop()` unloads
    * the providers and parks the pool; the next session's first stateful
    * query restarts it. */
  def stop(spark: SparkSession): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case e: Exception =>
      System.err.println(s"[graft] state-store stop skipped: ${e.getMessage}") }
    spark.stop()
  }
}
