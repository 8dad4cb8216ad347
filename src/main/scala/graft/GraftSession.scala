package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Session factory for the graft engine.
 *
 * Every knob is chosen for cluster semantics: AQE handles runtime
 * coalescing and skew joins, the broadcast threshold keeps dimension joins
 * shuffle-free, and shuffle partitions scale with the session's core count
 * rather than Spark's static 200 default.
 */
object GraftSession {

  /** Build a local session; `cpus` drives parallelism-dependent confs. */
  def local(cpus: Int, appName: String = "graft"): SparkSession =
    tune(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .withExtensions(new graft.functions.GraftExtensions)
      .appName(appName).getOrCreate()

  /** Apply graft's conf set to any builder (cluster deploys reuse this). */
  def tune(b: SparkSession.Builder, parallelism: Int): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", parallelism.toString)
    // several overflow contracts (power-method sums, HITS renorm) promise
    // a LOUD ANSI failure at the int64 boundary instead of null/wrap —
    // pin the Spark 4 default explicitly so a user profile can't break it
    .config("spark.sql.ansi.enabled", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.filterPushdown", "true")
    // Janino-compiled codegen units are cached by generated source in a
    // JVM-global LRU whose 100-entry default thrashes under this engine's
    // workload: one iterative graph query alone generates 130-220 units
    // per run (every Boruvka/Louvain/PageRank round re-binds the same
    // plan shapes), so warm re-runs recompiled EVERYTHING (measured
    // janino=150x/~2s per warm q239 run; the multi-query catalog evicts
    // across queries too). 4096 entries holds the whole catalog's units;
    // the code cache itself is already sized (ReservedCodeCacheSize=2g).
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    // That cache is keyed by (task context classloader, code). With
    // artifact isolation on (the Spark 4 default), every writeStream.start()
    // runs in a cloned session with a fresh UUID, so its executor tasks get
    // a fresh classloader and recompile the whole batch plan: 9 janino
    // compiles per SyncRunner.runContinuous, every time. graft adds no
    // session artifacts (no addArtifact or addJar), so isolation buys
    // nothing here; off, a restarted stream reuses its earlier code.
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config("spark.ui.enabled", "false")

  /** Read one of the warehouse tables under `sfDir` with its on-disk schema. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
