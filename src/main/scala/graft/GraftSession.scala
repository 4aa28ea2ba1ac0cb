package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-oriented defaults every entry point shares.
  *
  * Tuned for the driver's local[N] harness but written for a real cluster:
  * AQE handles runtime re-planning (skew joins, partition coalescing), the
  * broadcast threshold covers every dimension table in the star schema, and
  * shuffle partitions track the executor thread count instead of the 200
  * default (on a 1000-executor cluster this is overridden by
  * spark.sql.adaptive coalescing anyway). Every session on the context,
  * new, cloned or streaming, shares one classloader and one codegen cache,
  * so a generated class is compiled once per JVM.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Master override for the multi-JVM execution leg: every gate to date ran
    * in ONE JVM (local[N]), where closure serialization, broadcast shipping,
    * task-result transport and the custom TypedImperativeAggregates'
    * serialize/merge paths are structurally unexercised.
    * `SPARK_GRAFT_MASTER=local-cluster[2,2,2048]` runs an in-process
    * master + 2 workers that spawn REAL separate executor JVMs (requires
    * SPARK_HOME so the workers can build the executor classpath — see
    * scripts/localcluster-run.sh).
    */
  def master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  /** JDK17 add-opens mirrored from build.sbt/run-main.sh — separate executor
    * JVMs need them too (Platform.allocateDirectBuffer, calendar reflection).
    */
  private val AddOpens: String = {
    val pkgs = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
      "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
      "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    pkgs.map(p => s"--add-opens=java.base/$p=ALL-UNNAMED").mkString(" ")
  }

  def builder(appName: String = "graft"): SparkSession.Builder = {
    val b = SparkSession
      .builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .master(master)
    if (master.startsWith("local-cluster")) {
      // Executors are separate processes: ship the library classes and the
      // JDK17 opens; size spark.executor.memory to the worker slot from the
      // master string (default 1g would strand the rest of the slot).
      val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
      val memMb = "local-cluster\\[\\s*\\d+\\s*,\\s*\\d+\\s*,\\s*(\\d+)".r
        .findFirstMatchIn(master).map(_.group(1)).getOrElse("1024")
      b.config("spark.executor.extraClassPath", classesDir)
        .config("spark.executor.extraJavaOptions", s"$AddOpens -Duser.timezone=UTC")
        .config("spark.executor.memory", s"${memMb}m")
    }
    b
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Partition count must track DATA VOLUME, not the constant above:
      // with a fixed 32, a 10× corpus packs 10× the keys into each
      // reduce-side hash-agg and tips it into spill (measured: the sf10
      // probe's copurchase-edge build went 16× for 10× data). Start every
      // exchange at 8×threads and let AQE coalesce down to the advisory
      // size — small inputs still collapse to a handful of partitions,
      // large ones keep per-partition state bounded.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cpus.toInt * 8).toString)
      // parallelismFirst=true (the Spark default) refuses to coalesce
      // below defaultParallelism. Round 10 traded it for size-first
      // coalescing on a 6-query subset measurement; the round-11 re-audit
      // with wider subsets reversed that call: size-first collapses
      // MID-SIZE shuffles (e.g. q16's ~400 k distinct-triple exchange,
      // ~12 MB — under the 16 MB advisory it runs the final distinct agg
      // on ONE task) and the loss is general, not a q16 quirk. Measured
      // pf=true vs pf=false, 3-trial medians, same host back-to-back:
      // 14-query sf0.1 subset 20.4 vs 28.2 s (q_assoc_rules 1.51 vs
      // 3.10 s, graph_components 4.49 vs 7.42 s, dedup_idf_jaccard 2.81
      // vs 4.24 s — the r10 "regressions" were this knob); 5 heavy
      // queries at sf1 24.2 vs 32.5 s; sf10 graph family a wash (71.0 vs
      // 73.2 s single-trial). Keeping parallelism beats packing bytes on
      // a 32-thread executor, and on a real cluster the advisory below
      // still bounds partition bloat.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (16L * 1024 * 1024).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // FileOutputCommitter v2 moves task output into place at task
      // commit instead of double-renaming at job commit — on the
      // streaming micro-batch path (2 sinks per batch; a 60 k-row
      // cdc_backlog batch writes 4 tasks per sink) the v1 job-commit
      // rename fan-out is pure fixed cost per batch.
      // v2's known caveat (partial output visible if the JOB fails
      // mid-commit) is covered here by the idempotent batch=<id>
      // directory overwrite: a batch whose sink write fails is never
      // committed to the checkpoint, so the restart replays it and
      // overwrites that batch's directory whole.
      // Session-global caveat: BATCH parquet writes in this session get v2
      // too, so a failed batch job can leave partially-visible output for
      // a consumer that doesn't re-overwrite. Acceptable here because every
      // batch write in this repo is an overwrite into a fresh/per-run dir
      // (bench/verify/test scratch); a library consumer embedding
      // GraftSession for durable batch ETL should override this back to v1.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's reader
      // rejects; read as raw nanos and convert in the loader (Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // timestamp[us] fixture columns are NOT UTC-adjusted (isAdjustedToUTC
      // = false); read them as TimestampType under the UTC session instead
      // of TIMESTAMP_NTZ so epoch_ms semantics match the DuckDB oracle and
      // every time function (unix_millis, window, watermark) stays usable
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // Compile each generated class once per JVM. Spark caches a
      // compiled class under (thread context classloader, generated
      // code). With artifact isolation on (the default) every new or
      // cloned session gets its own executor classloader, so each
      // `spark.newSession()` (one per llm_curate job) and each streaming
      // query start (a cloned session) compiled its classes again with
      // Janino, and the JIT started over on the reloaded classes. Nothing
      // here adds session artifacts or runs Spark Connect, so all
      // sessions share the one loader. Measured on a 4-core host with the
      // perfbench workloads: a warm cdc_backlog drain compiled 10 classes
      // with isolation on and 0 with it off.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Static conf: the size of the JVM-wide codegen cache (default 100).
      // One llm_curate job generates ~115 distinct classes, so the default
      // cache evicted its own working set: a warm job compiled ~100
      // classes with both defaults, 65-80 with either setting alone and 0
      // with both. With one loader the cache holds at most 1000 classes;
      // metaspace after five curate jobs read 162.2 MB, against 164.2 MB
      // with both defaults.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
  }

  /** Local-bench file splits: the sf0.1 tables are single ~1-10 MB parquet
    * files, far below the 128 MB default split size — without this the
    * whole lineitem scan is one task on a 32-thread executor. A real
    * cluster dataset has many files and keeps the default.
    */
  val localFileSplits: Map[String, String] = Map(
    "spark.sql.files.maxPartitionBytes" -> (2L * 1024 * 1024).toString,
    "spark.sql.files.openCostInBytes"   -> (256L * 1024).toString
  )

  /** The session `graft.Bench` times (and `tools.Profile` profiles):
    * `builder` plus `localFileSplits`.
    */
  def benchBuilder(appName: String): SparkSession.Builder =
    builder(appName).config(localFileSplits)

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
