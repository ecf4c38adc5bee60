package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The one session every entry point runs in (`Bench`, `Verify`,
  * `Cli`, `Explain`, `DataGen`; the specs too): one config, so the plans
  * `Explain` dumps and `Verify` checks are the plans `Bench` times, and
  * the engine's SQL functions and optimizer rule in every session. */
object GraftSession {

  /** Cores of the local master: `SPARK_GRAFT_CPUS`, else every
    * processor the JVM sees. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The live session, or a new one with the engine's config. Either
    * way `GraftExtensions` is installed (idempotently). */
  private[graft] def getOrCreate(
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the NTZ-layout events read casts ts NTZ→LTZ; UTC makes that
      // value-preserving regardless of the host's TZ (see queries.Shared.T)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet's timestamp[ns] layout reads only as a long
      // (queries.Shared.T converts it)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Split small files across cores: the default 128 MB split keeps a
      // whole sf0.1 table in ONE scan task (measured: d3_vocab runs its
      // scan+explode+partial-agg single-threaded while 31 cores idle).
      // On a real cluster the input is thousands of row groups anyway —
      // a small split size reproduces that parallelism at bench scale.
      .config("spark.sql.files.maxPartitionBytes", s"${1024 * 1024}")
      // Lazy localCheckpoint blocks from a FINISHED query stay in the
      // unified manager's protected storage region until their RDD
      // objects are garbage-collected AND the ContextCleaner drops the
      // blocks — and the cleaner's own GC trigger defaults to 30 min
      // (spark.cleaner.periodicGC.interval), far longer than a bench
      // query. In a multi-query JVM at a memory-tight scale point the
      // residue shrinks every later query's execution share by up to
      // storageFraction (measured r19: the 1000×/8 GiB probe set OOMed
      // t137 on ~2.4 GiB of dead t10/t145 checkpoint blocks, while
      // t137 alone passed cold at 201 s). A 1-minute interval frees
      // dead blocks between queries without touching any live ones —
      // value- and measurement-neutral (each query still computes from
      // parquet; nothing a query NEEDS is dropped).
      .config("spark.cleaner.periodicGC.interval", "1min")
      // The generated-class cache (CodeGenerator.cache) holds only 100
      // entries by default; this suite compiles ~205 query shapes ×
      // several WholeStageCodegen/ordering/predicate units each, so by
      // the time a timed pass reaches query i, the class the warmup
      // pass janino-compiled for it has been evicted and EVERY query
      // recompiles in BOTH timed passes — pure, repeated driver-side
      // overhead that exists only because many plans share one JVM.
      // Sizing the cache to the session's real working set is the
      // production setting for any multi-query/BI-style session; it is
      // core-count- and scale-independent (classes are keyed on plan
      // shape, not data), and measurement-honest: nothing data-derived
      // is cached, every query still computes from parquet. Measured
      // on the full suite (same box, same min-of-2 harness, r20): total
      // 152.0 s → 107.3 s (−29%), 205/205 ok, zero per-query
      // regressions — EVERY query improved, the sub-second tail alone
      // 64.9 → 45.9 s. 10000 entries ≈ generated classes for ~10× the
      // current suite; the cache is bounded and weak-ref'd, so an
      // oversized value costs nothing.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }

  /** Runs `body` in the live session or a new one, and stops the
    * session afterwards only if this call started it: a caller's
    * session (a spec, or a harness that drives `main` in its own JVM)
    * outlives the call. */
  def run[A](body: SparkSession => A): A = {
    val pre = SparkSession.getDefaultSession
      .orElse(SparkSession.getActiveSession)
    val spark = getOrCreate()
    try body(spark)
    finally if (pre.isEmpty) spark.stop()
  }
}
