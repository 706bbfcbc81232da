package graft.core

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SessionConfBridge

/** Session factory with the engine's scale-oriented defaults.
  *
  * The reference (AWS Glue PySpark jobs) relies on Glue's session defaults;
  * our engine pins the settings that matter at 100 TB: AQE (runtime coalesce,
  * skew-join splitting, SMJ→BHJ demotion), partition counts sized to cores in
  * local mode, and a UTC session so date arithmetic is reproducible against
  * the DuckDB oracle.
  */
object Sessions {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Capacity of Spark's generated-class cache (Spark's default: 100).
    * The cache is LRU, JVM-wide, and sized once, when `CodeGenerator`
    * first initializes. The engine's working set is far larger: after
    * its warm-up, `graft.Bench`'s first pass over all 117 catalog entries
    * at sf0.01 compiles 1,481 classes. At 100 entries nearly every lookup
    * missed, and every query re-ran Janino on classes the JVM had already
    * compiled (then HotSpot JITed the fresh copies): the second pass
    * compiled 2,442 classes at 100 entries, 2 at 4096. 4096 leaves
    * ~2.8x headroom over that pass.
    */
  val CodegenCacheEntries = 4096

  /** Spark 4 gives each session UUID its own executor-side class loader
    * while artifact isolation is on (the default), and the codegen cache
    * is keyed on (class loader, code). Every streaming query runs in a
    * cloned session with a fresh UUID, so its tasks recompiled classes
    * the JVM already held (perfbench `lake_ingest`: 38 compiles per
    * round, from its 2 streaming queries; 0 with isolation off). The
    * engine adds no session artifacts (jars, files), so one shared loader
    * loses nothing.
    */
  val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Shuffle partitions: on a real cluster this should be ~2-3× total cores
    * (or left to AQE's coalescing with a high initial number); in local[N]
    * test mode, N is correct — 200 default partitions on 60k rows is pure
    * scheduling overhead.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.scheduler.mode", "FAIR") // concurrent orchestrator jobs share fairly
      // Session-level, set ONCE here — not inside table loaders, where a
      // mid-flight conf write would race concurrent orchestrator jobs.
      // Widens the accepted events.ts encodings: a legacy TIMESTAMP(NANOS)
      // file reads as long (EventTime.canonicalTs converts); current
      // micros-NTZ/TIMESTAMP files don't need it and aren't affected.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(CodegenCacheKey, CodegenCacheEntries.toString)
      .config(ArtifactIsolationKey, "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply the engine's tuning to an externally-provided builder/session
    * (e.g. the driver's Verify/Bench sessions own their master/partitions).
    * Runs once at entry-point setup; loaders never mutate session conf.
    *
    * The codegen cache capacity is a static conf that Spark reads once,
    * from `SQLConf.get`, when `CodeGenerator` initializes — so it is
    * written into this session's SQLConf here, before anything compiles.
    * A value the user set explicitly is kept. If the JVM has already
    * compiled generated code, the capacity is fixed: warn, don't throw.
    * Artifact isolation is turned off the same way, unless set explicitly.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (!SessionConfBridge.isSet(spark, CodegenCacheKey)) {
      if (CodegenMetrics.METRIC_COMPILATION_TIME.getCount > 0)
        log.warn(s"$CodegenCacheKey left unset: this JVM has already compiled " +
          "generated code, so Spark's codegen cache capacity is fixed")
      else SessionConfBridge.setStatic(spark, CodegenCacheKey, CodegenCacheEntries.toString)
    }
    if (!SessionConfBridge.isSet(spark, ArtifactIsolationKey))
      spark.conf.set(ArtifactIsolationKey, "false")
    spark
  }

  /** A child session (own SQLConf, shared SparkContext) with the parent's
    * artifact isolation: `newSession` starts from the SparkConf, so the
    * value `tune` wrote into the parent would otherwise be lost.
    */
  def child(parent: SparkSession): SparkSession = {
    val s = parent.newSession()
    s.conf.set(ArtifactIsolationKey, parent.conf.get(ArtifactIsolationKey))
    s
  }
}
