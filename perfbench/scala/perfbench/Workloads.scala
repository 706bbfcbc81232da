package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{LakeWriter, Versioned}
import graft.orchestrate.Orchestrator
import graft.orchestrate.Orchestrator.DagJob
import graft.pipeline.{OrdinaryPayment, RunParams, WorkflowType}

/** One timed operation: a delivery, a pass, or a query execution. */
final case class Op(id: String, seconds: Double, ok: Boolean, retries: Int, error: String = "")

/** One read-back check of a round's output against `expected.json`. */
final case class Check(name: String, ok: Boolean, got: String, want: String)

/** A workload: inputs generated once per set-up (by perfbench/inputs.py),
  * then rounds of fixed work. A round runs its operations and then reads
  * back and verifies every output it produced, so one round is one
  * "input to verified result".
  */
trait Workload {
  /** Take the generated inputs under `dir`. */
  def load(dir: String): Unit
  /** Untimed warm pass: codegen, JIT, footers, one-time state (the ANN
    * index). Its outputs are checked like a round's.
    */
  def warm(): Seq[Check]
  /** Run round `r`'s operations, writing under `roundDir`. */
  def round(r: Int, roundDir: String): Seq[Op]
  /** Read back and check everything round `r` produced. */
  def verify(r: Int, roundDir: String): Seq[Check]
  /** Root of the lake the round wrote, if it writes one. */
  def lakeRoot(roundDir: String): Option[String] = None
  /** Input bytes one round delivers to the engine. */
  def roundInputBytes: Long
  /** Read-back time spent inside [[round]] (results checked as produced). */
  def roundReadbackS: Double = 0.0
}

object Workloads {
  val DemoParams = RunParams(WorkflowType.OneTimeInforce, "1995-01-01", "2002-01-01")

  /** Drop cached plans and pins between operations, as `graft.Bench`
    * does between queries, so an operation never finds an earlier one's
    * persisted data.
    */
  def releasePins(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def parquetBytes(root: String): Long = LakeStats.files(root).values.sum

  def deleteTree(p: String): Unit = org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def check(name: String, got: => String, want: Option[String]): Check = {
    val g = Try(got).fold(e => s"error: ${e.getMessage}", identity)
    Check(name, want.contains(g), g, want.getOrElse("<no expected value>"))
  }

  /** Sums that survive re-aggregation across deliveries: users are
    * sliced by user key, so per-delivery distinct-user counts add up.
    */
  def reaggregatedHourly(df: DataFrame): DataFrame =
    df.groupBy("window_start", "event_type")
      .agg(sum("n_events").as("n_events"), round(sum("sum_value"), 2).as("sum_value"),
        sum("n_users").as("n_users"))

  def currentUserState(df: DataFrame): DataFrame =
    df.where(col("is_current")).select("user_id", "last_type", "last_value")

  def survivorKeys(df: DataFrame): DataFrame = df.select("doc_id", "content_hash")

  /** Lake write wrapped in a span; while tracing, the files it leaves
    * behind under `table` are counted into [[LakeStats]].
    */
  def lakeWrite[A](spanName: String, table: String, rewrite: Boolean = false)(body: => A): A =
    if (!Trace.enabled) body
    else {
      val before = LakeStats.files(table)
      val a = Trace.span(spanName)(body)
      val added = LakeStats.files(table) -- before.keySet
      LakeStats.record(added.size, added.values.sum, rewrite)
      a
    }
}

/** File counts of lake writes during a traced round. */
object LakeStats {
  private var filesWritten = 0L
  private var bytesWritten = 0L
  private var bytesRewritten = 0L

  def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(f => f.toString -> Try(Files.size(f)).getOrElse(0L)).toMap
      finally s.close()
    }
  }

  def record(n: Int, bytes: Long, rewrite: Boolean): Unit = synchronized {
    filesWritten += n
    if (rewrite) bytesRewritten += bytes else bytesWritten += bytes
  }

  def drain(): Map[String, Any] = synchronized {
    val m = Map("files_written" -> filesWritten, "mb_written" -> bytesWritten / 1048576.0,
      "mb_rewritten" -> bytesRewritten / 1048576.0)
    filesWritten = 0; bytesWritten = 0; bytesRewritten = 0
    m
  }
}

/** The reference's production shape: the `LakeDemo` DAG once per small
  * delivery, dispatched by the Orchestrator, then a consumer read-back.
  * One job is added to LakeDemo's eight: after each append, the payment
  * documents are published to readers as a versioned snapshot (and
  * superseded versions vacuumed), the publish step of the ODS → lake
  * path.
  */
final class LakeIngest(spark: SparkSession, expected: Map[String, String], deliveries: Int)
    extends Workload {
  import Workloads._
  private var deliveryDirs: Seq[String] = Nil
  private var deliveredBytes = 0L
  /** Orchestrator pool size: fewer threads than the host's 4 cores. */
  val PoolThreads = 3

  val dag: Seq[DagJob] = Seq(
    DagJob("dq_gate"),
    DagJob("payment_documents", Set("dq_gate")),
    DagJob("event_hourly", Set("dq_gate")),
    DagJob("doc_quality", Set("dq_gate")),
    DagJob("user_state_scd2", Set("dq_gate")),
    DagJob("corpus_dedup", Set("dq_gate")),
    DagJob("compact_doc_quality", Set("doc_quality")),
    DagJob("corpus_maintenance", Set("corpus_dedup")),
    DagJob("publish_payment_documents", Set("payment_documents")))

  def load(dir: String): Unit = {
    deliveryDirs = (0 until deliveries).map(d => s"$dir/d$d")
    deliveredBytes = parquetBytes(dir)
  }
  def roundInputBytes: Long = deliveredBytes

  override def lakeRoot(roundDir: String): Option[String] = Some(s"$roundDir/lake")

  /** Deliver `d`: its events file lands in the stream source directory,
    * then the DAG runs over the delivery's tables.
    */
  private def deliver(d: Int, roundDir: String, op: String): (Boolean, Int, String) = {
    val dir = deliveryDirs(d)
    val lake = s"$roundDir/lake"
    val src = Paths.get(s"$roundDir/stream_src")
    Files.createDirectories(src)
    Files.copy(Paths.get(s"$dir/events.parquet"), src.resolve(s"d$d-events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val results = Trace.span("orchestrate.run_dag") {
      val dagSpan = Trace.current
      Orchestrator.runDag(dag, maxConcurrentThreads = PoolThreads, maxAttempts = 2) { job =>
        Trace.span(s"orchestrate.job:${job.id}", op = op, parent = dagSpan) {
          runJob(job.id, dir, lake, roundDir, d)
        }
      }
    }
    releasePins(spark)
    val failures = results.filter(r => r.skipped || r.outcome.isFailure)
    (failures.isEmpty, results.map(_.attempts - 1).sum,
      failures.map(r => s"${r.id}: ${r.outcome.failed.map(_.getMessage).getOrElse("skipped")}")
        .mkString("; "))
  }

  private def runJob(id: String, dir: String, lake: String, roundDir: String, d: Int): Unit = {
    def append(df: DataFrame, table: String): Unit =
      lakeWrite("lake.append", s"$lake/$table") {
        LakeWriter.appendPartitioned(
          df.withColumn("run_index", LakeWriter.runIndexKey(lit("20260812"), d + 1)),
          s"$lake/$table", "run_index")
      }
    id match {
      case "dq_gate" =>
        import graft.ops.DataQuality._
        Trace.span("ops.dq_gate") {
          assertClean(graft.core.Tables.orders(spark, dir), Seq(
            NotNull("o_orderkey"), Unique(Seq("o_orderkey")),
            Accepted("o_orderstatus", Seq("O", "F", "P"))))
        }
      case "payment_documents" =>
        append(Trace.span("pipeline.flattened")(OrdinaryPayment.flattened(spark, dir, DemoParams)),
          "payment_documents")
      case "event_hourly" =>
        append(Trace.span("streaming.events_hourly")(graft.streaming.Streams.eventsHourly(spark, dir)),
          "event_hourly")
      case "doc_quality" =>
        append(Trace.span("ext.quality_features")(graft.ext.TextAnalysis.qualityFeatures(
          graft.core.Tables.documents(spark, dir), "text").select(col("doc_id"), col("quality_score"))),
          "doc_quality")
      case "user_state_scd2" =>
        Trace.span("streaming.scd2_ingest") {
          graft.streaming.Streams.scd2IngestStreamingFrom(spark, s"$roundDir/stream_src",
            s"$lake/user_state", s"$roundDir/stream_ckpt")
        }
      case "corpus_dedup" =>
        Trace.span("ext.dedup_ingest") {
          graft.ext.IncrementalDedup.ingest(
            graft.core.Tables.documents(spark, dir).select(col("doc_id"), col("text")),
            "doc_id", "text", s"$lake/corpus_state")
        }
      case "compact_doc_quality" =>
        lakeWrite("lake.compact", s"$lake/doc_quality", rewrite = true) {
          LakeWriter.compact(spark, s"$lake/doc_quality",
            targetBytes = 256L * 1024 * 1024, partitionCols = Seq("run_index"))
        }
      case "corpus_maintenance" =>
        Trace.span("ext.dedup_state_compact") {
          graft.ext.IncrementalDedup.compactState(spark, s"$lake/corpus_state")
        }
      case "publish_payment_documents" =>
        lakeWrite("lake.publish", s"$lake/payment_current") {
          Versioned.publish(Trace.span("lake.read")(
            LakeWriter.readBack(spark.emptyDataFrame, s"$lake/payment_documents")).drop("run_index"),
            s"$lake/payment_current")
          Versioned.vacuum(s"$lake/payment_current")
        }
    }
  }

  /** A whole round into a scratch lake: a single delivery leaves the
    * second delivery's paths and the read-back cold, and the first timed
    * round then spends half its CPU in the JIT compiler.
    */
  def warm(): Seq[Check] = {
    val dir = Files.createTempDirectory("perfbench-warm").toString
    try {
      round(-1, dir)
      verify(-1, dir)
    } finally deleteTree(dir)
  }

  def round(r: Int, roundDir: String): Seq[Op] =
    deliveryDirs.indices.map { d =>
      val op = s"r$r-delivery$d"
      val ((ok, retries, err), s) = timed(Trace.span("delivery", op = op)(
        Try(deliver(d, roundDir, op)).fold(e => (false, 0, e.toString), identity)))
      Op(op, s, ok, retries, err)
    }

  def verify(r: Int, roundDir: String): Seq[Check] = {
    val lake = s"$roundDir/lake"
    def read(t: String) = Trace.span("lake.read")(LakeWriter.readBack(spark.emptyDataFrame, s"$lake/$t"))
    Seq(
      check("payment_documents",
        Fingerprint.of(read("payment_documents").drop("run_index")), expected.get("lake_ingest/payment_documents")),
      check("payment_current", Fingerprint.of(Trace.span("lake.read")(
        Versioned.read(spark, s"$lake/payment_current"))), expected.get("lake_ingest/payment_documents")),
      check("event_hourly",
        Fingerprint.of(reaggregatedHourly(read("event_hourly"))), expected.get("lake_ingest/event_hourly")),
      check("doc_quality",
        Fingerprint.of(read("doc_quality").drop("run_index")), expected.get("lake_ingest/doc_quality")),
      check("user_state",
        Fingerprint.of(currentUserState(read("user_state"))), expected.get("lake_ingest/user_state")),
      check("corpus_survivors", Fingerprint.of(survivorKeys(Trace.span("lake.read")(
        graft.ext.IncrementalDedup.survivors(spark, s"$lake/corpus_state", "doc_id", "text")))),
        expected.get("lake_ingest/corpus_survivors")))
  }

  /** Expected results: the same computations over the unsliced input
    * `all` (written beside the deliveries with --write-expected).
    */
  def expectedValues(all: String): Map[String, String] = {
    val scratch = Files.createTempDirectory("perfbench-expected").toString
    try {
      val src = Paths.get(s"$scratch/src")
      Files.createDirectories(src)
      Files.copy(Paths.get(s"$all/events.parquet"), src.resolve("events.parquet"))
      graft.streaming.Streams.scd2IngestStreamingFrom(spark, src.toString, s"$scratch/user_state",
        s"$scratch/ckpt")
      graft.ext.IncrementalDedup.ingest(
        graft.core.Tables.documents(spark, all).select(col("doc_id"), col("text")),
        "doc_id", "text", s"$scratch/corpus_state")
      Map(
        "lake_ingest/payment_documents" -> Fingerprint.of(OrdinaryPayment.flattened(spark, all, DemoParams)),
        "lake_ingest/event_hourly" -> Fingerprint.of(reaggregatedHourly(
          graft.streaming.Streams.eventsHourly(spark, all))),
        "lake_ingest/doc_quality" -> Fingerprint.of(graft.ext.TextAnalysis.qualityFeatures(
          graft.core.Tables.documents(spark, all), "text").select(col("doc_id"), col("quality_score"))),
        "lake_ingest/user_state" -> Fingerprint.of(currentUserState(
          spark.read.parquet(s"$scratch/user_state"))),
        "lake_ingest/corpus_survivors" -> Fingerprint.of(survivorKeys(
          graft.ext.IncrementalDedup.survivors(spark, s"$scratch/corpus_state", "doc_id", "text"))))
    } finally {
      releasePins(spark)
      deleteTree(scratch)
    }
  }
}

/** Read-only catalog entries, noop sink, seed-permuted order per pass.
  * Each result is fingerprinted right after its timed execution.
  */
final class CatalogRead(spark: SparkSession, seed: Long, expected: Map[String, String])
    extends Workload {
  import Workloads._
  val mix: Seq[String] = Seq(
    "q01_agg", "q06_rollup_collect", "q10_flagship_document", "q19_window_suite",
    "x31_jaccard_pairs", "x37_tfidf", "x43_ann_ivf", "x70_topk_per_group")
  private val entries = graft.SparkEntry.queries
  private var dir = ""
  private var inputBytes = 0L
  /** Largest storage footprint of pins seen after a query was built. */
  @volatile var pinnedMbPeak = 0.0

  def load(d: String): Unit = {
    dir = d
    inputBytes = parquetBytes(d)
  }
  def roundInputBytes: Long = inputBytes

  private def pinnedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  private var readbackS = 0.0
  override def roundReadbackS: Double = readbackS

  /** Build, sink, and fingerprint one entry; returns (op, check). */
  private def execute(q: String, op: String): (Op, Check) = {
    val (res, s) = timed(Trace.span("query", op = op)(Try {
      val df = Trace.span("queries.build")(entries(q)(spark, dir))
      if (Trace.enabled) pinnedMbPeak = math.max(pinnedMbPeak, pinnedMb())
      Trace.span("queries.sink")(df.write.format("noop").mode("overwrite").save())
      df
    }))
    val want = expected.get(s"catalog_read/$q")
    val c = res.fold(e => Check(q, ok = false, s"error: $e", want.getOrElse("")), { df =>
      val (c, rs) = timed(Trace.span("readback", op = op)(check(q, Fingerprint.of(df), want)))
      readbackS += rs
      c
    })
    releasePins(spark)
    (Op(op, s, res.isSuccess, 0, res.fold(_.toString, _ => "")), c)
  }

  private var lastChecks: Seq[Check] = Nil

  def warm(): Seq[Check] = mix.map(q => execute(q, s"warm-$q")._2)

  def round(r: Int, roundDir: String): Seq[Op] = {
    readbackS = 0.0
    val order = new scala.util.Random(seed * 1000003L + r).shuffle(mix)
    val res = order.map(q => execute(q, s"r$r-$q"))
    lastChecks = res.map(_._2)
    res.map(_._1)
  }

  /** Results were fingerprinted as they were produced (see [[round]]). */
  def verify(r: Int, roundDir: String): Seq[Check] = lastChecks

  def expectedValues(): Map[String, String] = mix.map { q =>
    val fp = Fingerprint.of(entries(q)(spark, dir))
    releasePins(spark)
    s"catalog_read/$q" -> fp
  }.toMap
}
