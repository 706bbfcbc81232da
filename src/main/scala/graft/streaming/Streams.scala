package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.core.{Casts, Sessions, Tables}

/** Structured Streaming surface. The reference is batch-only (SURVEY §2.8);
  * its "incremental" contract is date-window re-runs. This module provides
  * the equivalent event-stream operators Spark-natively: windowed
  * aggregation over event time, run as a batch plan or as an incremental
  * `Trigger.AvailableNow` stream with identical results.
  *
  * Scale notes: the windowed agg is a standard partial-agg + shuffle on
  * (window, key); with a watermark, state eviction keeps the streaming
  * store bounded by (watermark horizon × key cardinality).
  */
object Streams extends Serializable {

  /** Events file-stream source with the schema SNIFFED from a batch read
    * of the same directory — NEVER hard-coded (VERDICT r7: an imposed
    * `LongType` over micros-encoded files handed back raw micros, the
    * `DIV 1000` shrank every timestamp 1000×, and four stateful twins
    * emitted 1970-era garbage at full speed). The batch sniff feeds
    * [[EventTime.canonicalTs]] — encoding-agnostic like the batch loader —
    * and runs the plausibility gate BEFORE any stream starts, so a drifted
    * encoding refuses instead of answering. `guardKey` dedups the gate's
    * one-time min/max scan across scratch symlink dirs pointing at the
    * same underlying file.
    *
    * Contract: a source dir's encoding is HOMOGENEOUS across deliveries
    * (the sniffed schema is imposed on every later file, as any file
    * stream must). A delivery that silently re-encodes mid-stream is the
    * one drift shape this can't catch pre-start; micros-vs-instant mixes
    * still decode identically (same physical INT64 micros under a UTC
    * session), and long-vs-timestamp mixes fail the imposed schema loudly.
    */
  private[graft] def eventsStream(
      ss: SparkSession, srcDir: String, guardKey: String): DataFrame = {
    val rawBatch =
      try ss.read.parquet(srcDir)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"events stream source '$srcDir' has no readable parquet yet — " +
              "deliver at least one file so the schema/encoding can be sniffed " +
              s"(${e.getMessage})", e)
      }
    graft.core.EventTime.assertPlausible(rawBatch, guardKey)
    graft.core.EventTime.canonicalTs(
      ss.readStream.schema(rawBatch.schema).parquet(srcDir))
  }

  /** Dedicated child session for the one-shot AvailableNow streams:
    * stateful operators create one state store PER SHUFFLE PARTITION (per
    * side and per store kind for stream-stream joins), so a CPU-sized
    * partition count means 100+ store instances of fixed commit overhead
    * per micro-batch. A child session — own SQLConf, shared context, so
    * NO conf race with concurrent jobs — scopes a state-volume-sized
    * partition count to just this stream. At production scale raise it
    * with state volume, not core count.
    */
  private val childSessions =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Int, Boolean), SparkSession]()

  /** Ephemeral scratch dir for one-shot stream plumbing — RAM-backed
    * (/dev/shm) when the host offers it: the offset WAL, commit log, and
    * state-store files of a Trigger.AvailableNow run are pure scratch
    * (results are read from the sink, the checkpoint is never resumed),
    * so their per-micro-batch fsyncs need not touch disk. Durable state
    * (Versioned tables, lake paths) stays wherever the caller puts it.
    * NB /dev/shm capacity is HOST-DEPENDENT (typically RAM/2, possibly
    * tiny in containers): fine for AvailableNow one-shots whose
    * checkpoints are never resumed, but long-lived streams with real
    * state volume must point their checkpoints at durable disk instead.
    */
  private[graft] def scratchDir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm))
      Files.createTempDirectory(shm, prefix)
    else Files.createTempDirectory(prefix)
  }

  /** Expose a parquet table as a file-stream source dir of symlinks.
    * Handles BOTH physical layouts a table ships in: a single parquet
    * file (the driver's testdata) and a Spark/engine-written DIRECTORY
    * of part files (any table a job produced). The 10× scale rehearsal
    * caught the single-file assumption: every streaming twin refused on
    * a directory-layout events table with "no readable parquet yet"
    * because the one symlink pointed at a directory the batch sniff
    * won't recurse into. Data files are linked flat (marker files like
    * _SUCCESS carry no .parquet suffix and are skipped); nested
    * NON-partition directories are linked recursively with their path
    * flattened into the link name.
    *
    * Hive-partitioned sources REFUSE loudly (VERDICT r9 #6): a
    * `key=value` directory level means the table carries columns that
    * live only in the directory names — flattening them into link names
    * would silently DROP those columns from every stream row. Rather
    * than answer with a narrower schema than the batch reader sees,
    * throw with the partition column names; materialize them as data
    * columns (select them and rewrite) before streaming.
    */
  private[graft] def linkSource(
      streamDir: java.nio.file.Path, source: String,
      name: String = "events.parquet"): Unit = {
    val src = java.nio.file.Paths.get(source).toAbsolutePath
    // two-pass (ADVICE r10): WALK first, refuse before the first link is
    // created — the refusal must not leave a partially populated staging
    // directory a retry (or a concurrent reader) could mistake for the
    // full table
    val (planned, partitionCols) = plannedLinks(src, name)
    if (partitionCols.nonEmpty)
      throw new IllegalArgumentException(
        s"stream source '$source' is hive-partitioned on " +
          s"[${partitionCols.mkString(", ")}] — those columns exist only in " +
          "directory names and the flat file-stream staging would silently " +
          "drop them; materialize them as data columns (read the table " +
          "batch-side, select the partition columns, rewrite unpartitioned) " +
          "before streaming")
    planned.foreach { case (linkName, target) =>
      Files.createSymbolicLink(streamDir.resolve(linkName), target)
    }
  }

  /** The ONE walk both [[linkSource]] and [[sourceFingerprint]] read, so
    * fingerprint coverage exactly matches link coverage (ADVICE r19 #1 —
    * the fingerprint used to list only TOP-LEVEL entries while linking
    * walked nested non-partition directories, so a regeneration ≥2
    * levels deep whose top-level subdir kept its name/size/mtime could
    * serve stale links under an unchanged fingerprint). Returns the
    * planned (linkName, target) pairs plus any hive-partition column
    * names seen (refusal is the CALLER's decision — the fingerprint
    * path must stay non-throwing so a memo probe never outruns the
    * loud refusal in linkSource). */
  private def plannedLinks(
      src: java.nio.file.Path, name: String)
      : (Seq[(String, java.nio.file.Path)], Seq[String]) = {
    val partitionCols = scala.collection.mutable.LinkedHashSet[String]()
    val planned = scala.collection.mutable.ArrayBuffer[(String, java.nio.file.Path)]()
    def walk(dir: java.nio.file.Path, prefix: String): Unit = {
      val entries = Files.list(dir)
      try entries.iterator().asScala.foreach { p =>
        val fn = p.getFileName.toString
        if (Files.isDirectory(p) && !fn.startsWith(".") && !fn.startsWith("_")) {
          val eq = fn.indexOf('=')
          if (eq > 0) partitionCols += fn.substring(0, eq)
          walk(p, s"$prefix${fn.replace('=', '-')}_")
        } else if (fn.endsWith(".parquet"))
          planned += ((s"$prefix$fn", p))
      } finally entries.close()
    }
    if (Files.isDirectory(src)) walk(src, "")
    else planned += ((name, src))
    (planned.toSeq, partitionCols.toSeq)
  }

  /** Memoized symlink staging dir per SOURCE FINGERPRINT (VERDICT r18
    * #5 — the shared-source-listings attempt): the one-shot twins used
    * to build a FRESH staging dir per invocation, which defeated two
    * per-JVM memos keyed by file path — the [[graft.core.EventTime]]
    * plausibility cache (`checkedFiles`) re-read parquet footers on
    * every call because the symlink paths were new, and Spark's
    * FileStatusCache could never hit across invocations. One staging
    * dir per (source absolute path, mtime, length, link name) restores
    * both. The fingerprint folds the source's CONTENT identity so a
    * REGENERATED fixture (same path, new bytes) gets a fresh staging
    * dir instead of stale links: for a single file, size + mtime at
    * NANOSECOND resolution — NB stored resolution, not clock
    * granularity: ext4 stores ns but pre-6.13 kernels stamp from the
    * coarse (jiffy) clock, so a same-tick same-size in-place rewrite
    * can still collide; the directory listing term below is what makes
    * real Spark rewrites (new part-file names) collision-proof; for a
    * directory, the sorted PLANNED-LINK listing of (linkName, size,
    * mtime-ns) from the same recursive walk linkSource performs
    * (ADVICE r19 #1) — a Spark rewrite changes part-file names, so the
    * listing moves even when sizes and the tick do not, and a
    * regeneration nested ≥2 directories deep moves it too. Staging
    * dirs are never deleted by callers (scratch lives until JVM exit),
    * so sharing cannot dangle; checkpoints stay per-invocation, so
    * each stream still processes every file — sharing changes WHERE
    * the links live, never what a stream reads. Values are Strings,
    * not Paths: this object declares Serializable and sun.nio.fs paths
    * are not — a future executor-side closure capturing Streams must
    * not die on the memo.
    */
  private val stagedSources =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mtimeNanos(p: java.nio.file.Path): Long =
    try Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS)
    catch { case _: Throwable => -1L }

  private def sizeOf(p: java.nio.file.Path): Long =
    try Files.size(p) catch { case _: Throwable => -1L }

  private def sourceFingerprint(
      src: java.nio.file.Path, name: String): String = {
    val raw = plannedLinks(src, name)._1
      .map { case (linkName, p) => s"$linkName#${sizeOf(p)}#${mtimeNanos(p)}" }
      .sorted.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private[graft] def stagedSource(
      source: String, name: String = "events.parquet"): java.nio.file.Path = {
    val src = java.nio.file.Paths.get(source).toAbsolutePath
    // Fingerprint → link → RE-fingerprint (ADVICE r19 #2): a source
    // regenerated between the memo probe and the link pass would leave
    // links reflecting the NEW bytes (or dangling) cached forever under
    // the OLD fingerprint key — entries are never invalidated by design.
    // The post-link re-fingerprint detects the race; on mismatch the
    // stage is retried. Structure (review r20): the verification runs
    // only on the CREATION path — a memo HIT is already proof the entry
    // was created under the fingerprint just computed (a regeneration
    // since entry creation moves the key and simply misses), so hits pay
    // exactly ONE walk, same as r19, and only the rare miss pays three.
    // A walk that dies on a vanished nested directory (concurrent
    // mode("overwrite") rewrite deleting dirs mid-listing) counts as a
    // changed source and retries too — the fingerprint/link passes must
    // not kill a stream over a transient of the exact race this memo
    // exists to survive. Two concurrent first-stagers can both build a
    // dir and race putIfAbsent; the loser's dir is an orphaned handful
    // of symlinks in scratch (JVM-lifetime, same as r19's per-invocation
    // dirs). A source that keeps changing across 3 attempts is being
    // actively rewritten — log it and return the freshest dir
    // UNMEMOIZED, so the next call re-stages instead of serving it.
    var attempt = 0
    while (attempt < 3) {
      try {
        val fp = sourceFingerprint(src, name)
        val key = s"$src#$fp#$name"
        val hit = stagedSources.get(key)
        if (hit != null) return java.nio.file.Paths.get(hit)
        val d = scratchDir("graft-stream-src")
        linkSource(d, source, name)
        if (sourceFingerprint(src, name) == fp) {
          val prev = stagedSources.putIfAbsent(key, d.toString)
          return java.nio.file.Paths.get(if (prev != null) prev else d.toString)
        }
      } catch {
        // Files.list on a directory deleted between walks — the mid-walk
        // spelling of "the source changed"; never a missing TOP-LEVEL
        // source (a single file that never existed links fine and fails
        // later at read time, as before)
        case _: java.nio.file.NoSuchFileException => ()
      }
      attempt += 1
    }
    System.err.println(s"[streams] source '$source' changed on every " +
      "staging attempt (3×) — serving an unmemoized snapshot; expect " +
      "re-staging on the next call")
    val dir = scratchDir("graft-stream-src")
    linkSource(dir, source, name)
    dir
  }

  /** Memoized per (parent, partition count, no-data policy): one warm
    * child session serves every one-shot stream instead of a cold
    * SessionState + empty codegen cache per query — repeated streaming
    * runs in the same JVM (the bench loop, multi-query pipelines) skip
    * that fixed setup. Conf is written once at creation and never
    * mutated after, so sharing is race-free; memory-sink names are
    * nanoTime-unique so catalogs never collide.
    *
    * `noDataBatches = false` skips the trailing empty micro-batch (one
    * full state-store commit round). Only legal for streams whose
    * RESULTS are final after the data batches: complete-mode aggs,
    * stateless/append pipelines, foreachBatch sinks, and inner
    * stream-stream joins (the empty batch there only evicts state).
    * Event-time TIMEOUTS (flatMapGroupsWithState) and watermark-flushed
    * append aggregations NEED it — keep the default for those.
    */
  private def streamSession(
      spark: SparkSession, statePartitions: Int = 8,
      noDataBatches: Boolean = true): SparkSession = {
    // entries keyed by a stopped parent are unreachable dead weight
    // (SessionState, codegen caches, memory-sink tables) — purge them so
    // JVMs that cycle SparkSessions don't accumulate immortal children
    childSessions.keySet.removeIf(_._1.sparkContext.isStopped)
    childSessions.computeIfAbsent((spark, statePartitions, noDataBatches), { _ =>
      val s = Sessions.child(spark)
      s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        noDataBatches.toString)
      // awaitAndRecord sums recentProgress, which this conf caps (default
      // 100): a one-shot stream with more micro-batches would silently
      // under-report inputRows/batches/state peaks — the exact numbers
      // the scale rehearsal's bounded-state gates read (ADVICE r10)
      s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
      s
    })
  }

  /** Progress summary of the last finished one-shot stream on the
    * calling thread — the observable the scale rehearsal needs (VERDICT
    * r9 #2): per-key-state operators (sessionize, stream-stream join,
    * dedup-within-watermark) have state ∝ key cardinality, and "bounded"
    * must be read off the STATE-STORE METRICS, not asserted in scaladoc.
    * Captured from `recentProgress` (the standard StreamingQueryProgress
    * feed) right after `awaitTermination`, thread-local so concurrent
    * orchestrator jobs don't race.
    */
  case class StreamRunStats(
      batches: Int,
      inputRows: Long,
      stateRowsLast: Long,
      stateRowsMax: Long,
      stateMemoryBytesMax: Long,
      droppedByWatermark: Long)

  private val lastRunStats = new ThreadLocal[Option[StreamRunStats]] {
    override def initialValue(): Option[StreamRunStats] = None
  }

  /** Stats of the most recent one-shot stream run by THIS thread. */
  def lastStreamRunStats: Option[StreamRunStats] = lastRunStats.get()

  /** Reset the thread's stats so a harness can attribute what follows. */
  private[graft] def clearLastStreamRunStats(): Unit = lastRunStats.set(None)

  private def awaitAndRecord(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination()
    val ps = q.recentProgress.toSeq
    def stateSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      ps.map(_.stateOperators.map(f).sum)
    lastRunStats.set(Some(StreamRunStats(
      batches = ps.count(_.numInputRows > 0),
      inputRows = ps.map(_.numInputRows).sum,
      stateRowsLast = stateSum(_.numRowsTotal).lastOption.getOrElse(0L),
      stateRowsMax = stateSum(_.numRowsTotal).maxOption.getOrElse(0L),
      stateMemoryBytesMax = stateSum(_.memoryUsedBytes).maxOption.getOrElse(0L),
      droppedByWatermark = stateSum(_.numRowsDroppedByWatermark).sum)))
  }

  /** Hourly tumbling-window aggregation per event type (batch form). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(Casts.asMoney(col("value"))).cast(DoubleType).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"), col("n_users"))

  /** Same aggregation executed as an incremental stream over the parquet
    * file source with Trigger.AvailableNow: processes everything currently
    * available, then stops — the batch-incremental contract of the
    * reference (append-only re-runs) expressed stream-natively. Results
    * land in an in-memory sink table and are returned as a DataFrame.
    *
    * Streaming + countDistinct don't mix (distinct needs full state), so
    * the streaming variant uses approx_count_distinct — the standard
    * trade; the batch form keeps the exact count.
    */
  def hourlyAggStreaming(spark: SparkSession, dir: String): DataFrame = {
    val checkpoint = Streams.scratchDir("graft-stream-ckpt").toString
    val sinkName = s"graft_events_hourly_${System.nanoTime()}"
    // The file-stream source requires a directory; expose the single
    // events.parquet through a temp dir of symlinks (testdata is read-only).
    val streamDir = stagedSource(s"$dir/events.parquet")
    val ss = streamSession(spark, noDataBatches = false)
    val raw = eventsStream(ss, streamDir.toString, s"$dir/events.parquet")
    val agg = raw
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(Casts.asMoney(col("value"))).cast(DoubleType).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
    val q = agg.writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    ss.table(sinkName)
  }

  /** Schema of the documents parquet for the file-stream source. */
  val DocumentsRawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming incremental corpus dedup: each micro-batch (= delivery of
    * document files) runs [[graft.ext.IncrementalDedup.ingest]] against
    * the persisted hash + band state inside `foreachBatch`, so the
    * accepted corpus under `stateRoot` stays continuously deduped as
    * deliveries arrive. The checkpoint persists across invocations:
    * re-running processes only NEW files (the file source's seen-files
    * log) — the streaming spelling of the deliver→ingest→repeat loop,
    * with the same deterministic survivor rules as the batch operator.
    * Returns the accepted corpus after the run.
    */
  def dedupIngestStreamingFrom(
      spark: SparkSession,
      sourceDir: String,
      stateRoot: String,
      checkpoint: String,
      n: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    val ss = streamSession(spark, noDataBatches = false)
    val q = ss.readStream
      .schema(DocumentsRawSchema)
      .parquet(sourceDir)
      .select(col("doc_id"), col("text"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ext.IncrementalDedup
          .ingest(batch, "doc_id", "text", stateRoot, n, threshold)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    graft.ext.IncrementalDedup.survivors(spark, stateRoot, "doc_id", "text")
  }

  /** Streaming CDC apply: each micro-batch's changes merge into a
    * latest-wins keyed state via [[graft.lake.Scd.cdcApply]] inside
    * foreachBatch — the SCD1 companion of [[scd2IngestStreamingFrom]]
    * (state, not history). The current snapshot joins each batch as
    * prior changes with the lowest order rank, so re-delivery and
    * cross-batch ordering resolve exactly like the batch operator; the
    * lake swap is the shared recoverable two-move swap. Returns the
    * final state.
    *
    * Deletes are NOT tombstoned: a later delivery containing only
    * pre-delete stragglers for a deleted key would resurrect it. The
    * contract is per-key non-decreasing order ACROSS deliveries — what
    * CDC log shipping provides; keep tombstones (filter the delete op at
    * read time) if the feed can violate it.
    */
  def cdcApplyStreamingFrom(
      spark: SparkSession,
      sourceDir: String,
      lakePath: String,
      checkpoint: String): DataFrame = {
    val ss = streamSession(spark, noDataBatches = false)
    val stream = eventsStream(ss, sourceDir, sourceDir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"),
        when(col("event_type") === lit("error"), lit("D"))
          .otherwise(lit("U")).as("op"),
        Casts.asMoney(col("value")).cast(DoubleType).as("value"))
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sparkB = batch.sparkSession
        graft.lake.LakeWriter.recoverSwap(lakePath)
        // prior state re-enters as changes that lose every tie: op 'U'
        // keeps survivors alive, and (ts, event_id) still orders against
        // genuinely newer deliveries
        val current =
          if (new java.io.File(lakePath).exists())
            sparkB.read.parquet(lakePath).withColumn("op", lit("U"))
          else batch.limit(0)
        val merged = graft.lake.Scd.cdcApply(
          current.unionByName(batch),
          Seq("user_id"),
          Seq(col("ts").desc, col("event_id").desc), "op")
        val staging = lakePath + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        graft.lake.LakeWriter.swapIn(lakePath, staging)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    spark.read.parquet(lakePath)
  }

  /** Streaming exact dedup: min-id survivor per normalized-content hash,
    * computed incrementally over the document stream — arriving duplicates
    * fold into their group's running (min id, count) state, so the result
    * after Trigger.AvailableNow equals the batch [[graft.ext.Dedup.exact]]
    * definition exactly (they share the x30 oracle).
    *
    * Scale note: `min`/`count` state is one row per distinct content hash
    * (no per-doc state). Complete-mode memory sink is the test harness;
    * at production scale emit Update mode into an upserting sink.
    */
  def dedupStreaming(spark: SparkSession, dir: String): DataFrame = {
    val checkpoint = Streams.scratchDir("graft-dedup-ckpt").toString
    val streamDir = stagedSource(s"$dir/documents.parquet", "documents.parquet")
    val sinkName = s"graft_dedup_${System.nanoTime()}"
    val ss = streamSession(spark, noDataBatches = false)
    val agg = ss.readStream
      .schema(DocumentsRawSchema)
      .parquet(streamDir.toString)
      .select(col("doc_id"),
        graft.ext.TextAnalysis.fingerprintMd5(col("text")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"))
      .select(col("doc_id"), col("content_hash"), col("group_size"))
    val q = agg.writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    ss.table(sinkName)
  }

  /** Streaming idempotency-window event dedup: the at-least-once retry
    * collapse run incrementally — per (user, type, hour-bucket) state
    * folds each arrival into a running (earliest (ts, id), count), so
    * after Trigger.AvailableNow the table equals the batch
    * [[graft.ops.Temporal.idempotentEvents]] exactly (they share x109's
    * oracle). The struct-min is the same total order the batch window
    * sorts by.
    *
    * Scale note: state is one row per ACTIVE (user, type, bucket) —
    * production adds a watermark on the bucket time to expire closed
    * windows; complete-mode memory sink is the test harness.
    */
  def idempotentEventsStreaming(spark: SparkSession, dir: String): DataFrame = {
    val checkpoint = Streams.scratchDir("graft-idem-ckpt").toString
    val streamDir = stagedSource(s"$dir/events.parquet")
    val sinkName = s"graft_idem_${System.nanoTime()}"
    val ss = streamSession(spark, noDataBatches = false)
    val agg = eventsStream(ss, streamDir.toString, s"$dir/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .withColumn("bucket",
        floor(unix_timestamp(col("ts")) / lit(3600)).cast("long"))
      .groupBy(col("user_id"), col("event_type"), col("bucket"))
      .agg(min(struct(col("ts"), col("event_id"))).as("first"),
        count(lit(1)).as("n"))
      .select(col("first.event_id").as("event_id"), col("user_id"),
        col("event_type"), col("bucket"),
        (col("n") - lit(1L)).as("n_suppressed"))
    val q = agg.writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    ss.table(sinkName)
  }

  /** x110's idempotency-window dedup with state actually BOUNDED by a
    * watermark — the production spelling the complete-mode twin's
    * scaladoc prescribes, rehearsed instead of asserted (VERDICT r9 #2).
    * Differences from [[idempotentEventsStreaming]]: the grain's hour
    * bucket is a `window(ts, "1 hour")` group (watermark-EVICTABLE —
    * Spark cannot map a derived long bucket back to event time), the
    * stream carries `withWatermark(ts, delay)`, and output is APPEND
    * mode, so a bucket emits exactly once, when the watermark passes its
    * end, and its state row is dropped. State is then ~(active keys ×
    * buckets inside the horizon), independent of stream length.
    *
    * Contract: delivery must be time-ordered with disorder < `delay`
    * (stage with [[stageTimeSliced]]); later-than-horizon events are
    * DROPPED (counted in [[StreamRunStats.droppedByWatermark]]), and the
    * final `delay` worth of buckets never emits (the watermark never
    * passes the end of a finite stream) — the result equals the batch
    * [[graft.ops.Temporal.idempotentEvents]] restricted to buckets whose
    * end precedes the final watermark.
    */
  def idempotentEventsStreamingBounded(
      spark: SparkSession,
      sourceDir: String,
      delay: String = "2 hours",
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val ss = streamSession(spark)
    val rawBatch = ss.read.parquet(sourceDir)
    graft.core.EventTime.assertPlausible(rawBatch, sourceDir)
    val checkpoint = Streams.scratchDir("graft-idemb-ckpt").toString
    val sinkName = s"graft_idemb_${System.nanoTime()}"
    val raw = graft.core.EventTime.canonicalTs(
      ss.readStream.schema(rawBatch.schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .parquet(sourceDir))
    val agg = raw
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour").as("w"),
        col("user_id"), col("event_type"))
      .agg(min(struct(col("ts"), col("event_id"))).as("first"),
        count(lit(1)).as("n"))
      .select(col("first.event_id").as("event_id"), col("user_id"),
        col("event_type"),
        floor(unix_timestamp(col("w.start")) / lit(3600)).cast("long")
          .as("bucket"),
        (col("n") - lit(1L)).as("n_suppressed"))
    val q = agg.writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    ss.table(sinkName)
  }

  /** Ordered-delivery simulator for watermark rehearsals: rewrite a
    * table as `slices` consecutive time-range files with ASCENDING
    * mtimes (the file source batches oldest-mtime-first), so
    * `maxFilesPerTrigger = 1` replays the corpus as `slices` in-order
    * micro-batches — the shape under which a watermark actually advances
    * mid-stream and evicts state, instead of jumping to the end on a
    * single all-at-once batch. Returns the staged directory.
    */
  def stageTimeSliced(df: DataFrame, tsCol: String, slices: Int): String = {
    val stagedRoot = Files.createTempDirectory("graft-staged")
    graft.core.Scratch.reapAtExit(stagedRoot.toString)
    val staged = stagedRoot.resolve("events.parquet")
    df.repartitionByRange(slices, col(tsCol)).sortWithinPartitions(tsCol)
      .write.parquet(staged.toString)
    val parts = {
      val entries = Files.list(staged)
      try entries.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        .sortBy(_.getFileName.toString)
      finally entries.close()
    }
    // part-file NAME order == range-partition order == time order;
    // 2 s spacing clears any filesystem mtime granularity
    val base = System.currentTimeMillis() - parts.size * 2000L
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
    }
    staged.toString
  }

  /** Stream-static enrichment join: the event stream joined per
    * micro-batch against a static dimension (per-user lifetime aggregates
    * computed batch-side). The static side is planned fresh each
    * micro-batch — broadcast when small, the standard streaming-enrichment
    * shape. Append mode, no state. Results equal the batch join, so the
    * query shares a plain-SQL oracle.
    */
  def enrichedStreaming(spark: SparkSession, dir: String): DataFrame = {
    val checkpoint = Streams.scratchDir("graft-enrich-ckpt").toString
    val streamDir = stagedSource(s"$dir/events.parquet")
    val sinkName = s"graft_enriched_${System.nanoTime()}"
    val ss = streamSession(spark, noDataBatches = false)
    val userDim = Tables.events(ss, dir)
      .groupBy(col("user_id").as("u"))
      .agg(
        count(lit(1)).as("n_user_events"),
        sum(Casts.asMoney(col("value"))).cast(DoubleType).as("user_total_value"))
    val stream = eventsStream(ss, streamDir.toString, s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .join(broadcast(userDim), col("user_id") === col("u"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("n_user_events"), col("user_total_value"))
    val q = stream.writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    ss.table(sinkName)
  }

  /** Streaming document chunking: the corpus→context-window step run
    * incrementally — [[graft.ext.Chunking.chunk]] is a pure generator
    * (no aggregation, no state, no watermark), so it streams in append
    * mode unchanged and each delivery's documents chunk as they land.
    * Results ≡ the batch spelling, so x103 shares x89's oracle.
    */
  def chunkingStreaming(spark: SparkSession, dir: String): DataFrame = {
    val checkpoint = Streams.scratchDir("graft-chunk-ckpt").toString
    val streamDir = stagedSource(s"$dir/documents.parquet", "documents.parquet")
    val sinkName = s"graft_chunks_${System.nanoTime()}"
    val ss = streamSession(spark, noDataBatches = false)
    val chunks = graft.ext.Chunking.chunk(
      ss.readStream
        .schema(DocumentsRawSchema)
        .parquet(streamDir.toString),
      "doc_id", "text", window = 64, stride = 32)
    val q = chunks.writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    ss.table(sinkName)
  }

  /** Sessionization-style stateful shape: per-user ordered event counts
    * with gaps — expressed batch-side with a window; the streaming
    * equivalent is flatMapGroupsWithState (kept batch here because the
    * reference has no session semantics to mirror).
    */
  def userActivity(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("event_seq", row_number().over(w))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_seconds",
        when(col("prev_ts").isNotNull,
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")))
          .otherwise(lit(null).cast(LongType)))
      .select(col("user_id"), col("event_id"), col("event_seq"),
        col("event_type"), col("gap_seconds"))
  }

  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    hourlyAgg(Tables.events(spark, dir))

  // ── foreachBatch: streaming upsert into the lake ──

  /** Streaming SCD2 ingestion: each micro-batch's per-user latest state
    * (greatest ts wins, event_id tiebreak) is MERGED into a parquet lake
    * table via [[graft.lake.Scd.scd2Merge]] inside `foreachBatch` — the
    * incremental ODS→lake upsert the reference approximates with
    * date-window re-runs, expressed stream-natively with versioned
    * history. Batch ids make the merge idempotent on retries (the sink
    * rewrite is atomic-swap per batch; a replayed batch merges the same
    * changes → scd2Merge's attr-equality makes it a no-op).
    *
    * Scale note: the micro-batch change set is tiny relative to the
    * snapshot, so the merge's full-outer join broadcasts the changes; at
    * real scale the parquet rewrite becomes a Delta/Iceberg MERGE with
    * file-level pruning — the plan shape (one key join, three
    * projections) is identical.
    */
  def scd2IngestStreaming(
      spark: SparkSession, dir: String, lakePath: String): DataFrame = {
    val streamDir = stagedSource(s"$dir/events.parquet")
    scd2IngestStreamingFrom(spark, streamDir.toString, lakePath,
      Streams.scratchDir("graft-scd2-ckpt").toString)
  }

  /** Caller-managed variant: `sourceDir` is a live ingestion directory the
    * caller appends delivery files to, and `checkpoint` PERSISTS across
    * invocations — re-running processes ONLY the new files (the file
    * source's seen-files log), merging just that delivery into the lake.
    * This is the production incremental loop: deliver → run → repeat.
    */
  def scd2IngestStreamingFrom(
      spark: SparkSession, sourceDir: String, lakePath: String,
      checkpoint: String): DataFrame = {
    val ss = streamSession(spark, noDataBatches = false)
    val stream = eventsStream(ss, sourceDir, sourceDir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val changes = graft.lake.Scd
          .latestWins(batch, Seq("user_id"),
            Seq(col("ts").desc, col("event_id").desc))
          .select(col("user_id"),
            col("event_type").as("last_type"),
            Casts.asMoney(col("value")).cast(DoubleType).as("last_value"))
        val sparkB = batch.sparkSession
        // heal a crash inside a previous batch's swap window (and remove
        // stale staging) BEFORE reading the current snapshot
        graft.lake.LakeWriter.recoverSwap(lakePath)
        val current =
          if (new java.io.File(lakePath).exists())
            sparkB.read.parquet(lakePath)
          else
            changes.limit(0)
              .withColumn("eff_from", lit("1970-01-01"))
              .withColumn("eff_to", lit(null).cast(StringType))
              .withColumn("is_current", lit(true))
        // version label, not a date: fixed 12-digit zero-pad keeps
        // lexicographic ordering for any realistic batch count (a %04d
        // tag inverts at batch 10000: "batch_10000" < "batch_9999").
        // NB the width changed from %04d pre-release: a lake written by
        // the old code would interleave wrongly — start fresh (no
        // production lakes exist) rather than mixing tag widths
        val merged = graft.lake.Scd
          .scd2Merge(current, changes, Seq("user_id"), f"batch_$batchId%012d")
        // two-ATOMIC_MOVE swap (shared with LakeWriter.compact): readers
        // never see a partially-written snapshot; a brief not-found
        // window between the renames is possible, and recoverSwap heals
        // a crash inside it on the next run
        val staging = lakePath + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        graft.lake.LakeWriter.swapIn(lakePath, staging)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    ss.read.parquet(lakePath)
  }

  // ── Stream-stream interval join: purchase attribution ──

  /** Batch twin of the attribution join: every (view, purchase) pair by
    * the same user with the purchase inside [view_ts, view_ts + window].
    * Equi key (user) + range bound → sort-merge join with a post filter,
    * never a cartesian.
    */
  def attributionJoin(events: DataFrame, windowHours: Int): DataFrame = {
    val views = events.filter(col("event_type") === lit("view"))
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val purchases = events.filter(col("event_type") === lit("purchase"))
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    views.join(purchases,
      col("user_id") === col("p_user")
        && col("purchase_ts") >= col("view_ts")
        && col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $windowHours HOURS"))
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"))
  }

  /** The same join as a STREAM-STREAM interval join — the hardest
    * Structured Streaming operator: both sides watermarked, the time-bound
    * condition lets Spark evict view-state older than
    * (watermark − window) and purchase-state at the watermark, so state
    * stays bounded at any input volume. Append mode (a joined pair is
    * final once emitted); AvailableNow over the file source; results must
    * equal [[attributionJoin]], so x73 shares x72's oracle.
    */
  def attributionJoinStreaming(
      spark: SparkSession, dir: String, windowHours: Int): DataFrame = {
    val ss = streamSession(spark, noDataBatches = false)
    val checkpoint = Streams.scratchDir("graft-ssj-ckpt").toString
    val streamDir = stagedSource(s"$dir/events.parquet")
    val sinkName = s"graft_attrib_${System.nanoTime()}"
    def side(): DataFrame =
      eventsStream(ss, streamDir.toString, s"$dir/events.parquet")
    val views = side().filter(col("event_type") === lit("view"))
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = side().filter(col("event_type") === lit("purchase"))
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = views.join(purchases,
      col("user_id") === col("p_user")
        && col("purchase_ts") >= col("view_ts")
        && col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $windowHours HOURS"))
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"))
    val q = joined.writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    ss.table(sinkName)
  }

  // ── Sessionization: gap-based sessions per user ──

  case class SessionEvent(user_id: Long, event_id: Long, ts_us: Long)

  case class UserSessions(openStartUs: Long, openEndUs: Long,
      openCount: Long, closedSoFar: Int)

  case class Session(
      user_id: Long,
      session_seq: Int,
      n_events: Long,
      start_ts: String,
      end_ts: String)

  private def fmtUs(us: Long): String = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    fmt.format(java.time.Instant.ofEpochSecond(us / 1000000L))
  }

  /** Batch sessionization: a new session starts when the gap to the
    * previous event exceeds `gapMinutes` (window lag + running sum).
    * Gaps compare in MICROSECONDS (`unix_micros`) — the exact precision
    * the streaming twin's state carries, so batch ≡ stream even for
    * events straddling a whole-second boundary.
    *
    * Skew posture: the naive spelling windows over `partitionBy(user_id)`,
    * which funnels a hot key's entire history into ONE task's sort — the
    * one real bend the zipf rehearsal found (x68 floor 2.38× at identical
    * volume when one user carries 15% of events). The at-scale path is
    * therefore two-phase: window over `(user_id, time-bucket)` so the hot
    * key's sort splits across `bucketHours` slices, then stitch sessions
    * across bucket boundaries with a second window over per-bucket
    * SUMMARIES (one row per (user, bucket) — grows with the time range,
    * never with volume). Semantics are identical for any bucket size:
    * bucket = floor(ts_us / bucketUs) is monotone in ts, so concatenating
    * bucket-ordered slices reproduces the global (ts, event_id) order,
    * and a session spanning 2+ buckets is re-merged by the `cont` chain
    * (bucket b's first in-bucket segment joins the previous non-empty
    * bucket's last session iff the boundary gap ≤ gapUs; every in-bucket
    * segment index then shifts down by `cont`).
    *
    * `bucketHours` picks the regime: negative forces the single-window
    * spelling, positive forces bucketing at that width, and 0 (the
    * default) is SIZE-AWARE — inputs under
    * [[graft.ops.Windows.autoSplitThresholdBytes]] (a plan-only stats
    * read) take the single-window plan, sparing small callers the
    * bucketed path's ~0.7-0.8 s of fixed stitch stages, while anything
    * at rehearsal scale and beyond keeps the 24h-bucketed skew
    * insurance. The spec pins both regimes value-identical.
    */
  def sessionsBatch(events: DataFrame, gapMinutes: Int,
      bucketHours: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes * 60000000L
    val effBucketHours =
      if (bucketHours != 0) bucketHours
      else if (graft.ops.Windows.wantsSkewSplit(events)) 24
      else -1
    if (effBucketHours < 0) {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val marked = events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull
            || graft.core.EventTime.epochUs(col("ts"))
               - graft.core.EventTime.epochUs(col("prev_ts")) > gapUs,
            lit(1)).otherwise(lit(0)))
        .withColumn("session_seq",
          sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      sessionsFinish(marked.withColumn("session_seq_l", col("session_seq")))
    } else {
      val bucketUs = effBucketHours * 3600000000L
      // integer `div` (not double /): ts_us ~1.7e15 would round through a
      // double and could mis-bin an event sitting exactly on a boundary.
      // `ukb = struct(user_id, bkt)` is the stitch key: a null user_id
      // forms its own partition in the single-window spelling, and a
      // null ts yields a NULL bucket (which must sort before every
      // numeric bucket — exactly where null timestamps sort in the
      // single window's ascending nulls-first order). A plain equi-join
      // would drop rows where either column is null — struct values
      // compare null-safe on every field, so keying windows, fragments,
      // and the stitch join all on `ukb` keeps null-key AND null-ts rows
      // while the join stays a plain hash join aligned with the window
      // exchange (same pattern as Windows.skewLag).
      val ev = events.select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("ts_us", graft.core.EventTime.epochUs(col("ts")))
        .withColumn("ukb", struct(col("user_id").as("u"),
          expr(s"ts_us div ${bucketUs}L").as("b")))
      val w2 = Window.partitionBy(col("ukb"))
        .orderBy(col("ts_us"), col("event_id"))
      val marked = ev
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w2))
        .withColumn("ns",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs,
            lit(1L)).otherwise(lit(0L)))
        .withColumn("s",
          sum(col("ns")).over(w2.rowsBetween(Window.unboundedPreceding, 0)))
      // collapse events → per-(user, bucket, segment) FRAGMENTS right
      // here, while still on the window's ukb partitioning (no
      // exchange): everything downstream — stitch join, final aggregate —
      // now moves session-proportional rows, not event-proportional ones,
      // so the event-volume path is exactly one shuffle + sort, same as
      // the legacy spelling
      val frags = marked.groupBy(col("ukb"), col("s"))
        .agg(count(lit(1)).as("n_ev"),
          min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
      // one row per (user, bucket): first/last event time + segment count
      val summary = frags.groupBy(col("ukb"))
        .agg(min(col("min_ts")).as("first_ts"), max(col("max_ts")).as("last_ts"),
          count(lit(1)).as("k"))
      // stitch: sessions started before bucket b = Σ_{b'<b} (k - cont);
      // the per-user row count here is #non-empty buckets, volume-free.
      // orderBy(b) is ascending nulls-first, so the null bucket (null-ts
      // rows) stitches in FIRST — matching the single-window sort, where
      // a null-ts row never continues a session (its gap is null).
      val w3 = Window.partitionBy(col("ukb")("u")).orderBy(col("ukb")("b"))
      val off = summary
        .withColumn("prev_last_ts", lag(col("last_ts"), 1).over(w3))
        .withColumn("cont",
          when(col("prev_last_ts").isNotNull
            && graft.core.EventTime.epochUs(col("first_ts"))
               - graft.core.EventTime.epochUs(col("prev_last_ts")) <= gapUs,
            lit(1L)).otherwise(lit(0L)))
        .withColumn("off",
          coalesce(sum(col("k") - col("cont"))
            .over(w3.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("ukb"), col("off"), col("cont"))
      // frags is already hash-partitioned on ukb, so the join
      // adds no exchange on the probe side; hash-build on the tiny off
      // side so nothing re-sorts
      val seqd = frags.join(off.hint("shuffle_hash"), Seq("ukb"))
        .withColumn("session_seq_l", col("off") + col("s") - col("cont"))
      seqd
        .groupBy(col("ukb")("u").as("user_id"),
          col("session_seq_l").cast(IntegerType).as("session_seq"))
        .agg(
          sum(col("n_ev")).as("n_events"),
          date_format(min(col("min_ts")), "yyyy-MM-dd HH:mm:ss").as("start_ts"),
          date_format(max(col("max_ts")), "yyyy-MM-dd HH:mm:ss").as("end_ts"))
    }
  }

  /** Shared tail of [[sessionsBatch]]'s single-window path: per-session
    * aggregate over the computed global sequence. Hash-aggregate with
    * map-side partials, so a hot (user, session) collapses before any
    * shuffle.
    */
  private def sessionsFinish(marked: DataFrame): DataFrame =
    marked
      .groupBy(col("user_id"), col("session_seq_l").cast(IntegerType).as("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("start_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("end_ts"))

  /** Streaming sessionization via `flatMapGroupsWithState` (the custom-
    * state operator the engine exposes for semantics windows can't give).
    * Emits the group's sessions in Update mode; the open tail session is
    * carried in GroupState across micro-batches so a later batch extends
    * it instead of double-counting. Run with AvailableNow over the file
    * source; results land in a memory sink.
    */
  def sessionsStreaming(spark: SparkSession, dir: String, gapMinutes: Int): DataFrame = {
    val ss = streamSession(spark)
    import ss.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val checkpoint = Streams.scratchDir("graft-sess-ckpt").toString
    val streamDir = stagedSource(s"$dir/events.parquet")
    val sinkName = s"graft_sessions_${System.nanoTime()}"
    val gapUs = gapMinutes * 60L * 1000000L

    val events = eventsStream(ss, streamDir.toString, s"$dir/events.parquet")
      .select(col("user_id"), col("event_id"),
        graft.core.EventTime.epochUs(col("ts")).as("ts_us"))
      .as[SessionEvent]

    def fn(userId: Long, rows: Iterator[SessionEvent],
        state: GroupState[UserSessions]): Iterator[Session] = {
      val sorted = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      if (sorted.isEmpty) return Iterator.empty
      var (start, end, cnt, closed) = state.getOption match {
        case Some(s) => (s.openStartUs, s.openEndUs, s.openCount, s.closedSoFar)
        case None => (sorted.head.ts_us, sorted.head.ts_us, 0L, 0)
      }
      val out = scala.collection.mutable.ArrayBuffer[Session]()
      sorted.foreach { e =>
        if (cnt == 0L) { start = e.ts_us; end = e.ts_us; cnt = 1L }
        else if (e.ts_us - end > gapUs) {
          closed += 1
          out += Session(userId, closed, cnt, fmtUs(start), fmtUs(end))
          start = e.ts_us; end = e.ts_us; cnt = 1L
        } else { end = e.ts_us; cnt += 1L }
      }
      // Emit the open tail too (Update mode: a later batch re-emits it
      // extended; the sink's latest version per (user, seq) is current).
      out += Session(userId, closed + 1, cnt, fmtUs(start), fmtUs(end))
      state.update(UserSessions(start, end, cnt, closed))
      out.iterator
    }

    val q = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(fn)
      .writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    ss.table(sinkName)
  }
}
