package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.Sessions.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (codegen compiler, shuffle machinery, parquet
    // footer reads) so the first timed query isn't charged for JVM setup.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // Full untimed noop run of the first query: warms the noop commit
    // path, codegen compiler, and parquet footers so the first timed
    // query isn't charged double for session setup.
    SparkEntry.queries.headOption.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // noop sink, not count(): count() lets Catalyst prune every projected
    // column, so projection-heavy queries would measure a near-empty plan.
    // The noop writer materializes every output column without I/O cost.
    //
    // n=3 rounds, per-query MEDIAN: local-mode timings are noisy (GC,
    // codegen compilation, page cache), so a single iteration makes
    // round-over-round deltas unattributable.
    val n = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt)
    val names = SparkEntry.queries.keys.toSeq
    // Residue gauge: the max number of persistent RDDs observed right
    // after a query returns, BEFORE cleanup. Operators that leak caches
    // push this up (round-5 measured 7 after six queries); with scoped
    // caches only a query's own just-checkpointed result (0-2 entries,
    // released by cleanup) should ever appear.
    var maxRdds = 0
    var cleanupCounter = 0
    val canaries = Seq.newBuilder[(Double, Double)]
    val canariesIo = Seq.newBuilder[(Double, Double)]
    val foreignCpu = Seq.newBuilder[Double]
    val stealCpu = Seq.newBuilder[Double]
    // Failed queries are REPORTED, not silently absorbed: a query refused
    // by a budget/dimension guard otherwise records near-zero elapsed and
    // masquerades as a fast one, shrinking the total (ADVICE r6).
    val failed = scala.collection.mutable.SortedSet.empty[String]
    val samples: Seq[Map[String, Double]] = (1 to n).map { round =>
      // canary sampled at round start, every 16 queries, and round end —
      // host contention here arrives in MINUTE-scale bursts that a
      // boundaries-only sample misses entirely (observed: single queries
      // spiking 10-80x mid-round with flat boundary canaries)
      val canarySamples = Seq.newBuilder[Double]
      val canaryIoSamples = Seq.newBuilder[Double]
      val foreignStart = foreignCpuJiffies()
      val stealStart = stealJiffies()
      val compilesStart = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      canarySamples += canarySec(spark)
      canaryIoSamples += canaryIoSec()
      val m = SparkEntry.queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] round=$round $name FAILED: ${e.getMessage}")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        // per-round diagnostics on stderr (the harness parses only the
        // final stdout JSON line): makes cross-round degradation — the
        // round-5/6 failure mode — attributable to specific queries
        System.err.println(f"[bench] round=$round $name $sec%.3f")
        maxRdds = math.max(maxRdds, spark.sparkContext.getPersistentRDDs.size)
        // Isolation between timed queries: drop any cached plans and any
        // persistent RDDs (e.g. a returned localCheckpoint whose frame is
        // now unreferenced). Medians must measure the ENGINE, not the
        // accumulated session state of whatever ran before (the round-5
        // artifact lesson). GC runs PERIODICALLY, not per query: its only
        // job is driving the ContextCleaner (shuffle files, broadcasts) —
        // 300+ forced full collections both waste wall-clock and sweep
        // warm JIT state the next query would reuse.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        cleanupCounter += 1
        if (cleanupCounter % 16 == 0) {
          System.gc()
          canarySamples += canarySec(spark)
          canaryIoSamples += canaryIoSec()
        }
        name -> sec
      }
      canarySamples += canarySec(spark)
      canaryIoSamples += canaryIoSec()
      val foreignEnd = foreignCpuJiffies()
      val stealEnd = stealJiffies()
      // generated-class compiles (Janino runs) this round: a warm round
      // should mostly hit the codegen cache, so a large count means the
      // cache is evicting the working set (Sessions.CodegenCacheEntries)
      System.err.println(s"[bench] round=$round codegen_compiles=" +
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compilesStart))
      val cs = canarySamples.result()
      canaries += ((cs.min, cs.max))
      val cio = canaryIoSamples.result()
      canariesIo += ((cio.min, cio.max))
      // Clamp tiny negatives at 0: the two /proc reads land at slightly
      // different instants with 10 ms jiffy granularity, so a quiet host
      // can legitimately read e.g. -0.02 core-sec — that is the ≈0
      // evidence the gauge exists to publish, not a probe failure. -1.0
      // stays the explicit failure sentinel (ADVICE r15 #2).
      foreignCpu +=
        (if (foreignStart < 0 || foreignEnd < 0) -1.0
         else math.max(0.0, (foreignEnd - foreignStart) / jiffiesPerSec))
      stealCpu +=
        (if (stealStart < 0 || stealEnd < 0) -1.0
         else math.max(0.0, (stealEnd - stealStart) / jiffiesPerSec))
      m
    }
    val median: Map[String, Double] = names.map { name =>
      val xs = samples.map(_(name)).sorted
      val m =
        if (xs.size % 2 == 1) xs(xs.size / 2)
        else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2.0
      name -> m
    }.toMap
    // per-query MINIMUM total alongside the median: host stalls are
    // strictly additive noise, so Σ min is the engine-cost floor — the
    // judge can separate engine movement from capture-time contention
    // (median stays THE metric for r1-r5 comparability)
    val minima: Map[String, Double] =
      names.map(name => name -> samples.map(_(name)).min).toMap
    val minTotal = minima.values.sum
    // Approximation quality, aggregated UNTIMED after the rounds from the
    // same catalog entries the rounds just timed — the artifact now
    // carries recall numbers a judge can trend, not just seconds.
    val recall = recallNumbers(spark, sfDir)
    val line = renderLine(median, n, sfDir, canaries.result(), maxRdds, minTotal,
      minima = minima, recall = recall, failed = failed.toSeq,
      canariesIo = canariesIo.result(), foreignCpu = foreignCpu.result(),
      stealCpu = stealCpu.result(),
      selfrun = {
        // ADVICE r19 #3: under `sbt runMain` the JVM cwd IS the repo
        // root, but any other launcher silently yields None here —
        // indistinguishable in the artifact from "no sidecar exists".
        // Make the cwd mismatch visible the way the SPARK_GRAFT_SELFRUNS
        // fallback already is.
        val sr = selfrunFloor(new java.io.File("."))
        if (sr.isEmpty) {
          // don't advise setting SPARK_GRAFT_SELFRUNS to an operator who
          // already did — the unreadable-override warning has printed by
          // now, so name THAT as the cause instead (review r20)
          val hint =
            if (sys.env.contains("SPARK_GRAFT_SELFRUNS"))
              "the SPARK_GRAFT_SELFRUNS override was unreadable (see " +
                "warning above) and repo-root discovery found nothing either"
            else "launch from the repo root or set SPARK_GRAFT_SELFRUNS"
          System.err.println("[bench] no BENCH_r*_selfruns.jsonl with a " +
            "numeric total_min under cwd '" +
            new java.io.File(".").getAbsolutePath +
            s"' — selfrun_floor omitted ($hint)")
        }
        sr
      })
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(line)
  }

  /** Approximation-quality numbers for the artifact (verdict r6 task 1):
    *  - `x41_ann_lsh` / `x43_ann_ivf`: true recall@5 — Σ per-vector
    *    `n_exact_hits` (the witness those entries already compute) over
    *    (total corpus vectors × 5). Vectors the ANN query returns NO rows
    *    for count as zero hits — the denominator is the corpus, not the
    *    answered set, so a degenerate index can't flatter itself.
    *  - `x32_minhash_pairs` / `x33_simhash_pairs`: banding recall vs
    *    their exact twin x31 — |approx ∩ exact| / |exact| on (id_a,id_b)
    *    (plain row-count ratios overstate x33, which emits hamming-near
    *    pairs that aren't jaccard-near).
    * Failures yield absent keys, never a crashed bench line.
    */
  private[graft] def recallNumbers(
      spark: SparkSession, sfDir: String): Map[String, Double] = {
    import org.apache.spark.sql.functions._
    def tryEntry(name: String)(f: => Double): Option[(String, Double)] =
      try Some(name -> f) catch { case _: Throwable => None }
    def sumD(df: org.apache.spark.sql.DataFrame, c: String): Double =
      df.agg(sum(col(c))).head().getAs[Any](0) match {
        case null => 0.0
        case x: java.lang.Long => x.toDouble
        case x: java.lang.Double => x.doubleValue
      }
    val annK = 5.0
    lazy val nVec =
      graft.core.Tables.embeddings(spark, sfDir).count().toDouble
    // each ANN entry embeds its own brute-force witness (n_exact_hits)
    // by design — the r6 verdict pins the witness INSIDE the timed
    // entries so the trend line stays interpretable — so this untimed
    // tail necessarily re-runs that twin per entry; don't "optimize" it
    // by sharing one exact frame across entries
    def annRecall(q: String): Double = {
      val perVec = SparkEntry.queries(q)(spark, sfDir)
        .groupBy(col("vec_id")).agg(max(col("n_exact_hits")).as("h"))
      sumD(perVec, "h") / (nVec * annK)
    }
    // clustered-corpus twin for the IVF family (VERDICT r12 #4): the
    // driver corpus is near-uniform, where recall ≈ probed fraction BY
    // CONSTRUCTION — its ~0.69 recall@5 reads as an index defect to
    // anyone who hasn't seen §9.1. Carrying the deterministic
    // 32-Gaussian twin's number in the same artifact makes the pair
    // self-explaining: structure present → the index finds it. The twin
    // corpus (ScaleGen seed 7, sized to the driver corpus) is written
    // once under tmpdir keyed by size, so the persisted-index build
    // amortizes across rounds exactly like the driver-dir entries.
    // Cache dir is keyed by the GENERATOR-PARAM tag as well as factor
    // (ADVICE r13 #1): a change to ScaleGen's clustered seed/dims/k/sigma
    // changes the tag, so a stale corpus from a prior generation can
    // never be silently reused. Publication is build-then-atomic-rename
    // so two bench JVMs sharing /tmp can race this block and neither
    // ever reads a half-written corpus: rename(2) either installs the
    // whole dir or fails because the other JVM won.
    lazy val clusteredDir: String = {
      val factor = math.max(1L, math.round(nVec / 2000.0)).toInt
      val tag = graft.tools.ScaleGen.clusteredParamsTag
      val root = s"${System.getProperty("java.io.tmpdir")}/graft-bench-clustered-$tag-f$factor"
      if (!new java.io.File(s"$root/embeddings.parquet/_SUCCESS").exists) {
        val tmp = s"$root.build-${ProcessHandle.current().pid()}"
        graft.tools.ScaleGen.embeddingsClustered(spark, factor)
          .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
        try java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(root),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case e: java.nio.file.FileSystemException =>
          // destination appeared since the check: another JVM published
          // the identical deterministic corpus first — use theirs. But
          // ONLY if it actually did: a non-race failure (permissions,
          // EXDEV when tmpdir spans devices) leaves no _SUCCESS at the
          // destination, and swallowing it would hand downstream reads a
          // broken cache path that fails confusingly later (ADVICE r14
          // #2) — rethrow the original move failure in that case.
          try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
          catch { case _: Throwable => () }
          if (!new java.io.File(s"$root/embeddings.parquet/_SUCCESS").exists)
            throw e
        }
      }
      root
    }
    def clusteredAnnRecall(q: String): Double = {
      val nc = graft.core.Tables.embeddings(spark, clusteredDir).count().toDouble
      val perVec = SparkEntry.queries(q)(spark, clusteredDir)
        .groupBy(col("vec_id")).agg(max(col("n_exact_hits")).as("h"))
      sumD(perVec, "h") / (nc * annK)
    }
    // exact twin materialized at most once, shared by both banding
    // entries, and released before returning (cache hygiene: the bench
    // loop asserts no persistent residue between rounds). persist, NOT
    // localCheckpoint: unpersist on a checkpointed frame is a CacheManager
    // no-op (no entry for the LogicalRDD plan) and the blocks would
    // linger until driver GC
    var exactOpt: Option[org.apache.spark.sql.DataFrame] = None
    def exactPairs = exactOpt.getOrElse {
      val d = SparkEntry.queries("x31_jaccard_pairs")(spark, sfDir)
        .select(col("id_a"), col("id_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      exactOpt = Some(d)
      d
    }
    def bandingRecall(q: String): Double = {
      val nExact = exactPairs.count().toDouble
      val nHit = SparkEntry.queries(q)(spark, sfDir)
        .select(col("id_a"), col("id_b"))
        .join(exactPairs, Seq("id_a", "id_b")).count().toDouble
      nHit / nExact
    }
    try (
      tryEntry("x41_ann_lsh")(annRecall("x41_ann_lsh")) ++
      tryEntry("x43_ann_ivf")(annRecall("x43_ann_ivf")) ++
      tryEntry("x47_ann_ivfpq")(annRecall("x47_ann_ivfpq")) ++
      tryEntry("x43_ivf_clustered")(clusteredAnnRecall("x43_ann_ivf")) ++
      tryEntry("x47_ivfpq_clustered")(clusteredAnnRecall("x47_ann_ivfpq")) ++
      tryEntry("x32_minhash_pairs")(bandingRecall("x32_minhash_pairs")) ++
      tryEntry("x33_simhash_pairs")(bandingRecall("x33_simhash_pairs")) ++
      // planted-witness mirrors (VERDICT r8 #4): 1.0 = the closed-form
      // audio decode check passed / the re-encoded image twin was
      // recalled — the two formerly rows-only entries, auditable from
      // this artifact without reading spec code
      tryEntry("x51_audio_witness") {
        val w = SparkEntry.queries("x51_media_features")(spark, sfDir)
          .where(col("witness_ok").isNotNull)
        val ok = w.where(col("witness_ok") <=> lit(true)).count().toDouble
        val all = w.count().toDouble
        if (all == 0.0) 0.0 else ok / all
      } ++
      tryEntry("x53_planted_twin") {
        sumD(SparkEntry.queries("x53_media_neardup")(spark, sfDir)
          .agg(max(col("n_planted_twin_hits")).as("t")), "t")
      }
    ).toMap
    finally exactOpt.foreach(d =>
      // blocking: this tail is untimed and the residue gauge runs next
      try d.unpersist(true) catch { case _: Throwable => () })
  }

  /** The round's self-run floor, read from the newest committed
    * `BENCH_r{N}_selfruns.jsonl` sidecar in the working directory (the
    * repo root under `sbt runMain`), so the ONE artifact the driver
    * commits self-describes the round's engine floor (VERDICT r18 #2):
    * in r18 the gate run landed on the most steal-contended of five
    * runs and a reader of BENCH_r18.json alone saw floor 175.8 s when
    * the round's sidecar floor was 133.5 s. Returns
    * (round, n_lines, min total_min); round is −1 when the filename
    * carries no round number (explicit `SPARK_GRAFT_SELFRUNS` path).
    * The sidecar round number is EMITTED (as `"r"`) precisely so a
    * stale sidecar — the first self-run of round N reads round N−1's
    * file — is visible in the artifact instead of masquerading as a
    * same-tree floor. Any failure (no sidecar, unreadable, no
    * `total_min` fields) yields None and the field is omitted; a gauge
    * must never kill the bench it annotates.
    */
  private[graft] def selfrunFloor(
      dir: java.io.File): Option[(Int, Int, Double)] =
    try {
      val rx = """BENCH_r(\d+)_selfruns\.jsonl""".r
      def discovered: Option[(Int, java.io.File)] =
        Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
          .flatMap { f =>
            f.getName match {
              case rx(n) => Some((n.toInt, f))
              case _ => None
            }
          }.sortBy(-_._1).headOption
      val picked: Option[(Int, java.io.File)] =
        sys.env.get("SPARK_GRAFT_SELFRUNS") match {
          case Some(p) =>
            val f = new java.io.File(p)
            if (f.isFile)
              Some((rx.findFirstMatchIn(f.getName)
                .map(_.group(1).toInt).getOrElse(-1), f))
            else {
              // a deliberate override must not silently degrade to the
              // field-absent state the field exists to prevent (review
              // r19): warn and fall back to repo-root discovery
              System.err.println(s"[bench] SPARK_GRAFT_SELFRUNS='$p' is " +
                "not a readable file — falling back to sidecar discovery")
              discovered
            }
          case None => discovered
        }
      picked.flatMap { case (round, f) =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val floors =
          try src.getLines().filter(_.trim.startsWith("{")).flatMap { line =>
            // isNumber: a JSON null parses to a non-null NullNode whose
            // asDouble is 0.0 — a hand-edited "total_min":null must not
            // become a fabricated 0.0 floor (review r19)
            try Option(mapper.readTree(line).get("total_min"))
              .filter(_.isNumber).map(_.asDouble)
            catch { case _: Throwable => None }
          }.toList
          finally src.close()
        if (floors.isEmpty) None else Some((round, floors.size, floors.min))
      }
    } catch { case _: Throwable => None }

  /** Contention canary: a fixed CPU-bound reduction timed ~9 times per
    * round (start, every 16 queries, end); the JSON carries each round's
    * [min, max]. The work never changes, so any spread is HOST/SESSION
    * drift (co-tenant bursts, heap pressure, accumulated state) — it
    * makes the artifact self-diagnosing the way the round-5 capture
    * (rows inflated up to 7.7× by capture-time contention) was not.
    */
  private def canarySec(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(100000000L).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Co-tenant CPU meter: (system busy jiffies) − (this JVM's jiffies),
    * both monotonic counters, so a per-round DELTA is foreign CPU spent
    * during the round, in core-seconds. This is the gauge that actually
    * separates tenants — round 15 first tried the 1-min loadavg and
    * found it DOMINATED by the bench's own 32 threads (a 97.9 s-floor
    * run read load 4.3–13.2 while a contended 105 s-floor run read
    * 2.4–9.6: inverted, useless for disqualification), while the probe
    * canaries under-detect partial-core co-tenancy (load 8.5 with a
    * near-flat 32-way-sum canary). Foreign CPU has none of those blind
    * spots: quiet host ≈ 0, a tenant on 8 cores for a 6-min run ≈ 2900.
    * -1.0 where /proc is absent (the renderer omits the field).
    *
    * NOTE (r17): `busy` includes /proc/stat's STEAL field (index 7),
    * so this meter reads in-guest tenants PLUS hypervisor steal — on
    * purpose, both pollute timings identically — and the separate
    * `steal_sec` gauge (stealJiffies below) decomposes which one a
    * reading was. Kept inclusive for cross-round comparability with
    * every r15/r16 artifact on record.
    */
  private def foreignCpuJiffies(): Double =
    try {
      val sys = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).map(_.toLong)
      // busy = user+nice+system+irq+softirq+steal (indices 0,1,2,5,6,7);
      // idle+iowait (3,4) excluded
      val busy = Seq(0, 1, 2, 5, 6, 7).filter(_ < sys.length).map(sys).sum
      val raw = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")))
      // fields after the parenthesized comm (which may contain spaces):
      // state is field 3, so utime (field 14) is index 11 here
      val rest = raw.substring(raw.lastIndexOf(')') + 2).trim.split(" ")
      val own = rest(11).toLong + rest(12).toLong // utime + stime
      (busy - own).toDouble
    } catch { case _: Throwable => -1.0 }

  /** Hypervisor-steal meter, decomposing `foreign_cpu_sec` (which by
    * construction INCLUDES /proc/stat's steal field — busy indices
    * 0,1,2,5,6,7 above): in-guest tenant CPU = foreign − steal. Round
    * 17 measured steal LIVE on this microVM (3.7 core-sec per idle
    * minute with in-guest busy at 1.2), overturning the r15/r16
    * working assumption that below-guest contention is invisible to
    * every in-guest meter — it is visible as steal, but only
    * demand-driven: an IDLE guest accrues little steal on even a busy
    * physical host, so steal is meaningful precisely while the bench
    * keeps all vCPUs hungry. A round with high foreign and high steal
    * is physical-host (below-guest) contention; high foreign with low
    * steal is a real in-guest co-tenant. -1.0 where the field is
    * absent (the renderer omits it).
    */
  private def stealJiffies(): Double =
    try {
      val sys = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).map(_.toLong)
      if (sys.length > 7) sys(7).toDouble else -1.0
    } catch { case _: Throwable => -1.0 }

  private val jiffiesPerSec = 100.0 // USER_HZ; Linux fixes this at 100

  private val ioCanaryBuf = java.nio.ByteBuffer.allocateDirect(1 << 20)

  /** I/O contention canary, sampled beside the CPU one. The round-15
    * floor adjudication exposed a gauge gap: co-tenant DISK pressure
    * slows the scan-heavy query family coherently while the CPU canary
    * stays flat, leaving a 2 s floor drift unattributable. This probe
    * writes 32 MiB + fsync to a fresh tmp file (same ext4 device as the
    * testdata and shuffle dirs) — write+force is page-cache-immune, so
    * its spread tracks device contention specifically. ~80 ms unloaded.
    *
    * -1.0 when the probe itself fails (tmp disk full — a real state
    * during deep-decade rehearsals — or a restricted platform refusing
    * temp files or channels): a gauge must degrade to "no reading",
    * never kill the bench it instruments, so the catch is NonFatal, not
    * just IOException (ADVICE r15 #5); the renderer omits the field for
    * the run, same rule as canary_load.
    */
  private def canaryIoSec(): Double =
    try {
      val path = java.nio.file.Files.createTempFile("graft-bench-iocanary", ".bin")
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(path,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        var i = 0
        while (i < 32) {
          ioCanaryBuf.clear()
          while (ioCanaryBuf.hasRemaining) ch.write(ioCanaryBuf)
          i += 1
        }
        ch.force(true)
      } finally {
        ch.close()
        java.nio.file.Files.deleteIfExists(path)
      }
      (System.nanoTime() - t0) / 1e9
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** The round-1 bench catalog — BASELINE.md-era: 108.3 s over these 34
    * queries at sf0.1 (BENCH_r01.json). The line reports their sum as
    * `baseline_subset` so the vs-baseline claim compares identical query
    * sets instead of a 117-query total against a 34-query one (VERDICT
    * r14 #6). Names are pinned by BenchLineSpec against the live catalog
    * so a rename can't silently shrink the subset.
    */
  private[graft] val baselineQuerySet: Set[String] = Set(
    "q01_agg", "q02_conditional_sum", "q03_semi_join", "q04_anti_join",
    "q05_window_seq", "q06_rollup_collect", "q07_pivot_sum",
    "q08_dim_join_decode", "q09_date_index", "q10_flagship_document",
    "q11_scalar_funcs", "q12_topk", "q13_setops", "q14_rollup",
    "x20_token_stats", "x21_quality", "x22_langid", "x23_fingerprint",
    "x24_scrub", "x25_vocab", "x30_dedup_exact", "x31_jaccard_pairs",
    "x32_minhash_pairs", "x33_simhash_pairs", "x40_cosine_topk",
    "x41_ann_lsh", "x50_media_meta", "x51_media_features",
    "x60_event_hourly", "x61_event_hourly_stream", "x62_event_props",
    "x63_asof_join", "x64_range_join", "x70_topk_per_group")

  /** Gauge triggers for the per-round `contended` verdict, calibrated
    * against the 33 runs on record through round 16 (BENCH_r15/r16
    * sidecars + driver artifacts + the judge's re-runs):
    *  - CPU canary max > 0.4 s — the MAINTENANCE §1 re-run trigger;
    *    all-quiet runs read ≤ ~0.36 (r16 sidecar lines 11/15).
    *  - io canary max > 0.6 s — quiet sustained readings are ≤ ~0.25
    *    with documented single cold-file blips to 0.51 on otherwise
    *    all-quiet runs (r16 lines 1/4/8), vs 0.74 on the gauge-flagged
    *    line 13 and 2.843 in the contended r16 driver artifact.
    *  - foreign CPU > 10 core-sec — every quiet run on record reads
    *    ≤ 8.5; real in-guest co-tenants read 14.8–43.2 (lines 10/14/
    *    16/17); session tooling reads in the tens.
    */
  private[graft] val cpuCanaryTrigger = 0.4
  private[graft] val ioCanaryTrigger = 0.6
  private[graft] val foreignCpuTrigger = 10.0

  /** Per-round contention verdict derived from the three gauges
    * (VERDICT r16 #2): a round is contended when ANY gauge crosses its
    * calibrated trigger, so the artifact labels its own rounds instead
    * of relying on a judge to read the raw arrays each time. A failed
    * gauge (-1.0 sentinel) contributes no verdict — a probe failure is
    * "no reading", not contention. The boolean is DERIVED: the raw
    * arrays stay on the line so the rule can be re-calibrated from
    * committed artifacts alone.
    */
  private[graft] def contendedFlags(
      canaries: Seq[(Double, Double)],
      canariesIo: Seq[(Double, Double)],
      foreignCpu: Seq[Double]): Seq[Boolean] = {
    val rounds = Seq(canaries.size, canariesIo.size, foreignCpu.size).max
    (0 until rounds).map { i =>
      canaries.lift(i).exists(_._2 > cpuCanaryTrigger) ||
        canariesIo.lift(i).exists(c => c._1 >= 0 && c._2 > ioCanaryTrigger) ||
        foreignCpu.lift(i).exists(_ > foreignCpuTrigger)
    }
  }

  /** The ONE JSON line the harness parses — from only the LAST ~2000
    * chars of output, with sbt's "[success] Total time" line (~80 chars)
    * appended after us. Keep the whole line under `budget` chars:
    * 3-decimal seconds, and if the query map still doesn't fit, keep the
    * slowest queries and fold the rest into an "omitted" summary so the
    * line stays parseable no matter how many queries the catalog grows.
    */
  private[graft] def renderLine(
      median: Map[String, Double],
      n: Int,
      sfDir: String,
      canaries: Seq[(Double, Double)] = Nil,
      maxRdds: Int = -1,
      minTotal: Double = -1.0,
      budget: Int = 1800,
      minima: Map[String, Double] = Map.empty,
      recall: Map[String, Double] = Map.empty,
      failed: Seq[String] = Nil,
      canariesIo: Seq[(Double, Double)] = Nil,
      foreignCpu: Seq[Double] = Nil,
      stealCpu: Seq[Double] = Nil,
      selfrun: Option[(Int, Int, Double)] = None): String = {
    val names = median.keys.toSeq
    val total = median.values.sum
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma-decimal locale would render 1,234 — invalid JSON
    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val canaryPart =
      if (canaries.isEmpty) ""
      else canaries.map { case (s, e) => s"[${fmt(s)},${fmt(e)}]" }
        .mkString(""","canary_sec":[""", ",", "]")
    val canaryIoPart =
      if (canariesIo.isEmpty || canariesIo.exists(_._1 < 0)) ""
      else canariesIo.map { case (s, e) => s"[${fmt(s)},${fmt(e)}]" }
        .mkString(""","canary_io":[""", ",", "]")
    // 1-decimal core-seconds: jiffy resolution is 10 ms, and the signal
    // is "≈0 vs hundreds" — more precision is noise
    def fmt1(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(d))
    // omit only on the explicit -1.0 probe-failure sentinel; in-loop
    // clamping means real readings are never negative (ADVICE r15 #2)
    val foreignPart =
      if (foreignCpu.isEmpty || foreignCpu.exists(_ < -0.5)) ""
      else foreignCpu.map(fmt1)
        .mkString(""","foreign_cpu_sec":[""", ",", "]")
    // steal decomposition of foreign (r17): in-guest tenant CPU =
    // foreign − steal; same -1.0 omission rule as the other gauges
    val stealPart =
      if (stealCpu.isEmpty || stealCpu.exists(_ < -0.5)) ""
      else stealCpu.map(fmt1)
        .mkString(""","steal_sec":[""", ",", "]")
    // derived per-round contention label (VERDICT r16 #2) — emitted
    // whenever any gauge array is present
    val contendedPart = {
      val flags = contendedFlags(canaries,
        if (canariesIo.exists(_._1 < 0)) Nil else canariesIo,
        if (foreignCpu.exists(_ < -0.5)) Nil else foreignCpu)
      if (flags.isEmpty) ""
      else flags.map(b => if (b) "true" else "false")
        .mkString(""","contended":[""", ",", "]")
    }
    val rddPart = if (maxRdds < 0) "" else s""","max_rdds":$maxRdds"""
    val minPart = if (minTotal < 0) "" else s""","total_min":${fmt(minTotal)}"""
    // the round's sidecar floor (VERDICT r18 #2): min total_min across
    // the newest BENCH_r{N}_selfruns.jsonl, with the sidecar's round and
    // line count so a stale or thin sidecar self-describes. 1-decimal:
    // the signal is "133.5 vs a 175.8 gate capture", not milliseconds.
    val selfrunPart = selfrun match {
      case None => ""
      case Some((r, cnt, mn)) =>
        val rPart = if (r >= 0) s""""r":$r,""" else ""
        s""","selfrun_floor":{$rPart"n":$cnt,"min":${fmt1(mn)}}"""
    }
    // baseline-era subset totals (VERDICT r14 #6): fixed-size and
    // load-bearing for the vs-baseline comparison — emitted whenever the
    // catalog contains the subset; n_queries < 34 flags catalog drift
    val subsetNames = names.filter(baselineQuerySet.contains)
    val subsetPart =
      if (subsetNames.isEmpty) ""
      else {
        val subMin =
          if (subsetNames.forall(minima.contains))
            s""","total_min":${fmt(subsetNames.map(minima).sum)}"""
          else ""
        s""","baseline_subset":{"n_queries":${subsetNames.size},""" +
          s""""total":${fmt(subsetNames.map(median).sum)}$subMin}"""
      }
    // recall/failed are small, fixed-size, and load-bearing for the
    // artifact's interpretability — emitted unconditionally (the shrink
    // loop below absorbs their length by keeping fewer query rows)
    val recallPart =
      if (recall.isEmpty) ""
      else recall.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString(""","recall":{""", ",", "}")
    // bounded: a systemic regression can fail the WHOLE catalog, and an
    // uncapped name list alone would blow the char budget no matter how
    // many query rows the shrink loop drops — always carry the full
    // count, name at most the first 12
    val failedPart =
      if (failed.isEmpty) ""
      else {
        val shown = failed.sorted.take(12)
        s""","failed_n":${failed.size}""" +
          shown.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
      }
    val bySlowest = names.sortBy(n => (-median(n), n))
    def render(keep: Seq[String]): String = {
      val qs = keep.map(k => "\"" + k + "\":" + fmt(median(k)))
        .mkString("{", ",", "}")
      val omitted = names.size - keep.size
      val omittedPart =
        if (omitted == 0) ""
        else {
          val omSec = names.filterNot(keep.contains).map(median).sum
          s""","omitted":{"n_queries":$omitted,"sec":${fmt(omSec)}}"""
        }
      // per-query minima for the slowest kept rows: total_min proved
      // decisive in r6 adjudication; row-level minima let the artifact
      // self-adjudicate row-level contention without a judge re-run
      val minKeep = bySlowest.filter(keep.contains).take(12)
        .filter(minima.contains).sorted
      val qminPart =
        if (minKeep.isEmpty) ""
        else minKeep.map(k => "\"" + k + "\":" + fmt(minima(k)))
          .mkString(""","queries_min":{""", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":$n,""" +
        s""""n_queries":${names.size},"queries":$qs$omittedPart$qminPart""" +
        s"""$canaryPart$canaryIoPart$foreignPart$stealPart$contendedPart$rddPart$minPart$selfrunPart$subsetPart$recallPart$failedPart,"sf":"$sfDir"}"""
    }
    Iterator.range(names.size, 0, -1)
      .map(k => render(bySlowest.take(k).sorted))
      .find(_.length <= budget)
      .getOrElse(render(Nil))
  }
}
