package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: sets up one workload, runs rounds of it
  * for the requested time, and writes the raw run record (timings, op
  * latencies, checks, and in traced rounds the spans and Spark
  * accounting) as JSON. `perfbench/run.py` turns the record into metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <runDir> <recordOut> <expectedJson> <dataDir> [--write-expected <out>]
  */
object Main {
  /** Deliveries per lake_ingest round (perfbench/run.py slices as many). */
  val LakeDeliveries = 2

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    // graft.Bench's session conf, then the engine's own tuning
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.Sessions.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** /proc/stat busy and steal jiffies of the whole host, and this
    * process's own CPU jiffies — `graft.Bench`'s host-noise method.
    */
  def hostJiffies(): (Long, Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      val busy = Seq(0, 1, 2, 5, 6, 7).filter(_ < f.length).map(f(_)).sum
      val self = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
      val rest = self.substring(self.lastIndexOf(')') + 2).trim.split(" ")
      (busy, if (f.length > 7) f(7) else 0L, rest(11).toLong + rest(12).toLong)
    } catch { case _: Throwable => (0L, 0L, 0L) }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def vmHwmMb(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/self/status"))).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  def checkJson(c: Check): Map[String, Any] =
    Map("name" -> c.name, "ok" -> c.ok, "got" -> c.got, "want" -> c.want)

  /** Largest heap occupancy left after any garbage collection while
    * installed: the retained working set (pins, caches, state) rather
    * than how far the collector let the heap grow.
    */
  object HeapAfterGc extends javax.management.NotificationListener {
    private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(this, null, null))

    def peakMb: Double = peak.get / 1048576.0

    override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
      }
  }

  def readExpected(path: String): Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .map(m => m.group(1) -> m.group(2)).toMap

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDir, recordOut, expectedPath, dataDir) =
      argv.take(8)
    val writeExpected = argv.drop(8).sliding(2).collectFirst { case Array("--write-expected", p) => p }
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session()
    Trace.sc = spark.sparkContext
    // JVM start to a warm session
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val expected = readExpected(expectedPath)
    val wl: Workload = workload match {
      case "lake_ingest" => new LakeIngest(spark, expected, LakeDeliveries)
      case "catalog_read" => new CatalogRead(spark, seed, expected)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // set-up after the session: the inputs, then one untimed warm pass
    wl.load(dataDir)
    val (warmChecks, warmS) = Workloads.timed(wl.warm())

    writeExpected.foreach { out =>
      val values = wl match {
        case w: LakeIngest => w.expectedValues(s"$dataDir/all")
        case w: CatalogRead => w.expectedValues()
      }
      Files.write(Paths.get(out), Json.render(values.toSeq.sortBy(_._1).toMap).getBytes("UTF-8"))
    }

    // timed phase: rounds of fixed work until `seconds` have passed; in a
    // traced run untraced and traced rounds alternate, starting and ending
    // untraced (at least three), so warm-up drift cancels out of the
    // traced-minus-untraced overhead
    HeapAfterGc.install()
    val (busy0, steal0, own0) = hostJiffies()
    val phaseStart = System.nanoTime()
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def elapsed = (System.nanoTime() - phaseStart) / 1e9
    var r = 0
    while (r == 0 || elapsed < seconds || (trace && (r < 3 || r % 2 == 0))) {
      val traced = trace && r % 2 == 1
      val roundDir = s"$runDir/rounds/r$r"
      val listener = new Trace.Listener
      if (traced) {
        spark.sparkContext.addSparkListener(listener)
        Trace.enabled = true
        LakeStats.drain()
        wl match { case c: CatalogRead => c.pinnedMbPeak = 0.0; case _ => }
      }
      val cpu0 = processCpuS(); val gc0 = gcS(); val jit0 = jitS()
      val t0 = System.nanoTime()
      val ops = wl.round(r, roundDir)
      val (checks, verifyS) = Workloads.timed(Trace.span("readback", op = s"r$r-readback")(wl.verify(r, roundDir)))
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = processCpuS() - cpu0
      val gc = gcS() - gc0; val jit = jitS() - jit0
      Trace.enabled = false
      val lakeFiles = wl.lakeRoot(roundDir).map(LakeStats.files).getOrElse(Map.empty)
      var rec = Map[String, Any](
        "round" -> r, "traced" -> traced, "wall_s" -> wallS, "cpu_s" -> cpuS,
        "readback_s" -> (verifyS + wl.roundReadbackS), "gc_s" -> gc, "jit_s" -> jit,
        "input_bytes" -> wl.roundInputBytes,
        "lake_live_files" -> lakeFiles.size, "lake_live_bytes" -> lakeFiles.values.sum,
        "ops" -> ops.map(o => Map("id" -> o.id, "s" -> o.seconds, "ok" -> o.ok,
          "retries" -> o.retries, "error" -> o.error)),
        "checks" -> checks.map(checkJson))
      if (traced) {
        listener.awaitJobEnds()
        spark.sparkContext.removeSparkListener(listener)
        val (jobs, stages) = listener.drain()
        rec ++= Map("spans" -> Trace.drain().map(Trace.spanJson), "jobs" -> jobs,
          "stages" -> stages, "lake" -> LakeStats.drain(),
          "pinned_mb_peak" -> (wl match { case c: CatalogRead => c.pinnedMbPeak; case _ => 0.0 }))
      }
      rounds += rec
      Workloads.deleteTree(roundDir)
      r += 1
    }
    val (busy1, steal1, own1) = hostJiffies()

    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "setup" -> Map("session_s" -> sessionS, "warm_s" -> warmS,
        "checks" -> warmChecks.map(checkJson)),
      "rounds" -> rounds,
      "dag" -> (wl match {
        case w: LakeIngest => w.dag.map(j => Map("id" -> j.id, "deps" -> j.dependsOn.toSeq.sorted))
        case _ => Nil
      }),
      "pool_threads" -> (wl match { case w: LakeIngest => w.PoolThreads; case _ => 0 }),
      "host" -> Map("steal_s" -> (steal1 - steal0) / 100.0,
        "foreign_s" -> math.max(0.0, ((busy1 - busy0) - (own1 - own0)) / 100.0)),
      "peak_rss_mb" -> vmHwmMb(), "peak_heap_mb" -> HeapAfterGc.peakMb)
    Files.write(Paths.get(recordOut), Json.render(record).getBytes("UTF-8"))
    spark.stop()
  }
}
