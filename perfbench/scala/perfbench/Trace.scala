package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory tracing for the traced run.
  *
  * A span wraps one call into a public engine function (or one benchmark
  * step: an operation, a DAG job body, a read-back). It records a name,
  * start and end on the run's clock, its parent span and the operation
  * it belongs to. While a span is open its id is set as a Spark local
  * property on the calling thread, so every Spark job the call submits
  * carries it and [[Listener]] can tie jobs, stages and tasks back to the
  * span. Nothing is recorded while tracing is off: `span` then only runs
  * its body. Everything stays in memory until [[drain]] hands it to the
  * round record.
  */
object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, op: String,
      startNs: Long, endNs: Long)

  @volatile var enabled = false
  @volatile var sc: SparkContext = _
  private val epochNs = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  def nowS: Double = (System.nanoTime() - epochNs) / 1e9

  /** Run `body` inside a span. `op` defaults to the enclosing span's;
    * `parent` overrides the enclosing span (a DAG job body runs on a
    * pool thread, away from the dispatching thread's open spans).
    */
  def span[A](name: String, op: String = null, parent: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val stack = open.get
      val p = if (parent >= 0) parent else stack.headOption.map(_._1).getOrElse(0L)
      val o = Option(op).orElse(stack.headOption.map(_._2)).getOrElse("")
      val id = ids.incrementAndGet()
      val prevProp = sc.getLocalProperty(SpanProp)
      open.set((id, o) :: stack)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, p, name, o, t0 - epochNs, System.nanoTime() - epochNs))
        sc.setLocalProperty(SpanProp, prevProp)
        open.set(stack)
      }
    }

  /** Id of the innermost open span on this thread, 0 outside any. */
  def current: Long = open.get.headOption.map(_._1).getOrElse(0L)

  def drain(): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var s = done.poll()
    while (s != null) { out += s; s = done.poll() }
    out.sortBy(_.id).toSeq
  }

  def spanJson(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
    "start" -> s.startNs / 1e9, "end" -> s.endNs / 1e9)

  /** Spark's own job/stage/task accounting, registered only while a
    * traced round runs. Task metrics are summed per stage; a stage counts
    * as a scan stage when its tasks read input bytes from files.
    */
  final class Listener extends SparkListener {
    final class StageAcc {
      var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var schedMs = 0L
      var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
    private val stages = mutable.LinkedHashMap.empty[Int, StageAcc]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      jobs(e.jobId) = mutable.Map("id" -> e.jobId, "span" -> span.map(_.toLong).getOrElse(0L),
        "start" -> Trace.nowS, "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_("end") = Trace.nowS)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
      }
    }

    /** Listener events arrive asynchronously; a job's task ends are
      * posted before its job end, so once every started job has ended
      * the accounting is complete.
      */
    def awaitJobEnds(timeoutMs: Long = 5000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (synchronized(jobs.values.exists(!_.contains("end"))) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
    }

    def drain(): (Seq[Map[String, Any]], Seq[Map[String, Any]]) = synchronized {
      val js = jobs.values.map { j =>
        (j.toMap - "stages") + ("end" -> j.getOrElse("end", Trace.nowS))
      }.toSeq
      val stageJob = jobs.values.flatMap(j =>
        j("stages").asInstanceOf[Seq[Int]].map(_ -> j("id"))).toMap
      val ss = stages.map { case (id, a) => Map[String, Any](
        "id" -> id, "job" -> stageJob.getOrElse(id, -1), "tasks" -> a.tasks,
        "run_s" -> a.runMs / 1e3, "cpu_s" -> a.cpuNs / 1e9, "sched_s" -> a.schedMs / 1e3,
        "input_mb" -> a.inputBytes / 1048576.0, "shuffle_read_mb" -> a.shuffleRead / 1048576.0,
        "shuffle_write_mb" -> a.shuffleWrite / 1048576.0, "spill_mb" -> a.spill / 1048576.0)
      }.toSeq
      jobs.clear(); stages.clear()
      (js, ss)
    }
  }
}

/** Minimal JSON rendering for the run record (maps, sequences, strings,
  * numbers, booleans).
  */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
