package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder and Spark listener of the traced run.
  *
  * Spans nest workload → pass → op → phase (or pipeline function); Spark
  * jobs hang under the span whose job group they carry (the benchmark sets
  * the group `pb:<spanId>` before each phase). A job started on a thread
  * that does not carry such a group is counted as unattributed. Spans are
  * kept in memory and written out when the run ends. All counters are
  * cumulative; [[snapshot]] drains the listener bus first so a window's
  * numbers are complete. */
final class Tracer extends SparkListener {

  final case class Span(id: Int, parent: Int, name: String, start: Long) {
    var end: Long = -1L
    def ms: Double = (end - start) / 1e6
  }
  final case class Job(id: Int, group: String, startMs: Long, tablesInfer: Boolean) {
    var endMs: Long = startMs
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]

  // listener-side counters, guarded by `this`
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageGroup = mutable.Map.empty[Int, String]
  /** Bytes read from input files, per job group. */
  val inputByGroup = mutable.Map.empty[String, Long].withDefaultValue(0L)
  // the tracer's own cost: time inside the listener callbacks (bus
  // thread) and time the measured threads spend in tracing code
  @volatile private var listenerNs = 0L
  private val callerNs = new java.util.concurrent.atomic.AtomicLong
  private val charging = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime(); body; listenerNs += System.nanoTime() - t0
  }

  /** Run `body` and charge its time to the tracer. Nested charges on one
    * thread count once. */
  def charge[T](body: => T): T =
    if (charging.get) body
    else {
      charging.set(true)
      val t0 = System.nanoTime()
      try body finally { callerNs.addAndGet(System.nanoTime() - t0); charging.set(false) }
    }

  def open(name: String, parent: Int): Span = charge(synchronized {
    val s = Span(spans.size, parent, name, System.nanoTime()); spans += s; s
  })
  def close(s: Span): Unit = charge(synchronized { s.end = System.nanoTime() })

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // the parquet schema-inference job of Tables.load has the call site
    // "parquet at Tables.scala:<line>" as its stage name
    val infer = e.stageInfos.exists(_.name.contains("Tables.scala"))
    jobs(e.jobId) = Job(e.jobId, group, e.time, infer)
    e.stageIds.foreach(stageGroup(_) = group)
    c("jobs") += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    c("stages") += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    c("tasks") += 1
    if (m != null) {
      c("task_ms") += m.executorRunTime
      c("task_cpu_ns") += m.executorCpuTime
      c("gc_ms") += m.jvmGCTime
      c("shuffle_write_b") += m.shuffleWriteMetrics.bytesWritten
      c("spill_b") += m.memoryBytesSpilled + m.diskBytesSpilled
      inputByGroup(stageGroup.getOrElse(e.stageId, "")) += m.inputMetrics.bytesRead
    }
  }

  /** Cumulative counters after draining the bus. */
  def snapshot(sc: SparkContext): Map[String, Double] = charge {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized { c.toMap.withDefaultValue(0.0) }
  }

  /** Cumulative tracer cost so far: listener callbacks, and tracing code
    * on the measured threads. */
  def listenerCostNs: Long = listenerNs
  def callerCostNs: Long = callerNs.get

  /** Self time of each span: its duration minus the union of the
    * intervals its child spans and its attributed jobs cover. */
  def selfMs: Map[Int, Double] = synchronized {
    val kids = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    def add(p: Int, iv: (Long, Long)) =
      kids.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += iv
    spans.foreach(s => if (s.parent >= 0) add(s.parent, (s.start, s.end)))
    // job times are wall-clock ms; map them onto the nanoTime axis
    val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    jobs.values.foreach { j =>
      Tracer.spanOf(j.group).foreach(p =>
        add(p, (j.startMs * 1000000L + offset, j.endMs * 1000000L + offset)))
    }
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, mutable.ArrayBuffer.empty)
        .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var upTo = s.start
      ivs.foreach { case (a, b) =>
        val from = math.max(a, upTo)
        if (b > from) { covered += b - from; upTo = b }
      }
      s.id -> (s.end - s.start - covered) / 1e6
    }.toMap
  }
}

object Tracer {
  val GroupPrefix = "pb:"
  def group(spanId: Int): String = s"$GroupPrefix$spanId"
  /** The span a job group names, if the benchmark set it. */
  def spanOf(group: String): Option[Int] =
    if (group.startsWith(GroupPrefix)) group.drop(GroupPrefix.length).toIntOption
    else None
}

