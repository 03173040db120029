package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** One timed operation's outcome, as the client saw it. */
final case class OpTiming(kind: String, ms: Double, planMs: Double, execMs: Double)

/** What a workload run hands back to [[Main]]. `work` counts the items the
  * throughput metric divides by (requests, pairs, queries).
  */
final case class RunResult(
    ops: Seq[OpTiming], work: Long, windowS: Double,
    attempted: Long, failed: Long, problems: Seq[String])

object Stats {
  /** Nearest-rank percentile of an unsorted sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Spans of one run, kept in memory and written out at the end. A span has
  * a name, start, end, parent and the id of the operation it belongs to.
  */
final class Tracer {
  @volatile var enabled = false
  final case class Span(id: Int, parent: Int, op: String, name: String,
                        startNs: Long, var endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = ""

  def op[T](opId: String)(body: => T): T = { currentOp = opId; try body finally currentOp = "" }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), currentOp,
        name, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Self time per span name: duration minus the time covered by children. */
  def selfMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

/** Spark listener that attributes jobs, stages and tasks to the benchmark
  * operation that launched them, through an inheritable local property,
  * so jobs started on helper threads (streaming, build pools) still count.
  */
final class Counters extends SparkListener {
  final class OpCounters {
    var jobs = 0; var tasks = 0L; var cpuNs = 0L; var runMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var singleTaskStages = 0
    val schedDelayMs = mutable.ArrayBuffer.empty[Double]
  }
  val byOp = mutable.Map.empty[String, OpCounters]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, String]
  private val jobSubmit = mutable.Map.empty[Int, Long]
  private val jobFirstLaunch = mutable.Map.empty[Int, Long]
  @volatile var markerSeen: String = ""

  private def of(op: String) = byOp.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.OpKey))).getOrElse("")
    of(op).jobs += 1
    jobOp(e.jobId) = op
    jobSubmit(e.jobId) = e.time
    e.stageInfos.foreach { s =>
      stageOp(s.stageId) = op; stageJob(s.stageId) = e.jobId
      if (s.numTasks == 1) of(op).singleTaskStages += 1
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      if (!jobFirstLaunch.contains(j)) jobFirstLaunch(j) = e.taskInfo.launchTime
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (sub <- jobSubmit.get(e.jobId); first <- jobFirstLaunch.get(e.jobId))
      of(jobOp(e.jobId)).schedDelayMs += math.max(0L, first - sub).toDouble
    // a job ends after all of its tasks' end events
    jobOp.get(e.jobId).filter(_.startsWith("marker:")).foreach(markerSeen = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageOp.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime; c.runMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  /** Blocks until every event posted before this call has been delivered. */
  def drain(spark: SparkSession): Unit = {
    val id = s"marker:${System.nanoTime()}"
    Counters.withOp(spark, id)(spark.range(1).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (markerSeen != id && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object Counters {
  val OpKey = "perfbench.op"
  def withOp[T](spark: SparkSession, op: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, op)
    try body finally sc.setLocalProperty(OpKey, null)
  }
}

/** Runs one SQL statement or DataFrame as a timed client operation. */
final class Client(spark: SparkSession, tracer: Tracer) {
  private var seq = 0
  def run(kind: String, df: => DataFrame): (OpTiming, Array[Row]) = {
    seq += 1
    val opId = s"$kind:$seq"
    tracer.op(opId) {
      Counters.withOp(spark, opId) {
        tracer.span("client") {
          val t0 = System.nanoTime()
          val d = tracer.span("spark.plan") { val d = df; d.queryExecution.executedPlan; d }
          val t1 = System.nanoTime()
          val rows = tracer.span("spark.exec")(d.collect())
          val t2 = System.nanoTime()
          (OpTiming(kind, (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6), rows)
        }
      }
    }
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalArgumentException(s"non-finite metric $v")
    else v.toString
}

object Host {
  /** A fixed CPU loop; its time tracks the host's throughput, not the
    * program's.
    */
  def calibMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x12345678L; var acc = 0.0; var i = 0
    while (i < 30000000) { x = x * 6364136223846793005L + 1442695040888963407L; acc += (x >>> 40).toDouble; i += 1 }
    if (acc == 42.0) println("")
    (System.nanoTime() - t0) / 1e6
  }

  def heapMbAfterGc(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
