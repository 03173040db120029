package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run in its own JVM (the router is JVM-global):
  *
  * {{{
  * perfbench.Main --workload route_serve|route_batch --seed N --seconds S
  *   --trace 0|1 --work DIR --result FILE [--tables DIR --trace-file FILE]
  * }}}
  *
  * Writes every metric to `--result` as JSON; run.py turns it into the
  * benchmark's output line. Untraced runs measure one window of S seconds.
  * Traced runs measure S/4 untraced, S/2 with spans and the Spark listener
  * on, S/4 untraced, then one pass of the corpus queries (outputs kept for
  * the DuckDB oracle check) and the layer probe.
  */
object Main {
  val Workloads = Seq("route_serve", "route_batch")

  def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.routing.RoutingContext.install(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work"))
    val tables = a.get("tables").map(Paths.get(_))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val calibStart = Host.calibMs()

    val spark = session(work)
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer
    val counters = new Counters
    val client = new Client(spark, tracer)

    val env = RoadEnv.setup(spark, seed, work.resolve("road"))
    val window: Double => RunResult = workload match {
      case "route_serve" =>
        val w = new RouteServe(spark, env, seed)
        w.warmUp()
        w.window(client, _)
      case _ =>
        val w = new RouteBatch(spark, env, seed, work)
        w.prepare(); w.warmUp()
        w.window(client, _)
    }
    log(f"session ready ${(sessionReadyMs - jvmStartMs) / 1000.0}%.2f s after JVM start")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val runs = scala.collection.mutable.ArrayBuffer.empty[RunResult]
    def endToEnd(r: RunResult): Unit = {
      val ms = r.ops.map(_.ms)
      metrics ++= Seq(
        "setup_s" -> setupS,
        "success_rate" -> (r.attempted - r.failed).toDouble / r.attempted,
        "op_p50_ms" -> Stats.median(ms))
      log(f"${r.ops.length} operations in ${r.windowS}%.2f s; median ms by kind: " +
        r.ops.groupBy(_.kind).map { case (k, os) => f"$k ${Stats.median(os.map(_.ms))}%.1f" }.mkString(", "))
    }
    if (!trace) {
      runs += window(seconds)
      endToEnd(runs.last)
    } else {
      metrics("jvm.heap_mb") = Host.heapMbAfterGc()
      // untraced quarter, traced half, untraced quarter: the overhead
      // compares the traced half with the two quarters around it
      val before = window(seconds / 4)
      spark.sparkContext.addSparkListener(counters)
      tracer.enabled = true
      val gc0 = Host.gcMs()
      val traced = window(seconds / 2)
      val gcS = (Host.gcMs() - gc0) / 1000.0
      tracer.enabled = false
      counters.drain(spark)
      spark.sparkContext.removeSparkListener(counters)
      metrics ++= sparkMetrics(counters, traced, gcS)
      metrics("client.op_p90_ms") = Stats.pct(traced.ops.map(_.ms), 90)
      metrics("client.work_per_s") = traced.work / traced.windowS
      val after = window(seconds / 4)
      runs ++= Seq(before, traced, after)
      val untracedP50 = Stats.median((before.ops ++ after.ops).map(_.ms))
      metrics("trace.overhead_pct") =
        (Stats.median(traced.ops.map(_.ms)) - untracedP50) / untracedP50 * 100
      val corpus = new Corpus(spark, tables.get)
      val (qm, corpusRun) = queryMetrics(spark, client, counters, corpus)
      metrics ++= qm
      runs += corpusRun
      corpus.writeOutputs(Files.createDirectories(work.resolve("corpus-out")))
      tracer.enabled = true
      metrics ++= new LayerProbe(spark, env, seed, work, tables.get, tracer).run()
      tracer.selfMs.foreach { case (name, v) =>
        metrics(s"trace.self_ms.${name.replace('.', '_')}") = v
      }
      a.get("trace-file").foreach(f => Files.writeString(Paths.get(f),
        s"""{"workload":${Json.str(workload)},"seed":$seed,"metrics":${jsonMap(metrics)},""" +
          s""""spans":${tracer.toJson}}"""))
    }
    metrics("host.calib_start_ms") = calibStart
    metrics("host.calib_end_ms") = Host.calibMs()
    log(f"host calibration loop: $calibStart%.0f ms at start, ${metrics("host.calib_end_ms")}%.0f ms at end")
    spark.stop()

    val attempted = runs.map(_.attempted).sum
    val failed = runs.map(_.failed).sum
    runs.flatMap(_.problems).take(50).foreach(p => log(s"problem: $p"))
    Files.writeString(Paths.get(a("result")),
      s"""{"attempted":$attempted,"failed":$failed,"metrics":${jsonMap(metrics)}}""")
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def jsonMap(m: scala.collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")

  /** Job, task and byte counts of the traced window's operations. */
  def sparkMetrics(c: Counters, r: RunResult, gcS: Double): Seq[(String, Double)] = {
    val ops = c.byOp.filter { case (k, _) => k.nonEmpty && !k.startsWith("marker:") }.values.toSeq
    val n = r.ops.length.toDouble
    val delays = ops.flatMap(_.schedDelayMs)
    Seq(
      "spark.plan_ms" -> Stats.median(r.ops.map(_.planMs)),
      "spark.exec_ms" -> Stats.median(r.ops.map(_.execMs)),
      "spark.sched_delay_ms" -> delays.sum / math.max(1, delays.length),
      "spark.jobs_per_op" -> ops.map(_.jobs).sum / n,
      "spark.tasks_per_op" -> ops.map(_.tasks).sum / n,
      "spark.task_cpu_s" -> ops.map(_.cpuNs).sum / 1e9,
      "spark.task_run_s" -> ops.map(_.runMs).sum / 1e3,
      "spark.gc_s" -> gcS,
      "spark.shuffle_bytes" -> ops.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> ops.map(_.spillBytes).sum.toDouble,
      "spark.single_task_stages" -> ops.map(_.singleTaskStages).sum.toDouble)
  }

  /** Per-query time and counters from one warm pass of the corpus
    * queries, outside the spans.
    */
  def queryMetrics(spark: SparkSession, client: Client, c: Counters,
                   corpus: Corpus): (Seq[(String, Double)], RunResult) = {
    require(corpus.missing.isEmpty, s"queries not defined: ${corpus.missing}")
    corpus.warmUp(client)
    c.byOp.clear()
    spark.sparkContext.addSparkListener(c)
    val pass = corpus.pass(client)
    c.drain(spark)
    spark.sparkContext.removeSparkListener(c)
    (Corpus.Queries.flatMap { q =>
      val runs = corpus.queryOps.filter(_.kind == q).toSeq
      val cs = c.byOp.filter(_._1.startsWith(q + ":")).values.toSeq
      val k = math.max(1, runs.length).toDouble
      Seq(
        s"queries.$q.s" -> Stats.median(runs.map(_.ms / 1000.0)),
        s"queries.$q.cpu_s" -> cs.map(_.cpuNs).sum / 1e9 / k,
        s"queries.$q.shuffle_bytes" -> cs.map(_.shuffleBytes).sum / k,
        s"queries.$q.single_task_stages" -> cs.map(_.singleTaskStages).sum / k)
    }, pass)
  }
}
