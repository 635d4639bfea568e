package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's JVM side. It drives the engine only through its public
  * entry points (GraftSession.builder, Tables.load, SparkEntry.queries,
  * SparkEntry.oracleSql, ScriptRunner.run) and measures every layer from
  * outside: a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener for planning phases and executed-plan SQL metrics,
  * and spans recorded around each call it makes.
  *
  * It writes raw per-pass records to `<work>/result.json`; `run.py` turns
  * them into metrics and checks the outputs.
  *
  * Usage: perfbench.Harness <workload> <dataDir> <workDir> <seconds> <trace 0|1> <cores>
  */
object Harness {

  // ---- workloads ------------------------------------------------------------

  sealed trait BenchUnit { def name: String }
  final case class Query(name: String, rounds: Int) extends BenchUnit
  final case class Script(name: String, path: String) extends BenchUnit

  /** Units in submission order. The iter rounds are each query's documented
    * driver-loop round count (SparkEntry: iters / maxIter / k).
    */
  def units(workload: String): Seq[BenchUnit] = workload match {
    case "olap" => Seq("q10_groupby", "q15_join_merge", "q24_cube_count_distinct",
      "q26_duple_cube", "q28_topn", "q83_join_asof").map(Query(_, 0)) ++
      Seq("mesh_join_cube", "daily_report").map(s => Script(s, s"examples/$s.cmr"))
    case "iter" => Seq(Query("q199_pagerank", 5), Query("q201_label_prop", 4),
      Query("q208_kcenter_greedy", 8), Query("q209_mmr_select", 8))
    case other => sys.error(s"unknown workload: $other")
  }

  // ---- clock ----------------------------------------------------------------

  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  /** Epoch microseconds from the monotonic clock, comparable with the
    * listener's epoch-millisecond event times. */
  def nowUs(): Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  // ---- SparkListener: jobs, stages, tasks -----------------------------------

  final class JobRec(val id: Int, val startUs: Long, val desc: String, val stageIds: Seq[Int]) {
    var endUs: Long = -1L
  }
  final case class StageRec(id: Int, jobId: Int, startUs: Long, endUs: Long)

  final class Counters {
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val stages = mutable.ArrayBuffer.empty[StageRec]
    val submittedStages = mutable.Set.empty[Int]
    var tasks, failedTasks = 0L
    var cpuNs, deserMs, taskDurMs = 0L
    var peakMem = 0L
    var inBytes, outBytes, outRecs = 0L
    var shWBytes, shWRecs, shRBytes, fetchWaitMs = 0L
    var diskSpill = 0L
  }

  final class Probe extends SparkListener {
    private var c = new Counters
    private val stageJob = mutable.Map.empty[Int, Int]
    def take(): Counters = synchronized { val r = c; c = new Counters; r }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      c.jobs += new JobRec(e.jobId, e.time * 1000L, desc, e.stageIds)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      c.jobs.find(_.id == e.jobId).foreach(_.endUs = e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      c.submittedStages += e.stageInfo.stageId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      c.stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1),
        i.submissionTime.getOrElse(0L) * 1000L, i.completionTime.getOrElse(0L) * 1000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      c.taskDurMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        c.deserMs += m.executorDeserializeTime
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        c.inBytes += m.inputMetrics.bytesRead
        c.outBytes += m.outputMetrics.bytesWritten
        c.outRecs += m.outputMetrics.recordsWritten
        c.shWBytes += m.shuffleWriteMetrics.bytesWritten
        c.shWRecs += m.shuffleWriteMetrics.recordsWritten
        c.shRBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.diskSpill += m.diskBytesSpilled
      }
    }
  }

  // ---- QueryExecutionListener: planning phases and plan metrics -------------

  final case class Phase(name: String, startUs: Long, endUs: Long)

  final class PlanCounters {
    var executions = 0L
    var planUs = 0L
    val phases = mutable.ArrayBuffer.empty[Phase]
    val nums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = nums(k) = nums(k) + v
  }

  final class PlanProbe extends QueryExecutionListener {
    @volatile var enabled = false
    private var c = new PlanCounters
    def take(): PlanCounters = synchronized { val r = c; c = new PlanCounters; r }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (enabled) record(qe)

    private def record(qe: QueryExecution): Unit = synchronized {
      c.executions += 1
      qe.tracker.phases.foreach { case (name, p) =>
        c.planUs += (p.endTimeMs - p.startTimeMs) * 1000L
        c.phases += Phase(name, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      }
      walk(qe.executedPlan)
    }

    private def metric(p: SparkPlan, key: String): Double = p.metrics.get(key) match {
      case Some(m) => m.metricType match {
        case "timing" => m.value / 1e3
        case "nsTiming" => m.value / 1e9
        case _ => m.value.toDouble
      }
      case None => 0.0
    }

    /** Final (post-AQE) plan walk; a reused exchange is counted once, at
      * the exchange that computed it. */
    private def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => ()
      case n =>
        visit(n)
        n.children.foreach(walk)
        n.subqueries.foreach(walk)
    }

    private def visit(n: SparkPlan): Unit = {
      val cls = n.getClass.getSimpleName
      cls match {
        case "ShuffleExchangeExec" => c.add("plans.exchanges", 1)
        case "BroadcastExchangeExec" =>
          c.add("spark.broadcasts", 1)
          c.add("spark.broadcast_mb", metric(n, "dataSize") / 1e6)
          c.add("operators.join_build_s", metric(n, "buildTime"))
        case "BroadcastHashJoinExec" | "BroadcastNestedLoopJoinExec" =>
          c.add("plans.broadcast_joins", 1)
        case "SortMergeJoinExec" => c.add("plans.sort_merge_joins", 1)
        case "CartesianProductExec" => c.add("plans.cartesian", 1)
        case "FileSourceScanExec" =>
          c.add("sources.file_mb", metric(n, "filesSize") / 1e6)
          c.add("sources.file_rows", metric(n, "numOutputRows"))
          c.add("sources.scan_s", metric(n, "scanTime"))
        case "SortExec" => c.add("operators.sort_s", metric(n, "sortTime"))
        case "ShuffledHashJoinExec" => c.add("operators.join_build_s", metric(n, "buildTime"))
        case "WholeStageCodegenExec" => c.add("operators.wscg_s", metric(n, "pipelineTime"))
        case "ExpandExec" => c.add("operators.expand_rows", metric(n, "numOutputRows"))
        case _ =>
      }
      if (cls.endsWith("AggregateExec")) c.add("operators.agg_s", metric(n, "aggTime"))
      if (cls.endsWith("JoinExec")) c.add("operators.join_rows", metric(n, "numOutputRows"))
    }
  }

  // ---- spans ----------------------------------------------------------------

  final case class Span(id: Int, parent: Int, name: String, layer: String, startUs: Long, endUs: Long)

  final class Tracer {
    var enabled = false
    val spans = mutable.ArrayBuffer.empty[Span]
    private val stack = mutable.Stack.empty[Int]
    private var next = 0

    def add(parent: Int, name: String, layer: String, s: Long, e: Long): Int = {
      next += 1; spans += Span(next, parent, name, layer, s, e); next
    }
    def span[T](name: String, layer: String)(body: => T): T =
      if (!enabled) body
      else {
        val parent = stack.headOption.getOrElse(0)
        val id = add(parent, name, layer, nowUs(), -1L)
        stack.push(id)
        try body
        finally {
          stack.pop()
          val i = spans.lastIndexWhere(_.id == id)
          spans(i) = spans(i).copy(endUs = nowUs())
        }
      }
  }

  // ---- JSON -----------------------------------------------------------------

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  // ---- the run --------------------------------------------------------------

  final case class UnitResult(name: String, wallS: Double, buildS: Double, rounds: Int,
                              error: Option[String])

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, secondsArg, traceArg, cores) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val work = Paths.get(workDir)
    val tracer = new Tracer
    // the workload's inputs: every table the generator wrote
    val inputs = Files.list(Paths.get(dataDir)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSeq.sorted

    // -- set-up: a ready session with the workload's inputs resolved, done
    // three times. The first is timed from JVM start; the next two stop the
    // session and time a fresh SparkContext and a fresh input resolution.
    val setups = mutable.ArrayBuffer.empty[String]
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      val t0 = if (i == 0) ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
        else { spark.stop(); nowUs() }
      val tBuild = nowUs()
      spark = graft.GraftSession.builder(appName = "perfbench", cores = cores).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val tResolve = nowUs()
      inputs.foreach(t => graft.Tables.load(spark, dataDir, t))
      val tReady = nowUs()
      setups += obj(Seq(
        "setup_s" -> num((tReady - t0) / 1e6),
        "session.build_s" -> num((tResolve - tBuild) / 1e6),
        "session.resolve_s" -> num((tReady - tResolve) / 1e6)))
      if (trace) {
        val root = tracer.add(0, s"setup$i", "bench", t0, tReady)
        tracer.add(root, "session.build", "session", tBuild, tResolve)
        tracer.add(root, "session.resolve", "session", tResolve, tReady)
      }
    }
    val sc = spark.sparkContext

    val probe = new Probe
    sc.addSparkListener(probe)
    val planProbe = new PlanProbe
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(planProbe)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

    val us = units(workload)
    val outRoot = work.resolve("out")
    val passes = mutable.ArrayBuffer.empty[String]

    def scriptArgs(s: Script, out: Path): Array[String] =
      Array(s.path, s"DIR=$dataDir", s"OUT=$out", "ENV=dev")

    def runUnit(u: BenchUnit, pass: Int): (UnitResult, Counters, PlanCounters) = {
      ListenerDrain(sc)
      probe.take(); planProbe.take()
      var buildS = 0.0
      val t0 = nowUs()
      val err = try {
        u match {
          case Query(name, _) =>
            val fn = graft.SparkEntry.queries(name)
            val df = tracer.span(s"call:$name", if (workload == "iter") "iter" else "plans") {
              fn(spark, dataDir)
            }
            buildS = (nowUs() - t0) / 1e6
            tracer.span(s"store:$name", "operators") {
              df.write.mode("overwrite").parquet(outRoot.resolve(s"pass$pass").resolve(name).toString)
            }
          case s: Script =>
            val out = outRoot.resolve(s"pass$pass").resolve(s.name)
            tracer.span(s"script:${s.name}", "script") {
              graft.ScriptRunner.run(scriptArgs(s, out), stopSession = false)
            }
        }
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}")
      }
      val wallS = (nowUs() - t0) / 1e6
      ListenerDrain(sc)
      val c = probe.take()
      val pc = planProbe.take()
      val rounds = u match { case Query(_, r) => r; case _ => 0 }
      (UnitResult(u.name, wallS, buildS, rounds, err), c, pc)
    }

    def runPass(pass: Int, kind: String, traced: Boolean): Unit = {
      tracer.enabled = traced
      planProbe.enabled = traced
      val gc0 = gcMs()
      val results = mutable.ArrayBuffer.empty[(UnitResult, Counters, PlanCounters)]
      tracer.span(s"pass$pass", "bench") {
        us.foreach { u =>
          val first = tracer.spans.size
          val r = tracer.span(s"unit:${u.name}", "bench")(runUnit(u, pass))
          results += r
          if (traced) addListenerSpans(tracer, tracer.spans(first).id, r._2, r._3)
        }
      }
      val gcS = (gcMs() - gc0) / 1e3
      val persisted = sc.getPersistentRDDs.size
      val retainedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      passes += passJson(pass, kind, traced, results.toSeq, gcS, persisted, retainedMb)
      tracer.enabled = false
      planProbe.enabled = false
    }

    // cold pass, then warm passes for the measured window. A traced run
    // adds traced passes in the order (untraced warm-up) T U U T, so the
    // tracing overhead is read within one JVM and a linear warm-up drift
    // cancels out.
    var pass = 0
    runPass(pass, "cold", traced = false)
    val warmStart = System.nanoTime()
    var warm = 0
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    while (warm < (if (trace) 5 else 3) || elapsed < seconds) {
      pass += 1
      val traced = trace && warm > 0 && Set(0, 3).contains((warm - 1) % 4)
      runPass(pass, if (trace && warm == 0) "warmup" else "warm", traced)
      warm += 1
    }

    // -- every pass's outputs stay under <work>/out/pass<N>/<unit> for the
    // checks in run.py; query units carry their oracle
    val oracles = us.collect { case Query(name, _) =>
      name -> graft.SparkEntry.oracleSql.get(name).map(q).getOrElse("null")
    }

    // -- outside the timed region: script compile time, a dry run (parse,
    // analyze, plan, no writes) against the last pass's outputs, which a
    // script that LOADs its own earlier STORE reads
    val compiles = if (!trace) Seq.empty else us.collect { case s: Script =>
      val t0 = nowUs()
      val err = try {
        graft.ScriptRunner.run(scriptArgs(s, outRoot.resolve(s"pass$pass").resolve(s.name)) :+ "--dry-run",
          stopSession = false)
        None
      } catch { case e: Throwable => Some(String.valueOf(e.getMessage).linesIterator.take(1).mkString) }
      s.name -> obj(Seq("s" -> num((nowUs() - t0) / 1e6), "error" -> err.map(q).getOrElse("null")))
    }

    val json = obj(Seq(
      "workload" -> q(workload),
      "cores" -> cores,
      "setups" -> arr(setups),
      "passes" -> arr(passes),
      "oracles" -> obj(oracles),
      "compiles" -> obj(compiles),
      "spans" -> arr(tracer.spans.map(s => obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> q(s.name),
        "layer" -> q(s.layer), "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString)))),
      "broadcast_threshold" -> q(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))))
    Files.writeString(work.resolve("result.json"), json)
    spark.stop()
  }

  /** Job and stage spans from the listener, and planning phases from the
    * query trackers, nested under the unit span or the benchmark call span
    * inside it that was open when they started. */
  def addListenerSpans(t: Tracer, unitSpan: Int, c: Counters, pc: PlanCounters): Unit = {
    val holders = t.spans.filter(s => s.parent == unitSpan).toSeq
    def innermost(startUs: Long): Int =
      holders.find(s => s.startUs <= startUs && startUs <= s.endUs).map(_.id).getOrElse(unitSpan)
    pc.phases.foreach(p => t.add(innermost(p.startUs), s"plans.${p.name}", "plans", p.startUs, p.endUs))
    c.jobs.foreach { j =>
      val jid = t.add(innermost(j.startUs), s"job${j.id}", "spark", j.startUs, math.max(j.endUs, j.startUs))
      c.stages.filter(_.jobId == j.id).foreach { s =>
        t.add(jid, s"stage${s.id}", "operators", s.startUs, s.endUs)
      }
    }
  }

  def passJson(pass: Int, kind: String, traced: Boolean,
               results: Seq[(UnitResult, Counters, PlanCounters)], gcS: Double,
               persisted: Int, retainedMb: Double): String = {
    val unitsJson = results.map { case (r, c, pc) =>
      val skipped = c.jobs.flatMap(_.stageIds).distinct.count(s => !c.submittedStages.contains(s))
      val inJobs = c.jobs.flatMap(_.stageIds).distinct.size
      obj(Seq(
        "name" -> q(r.name),
        "wall_s" -> num(r.wallS),
        "build_s" -> num(r.buildS),
        "rounds" -> r.rounds.toString,
        "error" -> r.error.map(q).getOrElse("null"),
        "jobs" -> arr(c.jobs.map(j => arr(Seq(j.startUs.toString, j.endUs.toString, q(j.desc))))),
        "counters" -> obj(Seq(
          "spark.jobs" -> c.jobs.size.toDouble,
          "spark.stages" -> c.submittedStages.size.toDouble,
          "spark.stages_in_jobs" -> inJobs.toDouble,
          "spark.stages_skipped" -> skipped.toDouble,
          "spark.tasks" -> c.tasks.toDouble,
          "spark.failed_tasks" -> c.failedTasks.toDouble,
          "spark.cpu_s" -> c.cpuNs / 1e9,
          "spark.task_s" -> c.taskDurMs / 1e3,
          "spark.deser_s" -> c.deserMs / 1e3,
          "spark.peak_mem_mb" -> c.peakMem / 1e6,
          "spark.input_mb" -> c.inBytes / 1e6,
          "sources.output_mb" -> c.outBytes / 1e6,
          "sources.output_rows" -> c.outRecs.toDouble,
          "spark.shuffle_write_mb" -> c.shWBytes / 1e6,
          "spark.shuffle_records" -> c.shWRecs.toDouble,
          "spark.shuffle_read_mb" -> c.shRBytes / 1e6,
          "spark.fetch_wait_s" -> c.fetchWaitMs / 1e3,
          "operators.spill_mb" -> c.diskSpill / 1e6,
          "plans.executions" -> pc.executions.toDouble,
          "plans.plan_s" -> pc.planUs / 1e6
        ).map { case (k, v) => k -> num(v) } ++ pc.nums.toSeq.map { case (k, v) => k -> num(v) })))
    }
    obj(Seq(
      "pass" -> pass.toString,
      "kind" -> q(kind),
      "traced" -> traced.toString,
      "gc_s" -> num(gcS),
      "persisted_rdds" -> persisted.toString,
      "retained_mb" -> num(retainedMb),
      "units" -> arr(unitsJson)))
  }
}
