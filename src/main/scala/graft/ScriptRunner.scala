package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** CLI entry point for script execution — the analog of the reference's
  * `cubert script.cmr` launcher (ScriptExecutor.main; CLI opts -c
  * compile-only, -d debug, -x job — app/CmrExecutor.java:41-116).
  *
  * Usage:
  *   graft.ScriptRunner <script.cmr> [name=value ...] [flags]
  *
  * Each `name=value` argument substitutes `$name` / `%name%` in the script
  * (the reference's `param.` property substitution). Flags:
  *   --show <rel>[:<n>]   print the first n (default 20) rows of a relation
  *   --explain <rel>      print the formatted physical plan of a relation
  *   --lineage <rel>      print column-level lineage (output column <-
  *                        source table.columns; plans.Lineage)
  *   --dry-run            validate without writing: every statement (STORE
  *                        and TEE included) is parsed, analyzed, and
  *                        planned, but no write executes — the reference's
  *                        -c compile-only mode
  *   --describe <rel|path> print the schema of a script relation, or of a
  *                        stored dataset by path (parquet/rubix/avro/orc/
  *                        json/csv auto-detected) — the reference's
  *                        `-describe` (ScriptExecutor.java:268), in both
  *                        Spark and Cubert ("INT a, STRING b") notation
  *   --only <rel1,rel2>   execute only the STORE statements whose stored
  *                        relation is listed (others analyze, no write) —
  *                        the reference's `-x <job>` selective execution
  *   --serial-stores      disable concurrent STORE execution (by default
  *                        up to 5 independent STOREs run at once over the
  *                        shared session, the reference's ExecutorService
  *                        parallelism — plan/physical/ExecutorService
  *                        .java:41; writes join the "graft_stores"
  *                        scheduler pool, so spark.scheduler.mode=FAIR
  *                        shares executors fairly between them)
  *   --fair               create the session with spark.scheduler.mode=FAIR
  *                        so concurrent STOREs share executors fairly
  *                        instead of FIFO-queueing stages; prints the
  *                        effective mode (`SCHEDULER=...`). Scheduler mode
  *                        is fixed at SparkContext creation, so against a
  *                        pre-existing non-FAIR session this warns and
  *                        proceeds FIFO
  *
  * STORE statements execute as encountered; without flags the runner prints
  * the names of the relations the script defined.
  */
object ScriptRunner {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.ScriptRunner <script.cmr> [name=value ...] " +
        "[--show rel[:n]] [--explain rel] [--lineage rel] [--dry-run]")
      sys.exit(2)
    }
    run(args, stopSession = true)
  }

  /** The runner body, callable in-process (tests pass stopSession = false
    * to keep the shared session alive). Runs in the live session if there
    * is one, with its confs untouched; otherwise builds one with
    * `GraftSession.builder`. Returns the defined relations.
    */
  def run(args: Array[String], stopSession: Boolean):
      Map[String, org.apache.spark.sql.DataFrame] = {
    val scriptPath = args.head
    var params = Map.empty[String, String]
    var show: Option[(String, Int)] = None
    var explain: Option[String] = None
    var lineage: Option[String] = None
    var describe: Option[String] = None
    var only: Option[Set[String]] = None
    var dryRun = false
    var maxConcurrentStores = 5
    var fair = false
    def operand(flag: String, at: Int): String = {
      if (at >= args.length) sys.error(s"$flag requires an argument")
      args(at)
    }
    var i = 1
    while (i < args.length) {
      args(i) match {
        case "--show" =>
          i += 1
          val spec = operand("--show", i).split(":", 2)
          val n = if (spec.length > 1) spec(1).toIntOption.getOrElse(
            sys.error(s"--show ${args(i)}: row count must be an integer")) else 20
          show = Some((spec(0), n))
        case "--explain" => i += 1; explain = Some(operand("--explain", i))
        case "--lineage" => i += 1; lineage = Some(operand("--lineage", i))
        case "--describe" => i += 1; describe = Some(operand("--describe", i))
        case "--only" =>
          i += 1
          only = Some(operand("--only", i).split(",").map(_.trim).toSet)
        case "--dry-run" => dryRun = true
        case "--serial-stores" => maxConcurrentStores = 1
        case "--fair" => fair = true
        case kv if kv.contains("=") =>
          val Array(k, v) = kv.split("=", 2)
          params += (k -> v)
        case other => sys.error(s"unrecognized argument: $other")
      }
      i += 1
    }

    val source = new String(Files.readAllBytes(Paths.get(scriptPath)), "UTF-8")
    // a live session runs the script as it is: the builder's getOrCreate
    // would re-apply its runtime confs (shuffle partitions sized for the
    // builder's cores) to a session its owner configured
    val spark = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse {
        val b = GraftSession.builder(appName = s"graft-script:$scriptPath")
        (if (fair) b.config("spark.scheduler.mode", "FAIR") else b).getOrCreate()
      }
    if (fair) {
      val mode = spark.sparkContext.getSchedulingMode.toString
      println(s"SCHEDULER=$mode")
      if (mode != "FAIR")
        Console.err.println("warning: --fair requested but the SparkContext " +
          s"pre-exists with scheduler mode $mode (mode is fixed at context " +
          "creation); concurrent STOREs will FIFO-queue")
    }
    try {
      val env = graft.script.ScriptEngine.run(spark, source, params,
        dryRun = dryRun, only = only, maxConcurrentStores = maxConcurrentStores)
      println(s"RELATIONS=${env.keys.toSeq.sorted.mkString(",")}")
      explain.foreach { r =>
        println(env(r).queryExecution.explainString(FormattedMode))
      }
      lineage.foreach { r => println(graft.plans.Lineage.format(env(r))) }
      describe.foreach { target =>
        val df = env.getOrElse(target, loadForDescribe(spark, target))
        println(s"DESCRIBE $target")
        println("cubert: " + graft.functions.SchemaCodec.render(df.schema))
        print(df.schema.treeString)
      }
      show.foreach { case (r, n) => env(r).show(n, truncate = false) }
      env
    } finally {
      if (stopSession) spark.stop()
    }
  }

  /** `--describe` on something that is not a script relation: a stored
    * dataset path, format auto-detected — native rubix by trailer, else
    * by the data files' extension (parquet when in doubt: the default
    * STORE format).
    */
  private def loadForDescribe(spark: org.apache.spark.sql.SparkSession,
                              path: String): org.apache.spark.sql.DataFrame = {
    if (graft.sources.Rubix.isRubixData(spark, path))
      return graft.sources.Rubix.read(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"--describe $path: no such relation or path")
    val names = fs.listStatus(p).map(_.getPath.getName).filter(!_.startsWith("_"))
    def anyEndsWith(ext: String) = names.exists(_.endsWith(ext))
    val fmt =
      if (anyEndsWith(".avro")) "avro"
      else if (anyEndsWith(".orc")) "orc"
      else if (anyEndsWith(".json")) "json"
      else if (anyEndsWith(".csv")) "csv"
      else "parquet"
    graft.sources.Sources.load(spark, path, fmt)
  }
}
