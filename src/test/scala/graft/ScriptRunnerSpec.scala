package graft

import java.nio.file.{Files, Paths}

class ScriptRunnerSpec extends SparkSpec {

  private def writeScript(body: String): String = {
    val f = Files.createTempFile("graft-runner", ".cmr")
    Files.write(f, body.getBytes("UTF-8"))
    f.toString
  }

  test("runs a script file with $param substitution and STORE") {
    spark // force the shared session so the runner reuses it
    val out = Files.createTempDirectory("graft-runner-out").toString
    val path = writeScript(
      """li = LOAD '$DIR/lineitem.parquet' USING PARQUET;
        |agg = GROUP li BY l_returnflag AGGREGATES SUM(l_quantity) AS sum_qty;
        |STORE agg INTO '$OUT/agg' USING PARQUET;""".stripMargin)
    val env = ScriptRunner.run(
      Array(path, "DIR=/root/testdata/sf0.001", s"OUT=$out"), stopSession = false)
    assert(env.keySet == Set("li", "agg"))
    val stored = spark.read.parquet(s"$out/agg")
    assert(stored.count() == 3) // A, N, R
    assert(stored.columns.toSet == Set("l_returnflag", "sum_qty"))
  }

  test("--describe prints a relation's or a stored path's schema (ScriptExecutor -describe)") {
    spark
    val out = Files.createTempDirectory("graft-runner-desc").toString
    val path = writeScript(
      """li = LOAD '$DIR/lineitem.parquet' USING PARQUET;
        |agg = GROUP li BY l_returnflag AGGREGATES SUM(l_quantity) AS sum_qty;
        |STORE agg INTO '$OUT/agg' USING PARQUET;""".stripMargin)
    def captured(args: Array[String]): String = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos)) {
        ScriptRunner.run(args, stopSession = false)
      }
      bos.toString("UTF-8")
    }
    // a script relation by name
    val relOut = captured(Array(path, "DIR=/root/testdata/sf0.001", s"OUT=$out",
      "--describe", "agg"))
    assert(relOut.contains("DESCRIBE agg"), relOut)
    assert(relOut.contains("cubert: STRING l_returnflag, DOUBLE sum_qty"), relOut)
    assert(relOut.contains("l_returnflag: string"), relOut)
    // a stored dataset by path (format auto-detected)
    val pathOut = captured(Array(path, "DIR=/root/testdata/sf0.001", s"OUT=$out",
      "--describe", s"$out/agg"))
    assert(pathOut.contains("sum_qty: double"), pathOut)
    // a native rubix dataset by path
    import spark.implicits._
    val rdir = Files.createTempDirectory("graft-runner-rubix").toString + "/d"
    graft.sources.Rubix.write(Seq((1, "x")).toDF("a", "b"), rdir)
    val rubixOut = captured(Array(path, "DIR=/root/testdata/sf0.001", s"OUT=$out",
      "--describe", rdir))
    assert(rubixOut.contains("cubert: INT a, STRING b"), rubixOut)
    // a bogus target fails loudly
    val err = intercept[Exception](ScriptRunner.run(
      Array(path, "DIR=/root/testdata/sf0.001", s"OUT=$out",
        "--describe", "/nonexistent/xyz"), stopSession = false))
    assert(err.getMessage.contains("no such relation or path"))
  }

  test("--only executes the selected STOREs and analyzes the rest (ScriptExecutor -x)") {
    spark
    val out = Files.createTempDirectory("graft-runner-only").toString
    val path = writeScript(
      """li = LOAD '$DIR/lineitem.parquet' USING PARQUET;
        |agg = GROUP li BY l_returnflag AGGREGATES SUM(l_quantity) AS sum_qty;
        |top = LIMIT li 5;
        |STORE agg INTO '$OUT/agg' USING PARQUET;
        |STORE top INTO '$OUT/top' USING PARQUET;""".stripMargin)
    ScriptRunner.run(Array(path, "DIR=/root/testdata/sf0.001", s"OUT=$out",
      "--only", "top"), stopSession = false)
    assert(!Files.exists(Paths.get(s"$out/agg")), "--only must skip deselected STOREs")
    assert(spark.read.parquet(s"$out/top").count() == 5)
    // deselected STOREs still ANALYZE: a bad script fails even when skipped
    val bad = writeScript(
      """li = LOAD '$DIR/lineitem.parquet' USING PARQUET;
        |top = LIMIT li 5;
        |STORE li INTO '$OUT/x' USING PARQUET ("partition_by": "no_such_col");
        |STORE top INTO '$OUT/top2' USING PARQUET;""".stripMargin)
    val err = intercept[Exception](ScriptRunner.run(
      Array(bad, "DIR=/root/testdata/sf0.001", s"OUT=$out", "--only", "top"),
      stopSession = false))
    assert(err.getMessage.contains("no_such_col"), err.getMessage)
  }

  test("--dry-run validates the plan but writes nothing, TEE included") {
    spark
    val out = Files.createTempDirectory("graft-runner-dry").toString
    val path = writeScript(
      """li = LOAD '$DIR/lineitem.parquet' USING PARQUET;
        |t = TEE li INTO '$OUT/side' USING PARQUET IF l_quantity > 40;
        |f = FILTER t BY l_quantity > 45;
        |STORE f INTO '$OUT/f' USING PARQUET;""".stripMargin)
    val env = ScriptRunner.run(
      Array(path, "DIR=/root/testdata/sf0.001", s"OUT=$out", "--dry-run"),
      stopSession = false)
    assert(env.contains("f"))
    assert(env("f").schema.fieldNames.contains("l_quantity")) // analyzed
    assert(!Files.exists(Paths.get(s"$out/f")), "dry-run must not write STORE")
    assert(!Files.exists(Paths.get(s"$out/side")), "dry-run must not write TEE")
  }

  test("--dry-run still validates layout STORE params") {
    spark
    val out = Files.createTempDirectory("graft-runner-dryz").toString
    def dry(storeLine: String): Throwable = intercept[Exception] {
      ScriptRunner.run(Array(writeScript(
        s"""li = LOAD '$$DIR/lineitem.parquet' USING PARQUET;
           |$storeLine""".stripMargin),
        "DIR=/root/testdata/sf0.001", s"OUT=$out", "--dry-run"),
        stopSession = false)
    }
    val typo = dry(s"STORE li INTO '$$OUT/z' USING PARQUET (\"zorder\": \"no_such_col\");")
    assert(typo.getMessage.contains("no_such_col"), typo.getMessage)
    val nonNum = dry(s"STORE li INTO '$$OUT/z' USING PARQUET (\"zorder\": \"l_returnflag\");")
    assert(nonNum.getMessage.contains("numeric"), nonNum.getMessage)
    val badFiles = dry(
      s"""STORE li INTO '$$OUT/z' USING PARQUET ("zorder": "l_partkey", "files": "many");""")
    assert(badFiles.getMessage.contains("files"), badFiles.getMessage)
    val badPart = dry(s"STORE li INTO '$$OUT/p' USING PARQUET (\"partition_by\": \"nope\");")
    assert(badPart.getMessage.contains("nope"), badPart.getMessage)
    // a valid layout STORE still dry-runs without writing
    ScriptRunner.run(Array(writeScript(
      s"""li = LOAD '$$DIR/lineitem.parquet' USING PARQUET;
         |STORE li INTO '$$OUT/ok' USING PARQUET ("zorder": "l_partkey,l_orderkey");""".stripMargin),
      "DIR=/root/testdata/sf0.001", s"OUT=$out", "--dry-run"), stopSession = false)
    assert(!Files.exists(Paths.get(s"$out/ok")), "dry-run must not write")
  }

  test("--lineage prints source columns per output column") {
    spark
    val path = writeScript(
      """li = LOAD '$DIR/lineitem.parquet' USING PARQUET;
        |agg = GROUP li BY l_returnflag AGGREGATES SUM(l_quantity) AS sum_qty;""".stripMargin)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      ScriptRunner.run(Array(path, "DIR=/root/testdata/sf0.001", "--lineage", "agg",
        "--dry-run"), stopSession = false)
    }
    val out = buf.toString("UTF-8")
    assert(out.contains("sum_qty <- lineitem.l_quantity"), out)
    assert(out.contains("l_returnflag <- lineitem.l_returnflag"), out)
  }

  test("missing flag operands fail with a usage error, not an index crash") {
    spark
    val path = writeScript("li = LOAD '/root/testdata/sf0.001/lineitem.parquet' USING PARQUET;")
    val e1 = intercept[RuntimeException](ScriptRunner.run(Array(path, "--show"), stopSession = false))
    assert(e1.getMessage.contains("--show requires an argument"))
    val e2 = intercept[RuntimeException](
      ScriptRunner.run(Array(path, "--show", "li:abc"), stopSession = false))
    assert(e2.getMessage.contains("must be an integer"))
  }

  test("independent STOREs run concurrently; --serial-stores and reads drain") {
    spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-parstore").toString
    Seq((1L, 2L)).toDF("x", "y").repartition(1).write.parquet(s"$dir/in")
    // each STORE's write runs a UDF that sleeps and records its (start,
    // end) interval under a marker — interval OVERLAP is the direct,
    // host-noise-free witness of concurrent execution
    val script = writeScript(
      """FUNCTION slowa graft.SlowMarkFn('a', '1500');
        |FUNCTION slowb graft.SlowMarkFn('b', '1500');
        |t = LOAD '$D/in' USING PARQUET;
        |sa = FROM t GENERATE slowa(x) AS v;
        |sb = FROM t GENERATE slowb(y) AS v;
        |STORE sa INTO '$D/outa' USING PARQUET;
        |STORE sb INTO '$D/outb' USING PARQUET;""".stripMargin)
    def overlap(a: (Long, Long), b: (Long, Long)): Boolean =
      a._1 < b._2 && b._1 < a._2
    StoreTimeline.intervals.clear()
    ScriptRunner.run(Array(script, s"D=$dir"), stopSession = false)
    val (ia, ib) = (StoreTimeline.intervals.get("a"), StoreTimeline.intervals.get("b"))
    assert(ia != null && ib != null, StoreTimeline.intervals.toString)
    assert(overlap(ia, ib),
      s"parallel STOREs did not overlap: a=$ia b=$ib")
    assert(spark.read.parquet(s"$dir/outa").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.read.parquet(s"$dir/outb").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // --serial-stores pins the old one-at-a-time behavior (no overlap)
    StoreTimeline.intervals.clear()
    val script2 = writeScript(
      """FUNCTION slowa graft.SlowMarkFn('a', '400');
        |FUNCTION slowb graft.SlowMarkFn('b', '400');
        |t = LOAD '$D/in' USING PARQUET;
        |sa = FROM t GENERATE slowa(x) AS v;
        |sb = FROM t GENERATE slowb(y) AS v;
        |STORE sa INTO '$D/outa2' USING PARQUET;
        |STORE sb INTO '$D/outb2' USING PARQUET;""".stripMargin)
    ScriptRunner.run(Array(script2, s"D=$dir", "--serial-stores"), stopSession = false)
    assert(!overlap(StoreTimeline.intervals.get("a"), StoreTimeline.intervals.get("b")),
      s"--serial-stores still overlapped: ${StoreTimeline.intervals}")
    // a STORE that overwrites a path a PENDING store's relation reads
    // serializes against it — output-path disjointness alone is not
    // independence (the stored relation reads its inputs at WRITE time;
    // input paths are derived from the analyzed plan's file sources)
    StoreTimeline.intervals.clear()
    Seq((9L, 9L)).toDF("x", "y").write.parquet(s"$dir/tgt")
    val script2b = writeScript(
      """FUNCTION slowa graft.SlowMarkFn('a', '800');
        |FUNCTION slowb graft.SlowMarkFn('b', '800');
        |r = LOAD '$D/tgt' USING PARQUET;
        |t = LOAD '$D/in' USING PARQUET;
        |sa = FROM r GENERATE slowa(x) AS v;
        |sb = FROM t GENERATE slowb(y) AS v;
        |STORE sa INTO '$D/outa3' USING PARQUET;
        |STORE sb INTO '$D/tgt' USING PARQUET;""".stripMargin)
    ScriptRunner.run(Array(script2b, s"D=$dir"), stopSession = false)
    assert(!overlap(StoreTimeline.intervals.get("a"), StoreTimeline.intervals.get("b")),
      s"store clobbering a pending store's input ran concurrently: ${StoreTimeline.intervals}")
    assert(spark.read.parquet(s"$dir/outa3").collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(spark.read.parquet(s"$dir/tgt").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // ENCODE's stored-dictionary path counts as an input too (the plan-
    // derived tracking covers every file source, not just LOAD)
    StoreTimeline.intervals.clear()
    Seq(("red", 1), ("blue", 2)).toDF("colvalue", "code").write.parquet(s"$dir/dict")
    Seq((1L, "red"), (2L, "blue")).toDF("x", "color").write.parquet(s"$dir/in2")
    val script2c = writeScript(
      """FUNCTION slowa graft.SlowMarkFn('a', '800');
        |FUNCTION slowb graft.SlowMarkFn('b', '800');
        |t2 = LOAD '$D/in2' USING PARQUET;
        |enc = ENCODE t2 ON color USING '$D/dict';
        |e = FROM enc GENERATE slowa(x) AS v, color;
        |d2 = FROM t2 GENERATE color AS colvalue, slowb(x) AS code;
        |STORE e INTO '$D/enc' USING PARQUET;
        |STORE d2 INTO '$D/dict' USING PARQUET;""".stripMargin)
    ScriptRunner.run(Array(script2c, s"D=$dir"), stopSession = false)
    assert(!overlap(StoreTimeline.intervals.get("a"), StoreTimeline.intervals.get("b")),
      s"dictionary overwrite ran concurrently with its reader: ${StoreTimeline.intervals}")
    // a failed concurrent write surfaces as a loud error naming its STORE
    // statement — never a silent drop or a hung pool
    val badFn = writeScript(
      """FUNCTION boom graft.FailingMarkFn;
        |t = LOAD '$D/in' USING PARQUET;
        |bad = FROM t GENERATE boom(x) AS v;
        |STORE bad INTO '$D/bad' USING PARQUET;
        |STORE t INTO '$D/good' USING PARQUET;""".stripMargin)
    val err = intercept[RuntimeException](
      ScriptRunner.run(Array(badFn, s"D=$dir"), stopSession = false))
    assert(err.getMessage.contains("STORE bad INTO"), err.getMessage)
    // the sibling write was awaited, not abandoned
    assert(spark.read.parquet(s"$dir/good").count() == 1)
    // a LOAD of a just-stored path drains the pending write first, so the
    // read sees complete data — the independence barrier
    val script3 = writeScript(
      """t = LOAD '$D/in' USING PARQUET;
        |STORE t INTO '$D/staged' USING PARQUET;
        |r = LOAD '$D/staged' USING PARQUET;
        |g = GROUP r BY ALL AGGREGATES COUNT(1) AS n;
        |STORE g INTO '$D/final' USING PARQUET;""".stripMargin)
    ScriptRunner.run(Array(script3, s"D=$dir"), stopSession = false)
    assert(spark.read.parquet(s"$dir/final").collect().head.getLong(0) == 1L)
  }

  test("--fair reports the scheduling mode; a fresh JVM gets a FAIR context") {
    spark
    val path = writeScript("t = LOAD '$DIR/region.parquet' USING PARQUET;")
    // in-process: the shared FIFO context pre-exists — the runner must
    // report the EFFECTIVE mode and warn, never silently claim FAIR
    val bos = new java.io.ByteArrayOutputStream()
    val berr = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos)) {
      Console.withErr(new java.io.PrintStream(berr)) {
        ScriptRunner.run(Array(path, "DIR=/root/testdata/sf0.001", "--fair"),
          stopSession = false)
      }
    }
    assert(bos.toString("UTF-8").contains("SCHEDULER=FIFO"), bos.toString("UTF-8"))
    assert(berr.toString("UTF-8").contains("--fair requested but"), berr.toString("UTF-8"))
    // fresh JVM (the CLI's real shape): the flag creates a FAIR context.
    // dev/run.sh runs the compiled main against the same classes dir.
    val pb = new ProcessBuilder("dev/run.sh", "graft.ScriptRunner", path,
      "DIR=/root/testdata/sf0.001", "--fair")
    pb.redirectErrorStream(true)
    pb.directory(new java.io.File("."))
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val rc = proc.waitFor()
    assert(rc == 0, s"subprocess rc=$rc:\n$out")
    assert(out.contains("SCHEDULER=FAIR"), out)
  }

  test("run in a live session leaves its shuffle-partition confs as they were") {
    val confs = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val old = confs.map(spark.conf.getOption)
    try runKeepsConfs(confs)
    finally confs.zip(old).foreach { case (key, v) =>
      v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  private def runKeepsConfs(confs: Seq[String]): Unit = {
    // the shared session's own setting: SparkSpec builds it with 4 cores
    confs.foreach(spark.conf.set(_, "4"))
    val path = writeScript(
      """li = LOAD '$DIR/lineitem.parquet' USING PARQUET;
        |agg = GROUP li BY l_returnflag AGGREGATES COUNT(1) AS n;""".stripMargin)
    ScriptRunner.run(Array(path, "DIR=/root/testdata/sf0.001"), stopSession = false)
    assert(confs.map(spark.conf.get) == Seq("4", "4"))
  }
}

/** Records per-marker (start, end) nano intervals from inside UDF
  * execution — the concurrency witness for the parallel-STORE test
  * (local mode: executor threads share this JVM).
  */
object StoreTimeline {
  val intervals = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  def mark(marker: String, s: Long, e: Long): Unit =
    intervals.merge(marker, (s, e),
      (p, q) => (math.min(p._1, q._1), math.max(p._2, q._2)))
}

/** UserFunction whose UDF always throws — drives the failed-concurrent-
  * STORE propagation test.
  */
class FailingMarkFn extends graft.script.ScriptEngine.UserFunction {
  def register(spark: org.apache.spark.sql.SparkSession, name: String,
               args: Seq[String]): Unit =
    spark.udf.register(name, { (_: Long) =>
      val never: Long = throw new IllegalStateException("deliberate test failure")
      never
    })
}

/** UserFunction whose UDF sleeps `ms` per row and records its execution
  * interval under `marker`.
  */
class SlowMarkFn extends graft.script.ScriptEngine.UserFunction {
  def register(spark: org.apache.spark.sql.SparkSession, name: String,
               args: Seq[String]): Unit = {
    val marker = args.head
    val ms = args(1).toLong
    spark.udf.register(name, (x: Long) => {
      val s = System.nanoTime()
      Thread.sleep(ms)
      StoreTimeline.mark(marker, s, System.nanoTime())
      x
    })
  }
}
