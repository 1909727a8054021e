package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{CachedPlans, Tables, TempArtifacts}

/** One benchmark run in a fresh JVM: set up the session the way
  * `graft.Bench` does, run one cold pass over the workload's ops, then
  * untimed ops for `--warm` seconds, then measured ops until `--seconds`
  * are up, and write every sample to a JSON file for `run.py`. With
  * `--trace 1`, whole passes follow the cold one instead, and half of them
  * are traced: a `SparkListener` records the stages, and the benchmark
  * times its own calls into `sqlcompat`, Catalyst and the engine around
  * each op.
  */
object Main {
  private val mapper = new ObjectMapper()

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  private def parse(args: Array[String]): Args =
    new Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // set-up time counts from the launcher's clock just before the JVM starts
    new Run(a, a("t0-ms").toLong).execute()
  }

  def json(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> json(x) }.toMap.asJava
    case s: scala.collection.Seq[_] => s.map(json).asJava
    case other => other
  }

  def write(path: Path, v: Any): Unit =
    Files.writeString(path, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(json(v)))
}

final class Run(a: Main.Args, t0Ms: Long) {
  private val benchDir = Paths.get(a("bench"))
  private val workload = Workloads(a("workload"), benchDir)
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val warm = a("warm").toDouble
  private val traced = a("trace") == "1"
  private val mode = a.get("mode").getOrElse("run")
  private val cores = a("cores").toInt
  private val dataDir = benchDir.resolve("data").resolve(workload.sf).toString
  private val sf01Dir = benchDir.resolve("data").resolve("sf0.1").toString
  private val isDml = workload.name.startsWith("dml")

  private val expected: Map[String, String] = {
    val p = benchDir.resolve("expected").resolve(workload.name + ".json")
    if (mode == "expect" || isDml || !Files.exists(p)) Map.empty
    else new ObjectMapper().readValue(p.toFile, classOf[java.util.Map[String, String]]).asScala.toMap
  }

  private var spark: SparkSession = _
  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer[Map[String, Any]]()
  private val samples = mutable.ArrayBuffer[Map[String, Any]]()
  private val passes = mutable.ArrayBuffer[Map[String, Any]]()
  private val dmlLog = mutable.ArrayBuffer[Map[String, Any]]()
  private val digests = mutable.LinkedHashMap[String, String]()
  private val opTraces = mutable.ArrayBuffer[mutable.Map[String, Any]]()
  private var listener: StageListener = _

  private def nowMs = System.currentTimeMillis()
  private def ms(fromNs: Long) = (System.nanoTime() - fromNs) / 1e6

  private def loadAvg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Throwable => Seq.empty }

  private def buildSession(): SparkSession = {
    val local = Paths.get(a("work")).resolve("spark-local")
    Files.createDirectories(local)
    val s = graft.engine.SessionDefaults(
      SparkSession.builder().withExtensions(new graft.engine.GraftExtensions)
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.local.dir", local.toString)
        .config("spark.sql.warehouse.dir", Paths.get(a("work")).resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** Run one op; returns its digest and, in a traced pass, its trace. */
  private def runOp(op: Op, stmts: Seq[Stmt], trace: Option[mutable.Map[String, Any]]): String = {
    def phase(df: DataFrame, name: String): Double =
      df.queryExecution.tracker.phases.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
    def record(df: DataFrame, ds: org.apache.spark.sql.Dataset[_], buildMs: Double): Unit =
      trace.foreach { t =>
        def add(k: String, v: Double) = t(k) = t.getOrElse(k, 0.0).asInstanceOf[Double] + v
        add("build_ms", buildMs)
        add("parse_ms", phase(df, "parsing"))
        add("analyze_ms", phase(df, "analysis"))
        add("optimize_ms", phase(ds.toDF(), "optimization"))
        add("plan_ms", phase(ds.toDF(), "planning"))
        // the digest wrapper adds three nodes on top of the op's own plan
        add("plan_nodes", ds.queryExecution.optimizedPlan.collect { case p => p }.size - 3.0)
      }
    if (stmts.isEmpty) {
      val t = System.nanoTime()
      val df = graft.SparkEntry.queries(op.name)(spark, dataDir)
      val buildMs = ms(t)
      val (d, ds) = Digest.of(df)
      record(df, ds, buildMs)
      d
    } else {
      val checked = stmts.map { st =>
        val t = System.nanoTime()
        val df = Tables.sql(spark, dataDir, st.text)
        val buildMs = ms(t)
        val (d, ds) = if (st.check == "shape") Digest.shapeOf(df) else Digest.of(df)
        record(df, ds, buildMs)
        trace.foreach(t => probeSqlcompat(st.text, !isDml || op.name.startsWith("read"), t))
        // a write returns its changed-row counts as a one-row local result
        if (isDml && !op.name.startsWith("read")) trace.foreach { t =>
          t("rows_changed") = df.collect().flatMap(_.toSeq).collect { case n: Long => n }.sum.toDouble
          t("table") = if (op.name.endsWith("orders")) "orders_w" else "lineitem_w"
        }
        if (isDml) dmlLog += Map("op" -> op.name, "sql" -> st.text, "digest" -> d)
        if (st.check == "none") None else Some(d)
      }
      checked.flatten.mkString(";")
    }
  }

  /** Time the `sqlcompat` passes on a statement just run; the probe's own
    * time goes to `probe_ms`, which the op's latency leaves out.
    * `Statements.dispatch` gets a stand-in query runner, so a statement's
    * own work is not repeated; it is probed only on reads, because it
    * performs a write itself.
    */
  private def probeSqlcompat(text: String, dispatch: Boolean,
      t: mutable.Map[String, Any]): Unit = {
    def add(k: String, v: Double) = t(k) = t.getOrElse(k, 0.0).asInstanceOf[Double] + v
    val start = System.nanoTime()
    var s = start
    val afterMr = graft.sqlcompat.MatchRecognizeSql.rewrite(spark, text)
    add("match_recognize_ms", ms(s))
    s = System.nanoTime()
    val rewritten = graft.sqlcompat.Dialect.rewrite(afterMr)
    add("dialect_ms", ms(s))
    if (dispatch) {
      s = System.nanoTime()
      graft.sqlcompat.Statements.dispatch(spark, _ => spark.emptyDataFrame, text)
      add("dispatch_ms", ms(s))
    }
    add("chars_in", text.length.toDouble)
    add("chars_out", rewritten.length.toDouble)
    if (rewritten != text) t("fired") = 1.0
    add("probe_ms", ms(start))
  }

  private def cleanup(trace: Option[mutable.Map[String, Any]]): Unit = {
    val t = System.nanoTime()
    CachedPlans.releaseAll()
    TempArtifacts.cleanupAll(spark)
    trace.foreach(_("cleanup_ms") = ms(t))
  }

  private def opsOfPass(pass: Int): Seq[(Op, Seq[Stmt])] = {
    val rng = new scala.util.Random(seed * 1000003L + pass)
    rng.shuffle(workload.ops).map { op =>
      if (isDml) (op, Seq(DmlMix.statement(op.name, pass, rng))) else (op, op.stmts)
    }
  }

  /** Run one op of pass `pass`, check its result and keep its sample. */
  private def runOne(pass: Int, phase: String, op: Op, stmts: Seq[Stmt], trace: Boolean): Unit = {
    val tr = if (trace) Some(mutable.Map[String, Any]("op" -> op.name, "pass" -> pass)) else None
    attempted += 1
    val startMs = nowMs
    val t = System.nanoTime()
    val result =
      try Right(runOp(op, stmts, tr))
      catch { case e: Throwable => Left(e) }
    // the latency leaves out the sqlcompat probes run between statements
    val latency = ms(t) - tr.flatMap(_.remove("probe_ms")).map(_.asInstanceOf[Double]).getOrElse(0.0)
    val endMs = nowMs
    cleanup(tr)
    result match {
      case Right(d) =>
        samples += Map("op" -> op.name, "pass" -> pass, "phase" -> phase, "traced" -> trace,
          "ms" -> latency)
        if (pass == 0) digests(op.name) = d
        expected.get(op.name).foreach { want =>
          if (want != d) {
            failed += 1
            failures += Map("op" -> op.name, "pass" -> pass, "want" -> want, "got" -> d)
          }
        }
      case Left(e) =>
        failed += 1
        failures += Map("op" -> op.name, "pass" -> pass, "error" -> String.valueOf(e.getMessage).take(500))
        System.err.println(s"[perfbench] ${op.name} failed: ${e.getMessage}")
    }
    tr.foreach { t =>
      t("start_ms") = startMs; t("end_ms") = endMs; t("wall_ms") = latency
      opTraces += t
    }
  }

  /** Run every op of pass `pass`. */
  private def runPass(pass: Int, phase: String, trace: Boolean): Unit = {
    if (trace) { listener = new StageListener; spark.sparkContext.addSparkListener(listener) }
    val passStart = System.nanoTime()
    opsOfPass(pass).foreach { case (op, stmts) => runOne(pass, phase, op, stmts, trace) }
    val wall = ms(passStart) / 1000
    if (trace) {
      listener.drain()
      spark.sparkContext.removeSparkListener(listener)
      attachStages(listener)
    }
    passes += Map("pass" -> pass, "phase" -> phase, "traced" -> trace, "wall_s" -> wall)
  }

  /** The untraced ops after the cold pass: pass 1, 2, ... in order, each
    * pass in its own seeded order, taken one op at a time by [[runFor]].
    */
  private lazy val opStream: Iterator[(Int, (Op, Seq[Stmt]))] =
    Iterator.from(1).flatMap(p => opsOfPass(p).iterator.map(p -> _))

  /** Run ops from the stream until `secs` seconds are up, finishing the op
    * under way, and with `everyOp` until each op has run at least once, so
    * that no op is missing from the window's medians; returns the wall
    * time in seconds.
    */
  private def runFor(phase: String, secs: Double, everyOp: Boolean): Double = {
    val start = System.nanoTime()
    val end = start + (secs * 1e9).toLong
    val seen = mutable.Set[String]()
    val need = if (everyOp) workload.ops.size else 1
    while (seen.size < need || System.nanoTime() < end) {
      val (pass, (op, stmts)) = opStream.next()
      runOne(pass, phase, op, stmts, trace = false)
      seen += op.name
    }
    val wall = ms(start) / 1000
    passes += Map("phase" -> phase, "traced" -> false, "wall_s" -> wall)
    wall
  }

  private val stageRows = mutable.ArrayBuffer[Map[String, Any]]()

  private def attachStages(l: StageListener): Unit =
    opTraces.filter(t => !t.contains("stages")).foreach { t =>
      val st = l.within(t("start_ms").asInstanceOf[Long], t("end_ms").asInstanceOf[Long])
      t("stages") = st.length
      t("tasks") = st.map(_.taskMs.length).sum
      t("task_run_ms") = st.map(_.taskMs.sum).sum
      t("task_cpu_ms") = st.map(_.cpuNs).sum / 1e6
      t("sched_delay_ms") = st.map(_.schedMs).sum
      t("deser_ms") = st.map(_.deserMs).sum
      t("gc_ms") = st.map(_.gcMs).sum
      t("shuffle_write_bytes") = st.map(_.shuffleWrite).sum
      t("shuffle_read_bytes") = st.map(_.shuffleRead).sum
      t("fetch_wait_ms") = st.map(_.fetchWaitMs).sum
      t("spill_bytes") = st.map(_.spill).sum
      t("output_bytes") = st.map(_.outputBytes).sum
      t("task_skew") = Trace.skew(st)
      t("driver_ms") = Trace.uncoveredMs(t("start_ms").asInstanceOf[Long],
        t("end_ms").asInstanceOf[Long], st)
      st.foreach { s =>
        stageRows += Map("op" -> t("op"), "pass" -> t("pass"), "stage" -> s.stageId,
          "attempt" -> s.attempt, "name" -> s.name.take(60), "tasks" -> s.taskMs.length,
          "wall_ms" -> (s.completeMs - s.submitMs), "run_ms" -> s.taskMs.sum,
          "cpu_ms" -> s.cpuNs / 1000000, "shuffle_read" -> s.shuffleRead,
          "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill,
          "skew" -> Trace.skew(Seq(s)))
      }
    }

  private def tableStats(name: String): Map[String, Any] = {
    val files = spark.table(name).inputFiles
    val bytes = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }.sum
    Map("files" -> files.length, "bytes" -> bytes, "rows" -> spark.table(name).count())
  }

  /** Heap in use after full GCs: the least of five. Spark's ContextCleaner
    * frees shuffle and broadcast state only after a GC has collected their
    * owners, so one GC can leave state that the next frees.
    */
  private def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc(); Thread.sleep(300)
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def execute(): Unit = {
    val loadBefore = loadAvg()
    var t = System.nanoTime()
    spark = buildSession()
    val sessionMs = ms(t)
    t = System.nanoTime()
    Tables.register(spark, dataDir)
    val registerMs = ms(t)
    t = System.nanoTime()
    if (isDml) DmlMix.setup.foreach(sql => Digest.of(Tables.sql(spark, dataDir, sql)))
    val ctasMs = ms(t)
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val tablesAtSetup = DmlMix.tables.filter(_ => isDml).map(n => n -> tableStats(n)).toMap

    val (cg0, _) = codegen()
    val warmStart = System.nanoTime()
    runPass(0, "cold", trace = false)
    val warmupS = ms(warmStart) / 1000
    val (cg1, cgMean) = codegen()

    var measuredS = 0.0
    if (mode != "expect" && !traced) {
      // JIT compilation goes on for several passes after the cold one:
      // run untimed ops for `warm` seconds before the measured window.
      runFor("warm", warm, everyOp = false)
      measuredS = runFor("measured", seconds, everyOp = true)
    } else if (mode != "expect") {
      // A traced run takes whole passes, at least five: pass 1 untraced,
      // then traced (T) and untraced (U) passes in the order T U U T, so
      // the passes still warming up do not all fall on one side of the
      // tracing overhead, which run.py computes from pass 2 on.
      val measureStart = System.nanoTime()
      var pass = 1
      while (pass <= 5 || ms(measureStart) / 1000 < seconds) {
        runPass(pass, "measured", trace = pass >= 2 && Set(0, 3)((pass - 2) % 4))
        pass += 1
      }
      measuredS = ms(measureStart) / 1000
    }

    val finalState = if (!isDml) Nil else DmlMix.tables.map { n =>
      val d = Digest.of(Tables.sql(spark, dataDir, s"SELECT * FROM $n"))._1
      Map("table" -> n, "digest" -> d, "stats" -> tableStats(n))
    }
    val kernels = if (traced) Kernels.run(spark, sf01Dir) else Map.empty[String, Double]
    val oracles = if (mode == "expect")
      workload.ops.flatMap(o => graft.SparkEntry.oracleSql.get(o.name).map(o.name -> _)).toMap
    else Map.empty[String, String]
    val namedDigests = if (mode == "expect") workload.ops.filter(o => o.stmts.nonEmpty &&
      graft.SparkEntry.queries.contains(o.name)).map { o =>
        val d = try Digest.of(graft.SparkEntry.queries(o.name)(spark, dataDir))._1
        catch { case e: Throwable => "error: " + e.getMessage }
        cleanup(None)
        o.name -> d
      }.toMap else Map.empty[String, String]

    val heapMb = retainedHeapMb()
    val rt = Runtime.getRuntime
    val result = Map(
      "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores,
      "env" -> Map(
        "jvm" -> (System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
        "spark" -> spark.version, "max_heap_mb" -> rt.maxMemory / (1024 * 1024),
        "load_before" -> loadBefore, "load_after" -> loadAvg()),
      "setup_s" -> setupS, "session_ms" -> sessionMs, "register_ms" -> registerMs,
      "ctas_ms" -> ctasMs, "tables_at_setup" -> tablesAtSetup,
      "warmup_s" -> warmupS, "measured_s" -> measuredS,
      "codegen_cold_compiles" -> (cg1 - cg0), "codegen_mean_ms" -> cgMean,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
      "samples" -> samples, "passes" -> passes, "digests" -> digests,
      "named_digests" -> namedDigests, "oracles" -> oracles,
      "dml_setup" -> (if (isDml) DmlMix.setup else Nil),
      "dml_log" -> dmlLog, "final_state" -> finalState,
      "op_traces" -> opTraces.map(_.toMap), "stages" -> stageRows, "kernels" -> kernels,
      "retained_heap_mb" -> heapMb)
    Main.write(Paths.get(a("out")), result)
    TempArtifacts.cleanupAll(spark, dropTables = true)
    spark.stop()
  }
}
