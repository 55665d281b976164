package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.GraftBenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SpillDefaults
import graft.ops.Registry

/** The benchmark's JVM side. One process runs one workload: it sets up a
  * session, runs a warm-up query that uses no registry key, then a cold pass
  * and one or more warm passes over the given keys, and writes one record
  * per query execution to `--out`. perfbench/run.py launches it, checks the
  * records against the expected digests and prints the metrics.
  *
  * Modes (`--mode`):
  *   run      the cold pass and `--passes` warm passes; with `--trace 1`
  *            also layer counters and spans
  *   setup    session + warm-up only, reports the set-up time
  *   keys     prints every registry key
  *   explain  prints the executed plan of the timed action and of count()
  */
object Runner {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // ~100 codegen-heavy queries overflow the JDK's default code cache and
    // the JIT then switches itself off; refuse to time such a JVM
    val codeCache = ManagementFactory.getMemoryPoolMXBeans.toArray
      .collect { case p: java.lang.management.MemoryPoolMXBean
        if p.getName.contains("CodeHeap") || p.getName.contains("CodeCache") => p.getUsage.getMax }
      .sum
    if (codeCache < 512L * 1024 * 1024) {
      System.err.println(s"code cache is ${codeCache >> 20} MB; launch with -XX:ReservedCodeCacheSize=1g")
      sys.exit(2)
    }
    opts("mode") match {
      case "keys" => Registry.queries.keys.toSeq.sorted.foreach(println)
      case "setup" =>
        val (spark, setupS) = setup(opts("fixtures"))
        spark.stop()
        write(opts("out"), Json.obj("setup_s" -> Json.num(setupS)))
      case "explain" => explain(opts("fixtures"), opts("key"))
      case "run" => run(opts)
    }
  }

  /** Session + warm-up. Returns the seconds since JVM start. */
  def setup(fixtures: String): (SparkSession, Double) = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SpillDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$fixtures/region.parquet")
      .selectExpr("r_regionkey", "explode(split(r_name, ' ')) AS w")
      .groupBy("w").count().orderBy("w").limit(5).collect()
    (spark, ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)
  }

  /** The timed action after the build: plan, then pull every output row and
    * column to the driver. `phase` is told when each step starts. */
  def materialise(df: DataFrame, phase: String => Unit): Array[Row] = {
    phase("plan")
    df.queryExecution.executedPlan
    phase("execute")
    df.collect()
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def explain(fixtures: String, key: String): Unit = {
    val (spark, _) = setup(fixtures)
    val df = Registry.queries(key)(spark, fixtures)
    materialise(df, _ => ())
    println("== timed ==")
    println(df.queryExecution.executedPlan.toString)
    val counted = df.groupBy().count()
    counted.collect()
    println("== count ==")
    println(counted.queryExecution.executedPlan.toString)
    spark.stop()
  }

  private def run(opts: Map[String, String]): Unit = {
    val fixtures = opts("fixtures")
    val keys = opts("keys").split(",").toSeq.filter(_.nonEmpty)
    val warmPasses = opts("passes").toInt
    val trace = opts.get("trace").contains("1")
    val (spark, setupS) = setup(fixtures)
    val sc = spark.sparkContext
    // the fixture tables must hold the row counts the digests were made on
    for (kv <- opts.getOrElse("expect", "").split(",") if kv.nonEmpty) {
      val Array(table, n) = kv.split("=")
      val got = spark.read.parquet(s"$fixtures/$table.parquet").count()
      if (got != n.toLong) {
        System.err.println(s"fixture $table has $got rows, expected $n")
        sys.exit(3)
      }
    }
    opts.get("go").foreach { go =>
      while (!Files.exists(Paths.get(go))) Thread.sleep(20)
    }
    val probe = new Probe
    val spans = mutable.ArrayBuffer.empty[String]
    val records = mutable.ArrayBuffer.empty[String]
    // job/stage times are epoch ms; driver spans come from nanoTime
    val epoch0 = System.currentTimeMillis(); val nano0 = System.nanoTime()
    def epochMs(n: Long): Double = epoch0 + (n - nano0) / 1e6
    var listening = false
    def listen(on: Boolean): Unit = if (on != listening) {
      if (on) { sc.addSparkListener(probe); spark.listenerManager.register(probe) }
      else {
        GraftBenchBridge.drainListeners(sc)
        sc.removeSparkListener(probe); spark.listenerManager.unregister(probe)
      }
      listening = on
    }

    def runOne(key: String, pass: String, rep: Int): Unit = {
      val qid = s"$key#$pass$rep"
      val stats = new QueryStats
      probe.current = stats
      def phase(p: String): Unit = sc.setLocalProperty(Probe.PhaseProp, p)
      sc.setJobGroup(qid, s"$pass $key", interruptOnCancel = false)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val tq = System.nanoTime()
      var tBuild, tPlan, tExec = tq
      var rows: Array[Row] = null
      var df: DataFrame = null
      var error: String = null
      try {
        phase("build")
        df = Registry.queries(key)(spark, fixtures)
        rows = materialise(df, p => {
          if (p == "plan") tBuild = System.nanoTime() else tPlan = System.nanoTime()
          phase(p)
        })
        tExec = System.nanoTime()
      } catch { case e: Throwable =>
        error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        tExec = System.nanoTime()
        if (tBuild == tq) tBuild = tExec
        if (tPlan == tq) tPlan = tExec
      }
      phase("sweep")
      val leftover = sc.getPersistentRDDs.size
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      val tSweep = System.nanoTime()
      phase(null)
      sc.clearJobGroup()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val traced = listening
      if (traced) GraftBenchBridge.drainListeners(sc)

      val digest = if (rows != null) Digest.of(df, rows) else Digest.empty
      val fields = mutable.ArrayBuffer[(String, String)](
        "key" -> Json.str(key), "pass" -> Json.str(pass), "rep" -> rep.toString,
        "traced" -> traced.toString,
        "error" -> Json.str(error),
        "build_s" -> Json.num(secs(tq, tBuild)),
        "plan_s" -> Json.num(secs(tBuild, tPlan)),
        "exec_s" -> Json.num(secs(tPlan, tExec)),
        "sweep_s" -> Json.num(secs(tExec, tSweep)),
        "rows" -> digest.rows.toString,
        "hash" -> Json.str(digest.unordered),
        "ordered_hash" -> Json.str(digest.ordered),
        "sorted" -> digest.sorted.toString,
        "leftover_rdds" -> leftover.toString,
        "codegen_compiles" -> compiles.toString)
      if (traced) {
        fields ++= statsFields(stats, epochMs(tq), epochMs(tExec))
        val q = Json.str(qid)
        def span(id: String, parent: String, name: String, t0: Double, t1: Double) =
          spans += Json.obj("trace" -> q, "id" -> Json.str(id),
            "parent" -> Json.str(parent),
            "name" -> Json.str(name), "start_ms" -> Json.num(t0), "end_ms" -> Json.num(t1))
        span(qid, null, "query", epochMs(tq), epochMs(tSweep))
        Seq("build" -> (tq, tBuild), "plan" -> (tBuild, tPlan), "execute" -> (tPlan, tExec),
          "sweep" -> (tExec, tSweep)).foreach { case (n, (a, b)) =>
          span(s"$qid/$n", qid, n, epochMs(a), epochMs(b))
        }
        stats.jobSpans.foreach { case (job, ph, a, b) =>
          val parent = if (Set("build", "plan", "execute", "sweep")(ph)) s"$qid/$ph" else qid
          span(s"$qid/job$job", parent, "job", a.toDouble, b.toDouble)
        }
        stats.stageSpans.foreach { case (stage, job, a, b) =>
          span(s"$qid/stage$stage", if (job >= 0) s"$qid/job$job" else qid, "stage",
            a.toDouble, b.toDouble)
        }
      }
      records += Json.obj(fields.toSeq: _*)
    }

    // Closed loop, one client: the cold pass, then a fixed number of warm
    // passes. A traced run traces every other warm execution of a key,
    // alternating which pass goes first, so traced and untraced executions
    // of one key give the tracing overhead.
    val t0 = System.nanoTime()
    listen(trace)
    keys.foreach(runOne(_, "cold", 0))
    for (rep <- 0 until warmPasses; (key, i) <- keys.zipWithIndex) {
      listen(trace && (i + rep) % 2 == 0)
      runOne(key, "warm", rep)
    }
    listen(false)
    val cores = sc.defaultParallelism
    spark.stop()
    write(opts("out"), Json.obj(
      "setup_s" -> Json.num(setupS),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "cores" -> cores.toString,
      "measure_s" -> Json.num(secs(t0, System.nanoTime())),
      "records" -> records.mkString("[\n", ",\n", "]"),
      "spans" -> spans.mkString("[\n", ",\n", "]")))
  }

  private def statsFields(s: QueryStats, q0: Double, q1: Double): Seq[(String, String)] = {
    // union of job intervals clipped to the query's timed window
    val iv = s.jobSpans.map { case (_, _, a, b) => (math.max(a.toDouble, q0), math.min(b.toDouble, q1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var end = Double.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    val runs = s.taskRunMs.sorted
    Seq(
      "jobs" -> s.jobs, "build_jobs" -> s.buildJobs, "stages" -> s.stages, "tasks" -> s.tasks,
      "sched_delay_ms" -> s.schedDelayMs, "task_run_ms" -> s.runMs,
      "task_cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "deser_ms" -> s.deserMs,
      "shuffle_write_b" -> s.shuffleWrite, "shuffle_read_b" -> s.shuffleRead,
      "spill_mem_b" -> s.spillMem, "spill_disk_b" -> s.spillDisk,
      "input_b" -> s.inputBytes, "input_rows" -> s.inputRows, "scan_file_b" -> s.scanFileBytes,
      "output_b" -> s.outputBytes, "output_rows" -> s.outputRows,
      "query_execs" -> s.queryExecs, "analysis_ms" -> s.analysisMs,
      "optimize_ms" -> s.optimizeMs, "planning_ms" -> s.planningMs,
      "topk_spills" -> s.topkSpills, "topk_spill_b" -> s.topkSpillBytes,
      "storage_peak_b" -> s.storagePeakBytes
    ).map { case (k, v) => k -> v.toString } ++ Seq(
      "job_active_ms" -> Json.num(covered),
      "task_run_list_ms" -> runs.mkString("[", ",", "]"))
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), (s + "\n").getBytes(UTF_8))
}

/** Minimal JSON rendering for the records file. */
object Json {
  def str(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
