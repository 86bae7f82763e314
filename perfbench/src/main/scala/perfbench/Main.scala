package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.etl.AlbFixture

/** The benchmark harness JVM; `perfbench/run.py` prepares its inputs and
  * calls it. Modes:
  *   - `gen --sf-dir D --out F`: writes the `AlbFixture` log lines of the
  *     orders at D to F (one per order, by key) and its oracle SQL to F.sql;
  *   - `pin --sf-dir D --queries a,b`: prints `name hash` for each query;
  *   - `run --workload W --seed N --seconds S --trace 0|1 ...`: one
  *     benchmark run; its last stdout line is the result JSON. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.head match {
      case "gen" => gen(o)
      case "pin" => pin(o)
      case "run" => Runner.run(o)
    }
  }

  private def gen(o: Map[String, String]): Unit = {
    val spark = Session.build(o("cpus").toInt, None, o("work"))
    val lines = AlbFixture.lines(spark, o("sf-dir")).orderBy("k").select("value")
      .collect().map(_.getString(0))
    Files.write(Paths.get(o("out")), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(Paths.get(o("out") + ".sql"), AlbFixture.oracleSql.getBytes(UTF_8))
    spark.stop()
  }

  private def pin(o: Map[String, String]): Unit = {
    val spark = Session.build(o("cpus").toInt, Some(o("work") + "/stage"), o("work"))
    for (q <- o("queries").split(","))
      println(s"$q ${QueryWorkload.hash(SparkEntry.queries(q)(spark, o("sf-dir")))}")
    spark.stop()
  }
}

object Session {
  /** The session `graft.Bench` builds, so figures compare with the registry
    * bench: local[cpus], shuffle partitions = cpus, the large codegen
    * cache, small UI retention, UTC, and the disk stage cache when
    * `stageDir` is given. */
  def build(cpus: Int, stageDir: Option[String], work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "16384")
      .config("spark.ui.retainedJobs", "300")
      .config("spark.ui.retainedStages", "500")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work + "/spark-local")
    stageDir.foreach(d => b.config("spark.graft.stageCache.dir", d))
    val spark = b.withExtensions(new graft.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every cached block the last op left, as `graft.Bench` does
    * between queries, so one op's storage does not slow the next. */
  def releaseState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def rm(root: Path): Unit = if (Files.exists(root)) {
    val all = Files.walk(root)
    try all.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally all.close()
  }
}

/** One timed op. `layer` holds its per-layer counts (traced ops only). */
final case class OpRec(pass: Int, op: String, wallS: Double, ok: Boolean,
                       traced: Boolean, layer: Map[String, Double])

object Runner {
  private val etlLayers = Seq("etl.read.s", "etl.parse.s", "etl.ua_classify.s", "etl.sink.s",
    "etl.pipeline.s")

  def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cpus = o("cpus").toInt
    val work = o("work")
    // no new steady pass once the JVM is this old: a run must end within 180 s
    val deadlineS = 150.0
    val wl: Workload = workload match {
      case "etl_derby" =>
        new EtlWorkload(o("corpus"), o("warm-corpus"), o("lines").toLong,
          o("expect").split(",").map(_.toLong).toSeq)
      case "query_floor" =>
        val pins = o("pins").split(",").map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
        new QueryWorkload(o("sf-dir"), o("warm-sf-dir"), o("queries").split(",").toSeq, pins, seed)
    }
    val rt = ManagementFactory.getRuntimeMXBean

    // Set-up, repeated: each builds a fresh session with a fresh stage
    // directory and runs the warmup; the first also counts JVM start.
    var spark: SparkSession = null
    var stageDir: Path = null
    val setups = (1 to o.getOrElse("setups", "3").toInt).map { i =>
      if (spark != null) { spark.stop(); Session.rm(stageDir) }
      stageDir = Paths.get(work, s"stage$i")
      val t0 = System.nanoTime()
      val jvmStartS = if (i == 1) rt.getUptime / 1e3 else 0.0
      spark = Session.build(cpus, Some(stageDir.toString), work)
      wl.warmup(spark)
      Session.releaseState(spark)
      jvmStartS + (System.nanoTime() - t0) / 1e9
    }
    System.gc()

    val tr = new Tracer(spark)
    val ops = ArrayBuffer[OpRec]()
    var coldStage = (0.0, 0.0)
    val steadyBuilds = ArrayBuffer[Double]()

    def stageStats(): (Int, Long) = {
      if (!Files.exists(stageDir)) return (0, 0L)
      val top = Files.list(stageDir)
      val n = try top.count().toInt finally top.close()
      val all = Files.walk(stageDir)
      val bytes = try all.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
                  finally all.close()
      (n, bytes)
    }

    def runPass(pass: Int, traced: Boolean): Unit = tr.span("pass") { ps =>
      if (ps != null) ps.attrs("pass") = pass
      val (n0, b0) = if (traced) stageStats() else (0, 0L)
      for ((op, i) <- wl.ops(pass).zipWithIndex) {
        var opSpan: Span = null
        val t0 = System.nanoTime()
        val done = try tr.span("op") { s => opSpan = s; wl.run(spark, op, tr) }
                   catch { case e: Throwable =>
                     System.err.println(s"[perfbench] $op failed: $e")
                     OpDone(() => false) }
        val wall = (System.nanoTime() - t0) / 1e9
        val ok = try done.check() catch { case e: Throwable =>
          System.err.println(s"[perfbench] $op check failed: $e"); false }
        val layer = if (!traced || opSpan == null) Map.empty[String, Double] else {
          tr.drain()
          opSpan.attrs("op") = op
          opSpan.attrs("ok") = ok
          done.counts ++ engineCounts(tr, opSpan)
        }
        ops += OpRec(pass, op, wall, ok, traced, layer)
        Session.releaseState(spark)
        if (workload == "etl_derby" || i % 4 == 3) System.gc()
      }
      if (traced) {
        val (n1, b1) = stageStats()
        if (pass == 0) coldStage = ((n1 - n0).toDouble, (b1 - b0).toDouble)
        else steadyBuilds += (n1 - n0).toDouble
      }
    }

    def timed(): Unit = {
      runPass(0, trace)
      val t0 = System.nanoTime()
      var pass = 1
      def elapsed = (System.nanoTime() - t0) / 1e9
      var lastPassS = 0.0
      val minPasses = if (trace) 2 else 1
      while (pass <= minPasses ||
             (elapsed < seconds && rt.getUptime / 1e3 + lastPassS < deadlineS)) {
        val p0 = System.nanoTime()
        // traced, untraced, untraced, traced, ...: neither side always runs
        // on the later, warmer JVM
        val traced = trace && pass % 4 <= 1
        if (traced || !trace) runPass(pass, traced) else tr.pause(runPass(pass, traced = false))
        lastPassS = (System.nanoTime() - p0) / 1e9
        pass += 1
      }
    }
    if (trace) { tr.enable(); tr.span("workload") { s => s.attrs("workload") = workload; timed() } }
    else timed()

    // ---- metrics ----
    def passTimes(traced: Boolean): Seq[Double] = ops.filter(r => r.pass > 0 && r.traced == traced)
      .groupBy(_.pass).values.map(_.map(_.wallS).sum).toSeq
    val untraced = passTimes(false)
    val failed = ops.count(!_.ok)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val passS = Stats.median(untraced)
        val opS = ops.filter(r => r.pass > 0 && !r.traced).map(_.wallS).toSeq
        Seq(
          ("setup_s", Stats.median(setups), "s"),
          ("pass_s", passS, "s"),
          ("cold_pass_s", ops.filter(_.pass == 0).map(_.wallS).sum, "s"),
          ("lines_per_s", wl.unitsPerPass / passS, "1/s"),
          ("op_s.p50", Stats.percentile(opS, 50), "s"),
          ("op_s.p90", Stats.percentile(opS, 90), "s"),
          ("ok_ops", (ops.size - failed).toDouble / ops.size, "share"))
      } else {
        tr.disable()
        tr.addJobSpans()
        perLayer(ops.toSeq, passTimes(true), untraced, coldStage, steadyBuilds.toSeq,
          o.getOrElse("lines", "0").toDouble)
      }

    val metricsJson = metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cpus" -> cpus, "setup_samples_s" -> setups,
      "passes" -> ops.groupBy(_.pass).toSeq.sortBy(_._1).map { case (p, rs) =>
        Map("pass" -> p, "traced" -> rs.head.traced, "seconds" -> rs.map(_.wallS).sum,
          "ops" -> rs.map(r => Map("op" -> r.op, "s" -> r.wallS, "ok" -> r.ok)))
      },
      "metrics" -> metricsJson)
    Files.write(Paths.get(o("record")), Json.write(record).getBytes(UTF_8))
    if (trace) Files.write(Paths.get(o("trace-out")), Json.write(tr.spans.toSeq.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> o("run-id"),
        "start_s" -> (s.start - tr.spans.head.start) / 1e9,
        "end_s" -> (s.end - tr.spans.head.start) / 1e9,
        "self_s" -> tr.selfSeconds(s)) ++ s.attrs
    }).getBytes(UTF_8))
    spark.stop()
    Session.rm(stageDir)
    println(Json.write(Map(
      "correct" -> (failed == 0),
      "attempted" -> ops.size,
      "failed" -> failed,
      "metrics" -> metricsJson)))
  }

  /** Engine and call counts of one traced op, from the spans and jobs
    * under it. */
  private def engineCounts(tr: Tracer, op: Span): Map[String, Double] = {
    val under = tr.subtree(op)
    val works = tr.workUnder(op)
    val jobs = works.flatMap(_.jobs)
    val jobIv = jobs.filter(_.endMs >= 0).map(j => (tr.msToNano(j.startMs), tr.msToNano(j.endMs)))
    def sumL(f: Work => Long): Double = works.map(f).sum.toDouble
    val construct = under.filter(_.name == "SparkEntry.queries")
    val sinkJobs = jobs.filter(_.callSite.contains("graft.etl.JdbcSink"))
    Map(
      "queries.construct.s" -> construct.map(_.seconds).sum,
      "queries.construct.jobs" -> construct.map(s => tr.workOf(s.id).jobs.size).sum.toDouble,
      "queries.execute.s" -> under.filter(_.name == "Bench.consume").map(_.seconds).sum,
      "engine.plan.s" -> sumL(_.planMs) / 1e3,
      "engine.jobs" -> jobs.size.toDouble,
      "engine.stages" -> sumL(_.stages),
      "engine.tasks" -> sumL(_.tasks),
      "engine.driver_idle.s" ->
        (op.end - op.start - Intervals.covered(jobIv.map { case (s, e) =>
          (s max op.start, e min op.end) })) / 1e9,
      "engine.task_overhead.s" -> (sumL(_.taskDurMs) - sumL(_.taskRunMs)) / 1e3,
      "engine.task_run.s" -> sumL(_.taskRunMs) / 1e3,
      "engine.task_cpu.s" -> sumL(_.taskCpuNs) / 1e9,
      "engine.task_gc.s" -> sumL(_.taskGcMs) / 1e3,
      "engine.input_bytes" -> sumL(_.inputBytes),
      "engine.shuffle_read_bytes" -> sumL(_.shuffleReadBytes),
      "engine.shuffle_write_bytes" -> sumL(_.shuffleWriteBytes),
      "engine.spill_bytes" -> sumL(_.spillBytes),
      "etl.records_read" -> sumL(_.recordsRead),
      // the write is the sink's last job; its task count is the write width
      "etl.sink.tasks" -> sinkJobs.sortBy(_.startMs).lastOption.map(_.tasks.toDouble).getOrElse(0.0))
  }

  private def perLayer(ops: Seq[OpRec], traced: Seq[Double], untraced: Seq[Double],
                       coldStage: (Double, Double), steadyBuilds: Seq[Double],
                       lines: Double): Seq[(String, Double, String)] = {
    // per-pass sums of every count, then the median over traced steady passes
    val byPass = ops.filter(r => r.pass > 0 && r.traced).groupBy(_.pass).values.map { rs =>
      rs.flatMap(_.layer.keys).distinct.map(k => k -> rs.map(_.layer.getOrElse(k, 0.0)).sum).toMap
    }.toSeq
    def m(k: String): Double = Stats.median(byPass.map(_.getOrElse(k, 0.0)))
    val isEtl = lines > 0
    val sinkS = m("etl.sink.s")
    val jvm = ManagementFactory.getGarbageCollectorMXBeans.asScala
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val s = "s"; val c = "count"
    etlLayers.map(k => (k, m(k), s)) ++ Seq(
      ("etl.pipeline.records_read_per_line", if (isEtl) m("etl.records_read") / lines else 0.0, "ratio"),
      ("etl.pipeline.jobs", if (isEtl) m("engine.jobs") else 0.0, c),
      ("etl.pipeline.tasks", if (isEtl) m("engine.tasks") else 0.0, c),
      ("etl.sink.tasks", m("etl.sink.tasks"), c),
      ("etl.sink.rows_per_s", if (sinkS > 0) m("etl.rows_loaded") / sinkS else 0.0, "1/s"),
      ("etl.rows_in", m("etl.rows_in"), c),
      ("etl.rows_parsed", m("etl.rows_parsed"), c),
      ("etl.rows_loaded", m("etl.rows_loaded"), c),
      ("queries.construct.s", m("queries.construct.s"), s),
      ("queries.construct.jobs", m("queries.construct.jobs"), c),
      ("queries.execute.s", m("queries.execute.s"), s),
      ("engine.plan.s", m("engine.plan.s"), s),
      ("engine.jobs", m("engine.jobs"), c),
      ("engine.stages", m("engine.stages"), c),
      ("engine.tasks", m("engine.tasks"), c),
      ("engine.tasks_per_job", m("engine.tasks") / m("engine.jobs").max(1.0), "ratio"),
      ("engine.driver_idle.s", m("engine.driver_idle.s"), s),
      ("engine.task_overhead.s", m("engine.task_overhead.s"), s),
      ("engine.task_run.s", m("engine.task_run.s"), s),
      ("engine.task_cpu.s", m("engine.task_cpu.s"), s),
      ("engine.task_gc.s", m("engine.task_gc.s"), s),
      ("engine.input_bytes", m("engine.input_bytes"), "bytes"),
      ("engine.shuffle_read_bytes", m("engine.shuffle_read_bytes"), "bytes"),
      ("engine.shuffle_write_bytes", m("engine.shuffle_write_bytes"), "bytes"),
      ("engine.spill_bytes", m("engine.spill_bytes"), "bytes"),
      ("stagecache.builds", coldStage._1, c),
      ("stagecache.bytes_written", coldStage._2, "bytes"),
      ("stagecache.steady_builds", Stats.median(steadyBuilds), c),
      ("jvm.gc.s", jvm.map(_.getCollectionTime).sum / 1e3, s),
      ("jvm.jit.s", ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3, s),
      ("jvm.heap_after_gc_mb", heapMb, "MB"),
      ("jvm.loaded_classes", ManagementFactory.getClassLoadingMXBean.getLoadedClassCount.toDouble, c),
      ("trace.overhead", Stats.median(traced) / Stats.median(untraced), "ratio"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else xs.sorted.apply((math.ceil(p / 100 * xs.size).toInt - 1).max(0))
}

object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < 0x20 => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case x => write(x.toString)
  }
}
