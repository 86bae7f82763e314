package graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, struct, xxhash64}
object Bench {
  /** Pruning-proof consuming action: reduce EVERY output column through
    * one xxhash64 + bit_xor aggregate. A bare `count()` lets Catalyst prune
    * pure-projection columns out of the plan entirely (a scan+project
    * query times as just the scan — q_parse_alb's UA classification and
    * derivation columns all vanished from count-based timings; SCALING.md
    * round-7 documented the gap). Hashing the full struct forces every
    * declared column to evaluate while keeping the action a single scalar
    * collect — no writer in the loop, and the per-row hash cost is
    * uniform across queries. Top-level ORDER BYs are eliminated under
    * any aggregating action (count() included), so sort-bearing queries
    * keep the same treatment they always had. */
  def consume(df: DataFrame): Unit = df.agg(hash(df)).head()

  /** The `consume` reduction as a column: `bit_xor` of the `xxhash64` of
    * every output column. bit_xor, not sum: a sum of 64-bit hashes
    * overflows Long (an error under ANSI mode); xor is order-independent
    * and overflow-free. */
  def hash(df: DataFrame): Column =
    call_function("bit_xor", xxhash64(struct(df.columns.map(col): _*)))

  /** Release every cache / localCheckpoint block the previous query left
    * behind. Lazy localCheckpoints (the dedup family's digest/signature
    * frames) are otherwise freed only when the context cleaner notices
    * the RDD is unreachable — i.e. on a future GC — so over a 130-query
    * run resident blocks accumulate, storage steals from execution in
    * the unified memory manager, and a query's measured time depends on
    * which queries happened to run before it (the q_dedup_minhash r3
    * "regression" was exactly this: family members added in hash-map
    * order ahead of it, not an algorithm change). Disk-mode RoundState
    * persists outlive their query the same way. */
  def releaseState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Delete a directory tree. walkFileTree (not Files.list) — the
    * list() Stream must be closed or it leaks a file descriptor per
    * directory, and deleting while the stream is open mutates the
    * directory under iteration. */
  def deleteTree(root: java.nio.file.Path): Unit = {
    import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    if (!Files.exists(root)) return
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f); FileVisitResult.CONTINUE
      }
      override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult = {
        if (e != null) throw e
        Files.deleteIfExists(d); FileVisitResult.CONTINUE
      }
    })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val stageDir = java.nio.file.Files.createTempDirectory("graft-stage")
    // session disk stage cache (ops/StageCache): queries sharing an
    // expensive substrate (the minhash family's digest/signature/
    // verified frames) materialize it once per session as parquet and
    // re-read it — the staging-table pattern a production pipeline
    // uses; results are bit-identical. Fresh dir per run → no
    // cross-run staleness; disk-backed → unaffected by releaseState.
    // MEASUREMENT CAVEAT (recorded in the JSON as "stage_cache":
    // true): with the cache on, only the first build of a shared
    // substrate pays its cost, so family members' per-query times
    // measure substrate REUSE — apples-to-apples only against
    // baselines that stage equivalently.
    val spark = GraftSession(stageDir = Some(stageDir.toString))
    spark.sparkContext.setLogLevel("WARN")
    // Spill observability (round-14): per-query shuffle/sort spill bytes
    // from executor task metrics, so the next spill cliff (the suffixlcp
    // third-decade finding was INFERRED from wall time) is measured, not
    // deduced. Listener-bus posting is async, so attribution to a query
    // window is approximate (a task finishing after consume() returns
    // lands in the next window) — totals across the run are exact, and a
    // query that spills GBs dwarfs the boundary bleed.
    val spillMem = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillDisk = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    // Per-pass JVM telemetry (stderr): metaspace / code-heap occupancy,
    // class-load counts, cumulative JIT and GC time — so a pass-over-
    // pass slowdown is attributable to a measured JVM resource, not
    // inferred from wall time (the r16 aging diagnosis ran blind).
    def jvmTelemetry(): String = {
      import java.lang.management.ManagementFactory
      import scala.jdk.CollectionConverters._
      val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("CodeHeap") ||
          p.getName.contains("Metaspace") || p.getName.contains("Compressed"))
        .map(p => s"${p.getName.replace(' ', '_')}=${p.getUsage.getUsed / 1048576}MB")
        .mkString(" ")
      val cl = ManagementFactory.getClassLoadingMXBean
      val jit = Option(ManagementFactory.getCompilationMXBean)
        .map(_.getTotalCompilationTime).getOrElse(-1L)
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
      s"$pools loadedClasses=${cl.getLoadedClassCount} " +
        s"totalLoadedClasses=${cl.getTotalLoadedClassCount} jitMs=$jit gcMs=$gc"
    }
    val tMain = System.nanoTime()
    // JIT/codegen warmup at the smallest scale so the timed pass below
    // measures steady-state engine throughput, not first-call compilation.
    // A query that fails warmup is deterministic breakage (analysis errors,
    // not load): skip its timed reps entirely — round 8 burned 17 queries ×
    // 3 reps × (analysis exception + GC cycle) re-proving the same failure
    // and pushed the wall to 29:59 against a 30-minute driver cap.
    // Optional subset for diagnostics (SPARK_GRAFT_BENCH_QUERIES, comma-
    // separated): aging reproductions and single-family reruns don't
    // need the full 389-query sweep. Unset → the full registry, as the
    // driver runs it. Warmup respects the subset too.
    val names = sys.env.get("SPARK_GRAFT_BENCH_QUERIES") match {
      case Some(list) =>
        val want = list.split(",").map(_.trim).filter(_.nonEmpty)
        val known = SparkEntry.queries.keySet
        val missing = want.filterNot(known)
        require(missing.isEmpty, s"unknown bench queries: ${missing.mkString(",")}")
        want.toSeq
      case None => SparkEntry.queries.keys.toSeq
    }
    val warmupFailed = scala.collection.mutable.LinkedHashSet[String]()
    names.foreach { name =>
      try consume(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name FAILED: ${e.getMessage}")
        warmupFailed += name }
    }
    releaseState(spark)
    System.err.println(s"[bench] post-warmup telemetry: ${jvmTelemetry()}")
    // Identical code swung q_dedup_cluster 13.05s -> 8.51s between two driver
    // runs (GC, page cache, host contention), so a single sample cannot grade
    // a per-query target. Each query runs REPS times (default 3) with state
    // release + forced GC between samples; the reported figure is the median.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // A failed sample records -1.0, NOT its elapsed wall time: a crash must
    // be distinguishable from a fast success in the emitted JSON.
    //
    // Samples are LIST-MAJOR: pass 1 runs every query once, then pass 2,
    // then pass 3 — not three back-to-back reps per query. Back-to-back
    // reps share the same contention window, so a noisy minute on the host
    // shifts all three samples of one query together and the median cannot
    // reject it (the r6 driver run measured q_dedup_cluster [21.0, 18.3,
    // 8.2] where a quiet host gives [7.0, 6.7, 6.3]). With list-major
    // ordering a noisy minute lands on DIFFERENT queries in each pass, so
    // per-query medians degrade gracefully under transient load.
    val samplesByName = scala.collection.mutable.Map(
      names.map(_ -> Vector.empty[Double]): _*)
    // max (mem+disk) spill bytes observed over any one sample of the
    // query — the conservative "this query can spill this much at this
    // SF/width" figure; 0 for the (typical) never-spilling query.
    val spillByName = scala.collection.mutable.Map(names.map(_ -> 0L): _*)
    // Wall-clock budget (driver cap is 30 min): after each full pass, stop
    // early if another pass of the same length would overrun. Medians over
    // fewer samples degrade gracefully — one honest sample per query beats
    // a truncated run the driver kills mid-pass.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BUDGET_SEC", "1500").toDouble
    val timed = names.filterNot(warmupFailed)
    var pass = 0
    var go = true
    while (pass < reps && go) {
      pass += 1
      val tPass = System.nanoTime()
      var sinceGc = 0
      for (name <- timed) {
        val fn = SparkEntry.queries(name)
        val sp0 = spillMem.get() + spillDisk.get()
        val t0 = System.nanoTime()
        val ok = try { consume(fn(spark, sfDir)); true }
                 catch { case e: Throwable =>
                   System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
        val elapsed = (System.nanoTime() - t0) / 1e9
        releaseState(spark)
        spillByName(name) = math.max(spillByName(name),
          spillMem.get() + spillDisk.get() - sp0)
        // Forced GC every query cost ~0.3-0.5 s × |queries| × reps —
        // ~40% of the r9 bench wall at 231 queries, pressing the
        // driver's 30-minute cap. Every 4th query keeps heap debt from
        // crossing more than a handful of measurements (list-major
        // ordering + medians absorb the residual noise) at a quarter of
        // the overhead; block release stays per-query (that one is
        // correctness of measurement, not hygiene).
        sinceGc += 1
        if (sinceGc >= 4) { System.gc(); sinceGc = 0 }
        samplesByName(name) = samplesByName(name) :+ (if (ok) elapsed else -1.0)
      }
      val passSec = (System.nanoTime() - tPass) / 1e9
      val wallSec = (System.nanoTime() - tMain) / 1e9
      System.err.println(
        f"[bench] pass $pass sum $passSec%.1fs telemetry: ${jvmTelemetry()}")
      if (pass < reps && wallSec + passSec > budgetSec) {
        System.err.println(
          f"[bench] budget: wall $wallSec%.0fs + est pass $passSec%.0fs > $budgetSec%.0fs — stopping after pass $pass")
        go = false
      }
    }
    warmupFailed.foreach(n => samplesByName(n) = Vector(-1.0))
    val results = names.map(n => n -> samplesByName(n))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    // Any failed sample marks the query failed: a crash that reproduces on
    // only some repetitions is still a crash.
    val medians = results.map { case (k, ss) =>
      k -> (if (ss.exists(_ < 0)) -1.0 else median(ss))
    }
    val qs = medians.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val repsJson = results.map { case (k, ss) =>
      s"\"" + k + "\":" + ss.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Substrate-build vs steady-state split (round-12 verdict item 3):
    // for stage-cached families the PASS-1 sample pays the one-time
    // substrate build+write at sfDir (warmup ran at sf0.001, a different
    // cache key), so the all-samples median conflates build with reuse
    // whenever pass 1 lands mid-order. Emit both explicitly:
    //   "first"  = the pass-1 sample (build-inclusive upper bound)
    //   "steady" = median over passes 2+ (pure reuse; = pass-1 when only
    //              one pass ran, e.g. under the wall-clock budget stop)
    // "queries" keeps its historical all-samples-median semantics so
    // bench_compare lineage against r12d and earlier stays meaningful.
    val firstJson = results.map { case (k, ss) =>
      s"\"" + k + "\":" + (if (ss.exists(_ < 0)) -1.0 else ss.head)
    }.mkString("{", ",", "}")
    val steadyJson = results.map { case (k, ss) =>
      val v = if (ss.exists(_ < 0)) -1.0
              else if (ss.size >= 2) median(ss.tail)
              else ss.head
      s"\"" + k + "\":" + v
    }.mkString("{", ",", "}")
    val errs = medians.collect { case (k, v) if v < 0 => s"\"$k\"" }
      .mkString("[", ",", "]")
    val total = medians.collect { case (_, v) if v >= 0 => v }.sum
    val spillJson = names.map(k => s"\"" + k + "\":" + spillByName(k))
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"first":$firstJson,"steady":$steadyJson,"reps":$repsJson,"spill_bytes":$spillJson,"errors":$errs,"sf":"$sfDir","stage_cache":true}"""
    println(json)
    // Also persist the JSON whole to a well-known file: the driver
    // captures stdout and has truncated it before (BENCH_r11.json
    // arrived with "parsed": null) — a file read can't lose the head.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    // Tail-robust headline (r15 verdict): the driver keeps only a stdout
    // TAIL, so when the ~25 KB full record above is truncated from the
    // front, its head fields ("metric","value") are lost and the round
    // lands as parsed:null (BENCH_r11, BENCH_r15). A second, COMPACT
    // summary as the very LAST line survives any tail capture — totals
    // and error list only; the per-query detail lives in the full line
    // and in bench_out.json.
    val nQ = medians.size
    val nErr = medians.count(_._2 < 0)
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries_n":$nQ,"errors_n":$nErr,"errors":$errs,"sf":"$sfDir","stage_cache":true,"detail":"$outFile"}""")
    spark.stop()
    // The per-run stage dir would otherwise accumulate parquet under
    // /tmp across runs; delete it now that the session is closed.
    try deleteTree(stageDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] stage-dir cleanup failed: ${e.getMessage}") }
  }
}
