package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session (the only `SparkSession.builder`
  * call in the code base; SessionLintSpec keeps it that way). Every main,
  * the scale harness and the test suites share these settings, so a
  * stability fix made here reaches all of them.
  *
  * `stageDir` turns on the session disk stage cache (ops/StageCache).
  * Leave it unset for the correctness gate and the tests: unset,
  * `StageCache.stage` degrades to a lazy checkpoint and every query
  * computes its substrates itself.
  */
object GraftSession {

  /** `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4. */
  def apply(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
            stageDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Intra-JVM pass aging fix (r16 verdict item 1): the generated-
      // class cache defaults to 100 entries, but one full-registry pass
      // generates ~2000 distinct codegen classes — every pass therefore
      // re-generated and re-compiled (Janino) nearly every class, each
      // compile loading fresh classes through a fresh classloader. The
      // churn is what ages the JVM: metaspace/code-cache pressure and
      // re-JIT of just-evicted methods grew pass sums 453.8 → 513.3 →
      // 592.6 s within one 3-pass r16 sweep (uniform 1.27× per query —
      // an engine-wide slowdown, not a query regression). The registry's
      // working set measured ~4.5k codegen units per pass (a 4096-entry
      // first cut still reloaded ~9k classes per pass — LRU in
      // list-major order evicts exactly what the next pass needs);
      // 16384 holds the whole run. Static conf: it takes effect only
      // on the first session of a JVM.
      .config("spark.sql.codegen.cache.maxEntries", "16384")
      // Status-store retention: the defaults (100k tasks, 1000 SQL
      // executions) let driver bookkeeping grow for most of a full
      // 3-pass sweep (389 queries × ~dozens of tasks each × passes),
      // then churn at the cap — measured as a fixed ~86 ms/query
      // pass-over-pass inflation on SMALL queries while big queries
      // stayed flat (r17 diagnosis). No caller reads status history;
      // keep the stores small and steady from the first query.
      .config("spark.ui.retainedJobs", "300")
      .config("spark.ui.retainedStages", "500")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "100")
      // map-typed outputs (q_map_fns*) must be hashable by Bench.hash
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      // Tables.events NTZ→TS cast is value-preserving only under UTC;
      // the host happens to be UTC but don't depend on it
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    stageDir.foreach(d => b.config("spark.graft.stageCache.dir", d))
    b.getOrCreate()
  }
}
