package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan-inspection utility: prints the formatted physical plan of the
  * named queries (or all) at the given scale dir. Used to audit pushdown,
  * broadcast choice, and whole-stage-codegen coverage.
  *
  * Usage: runMain graft.tools.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // SPARK_GRAFT_CPUS/SPARK_GRAFT_STAGE_DIR: match the Bench session
    // (core count and stage-cache mode both change plan shape — staged
    // substrates print as parquet scans of the stage dir exactly as the
    // bench executes them; unset, stage() degrades to the gate's lazy
    // checkpoint and the printed plan is the gate's).
    val spark = GraftSession(stageDir = sys.env.get("SPARK_GRAFT_STAGE_DIR"))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
