package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The scale harness: times registry queries over factor× corpora built
  * from sf0.1 (`sbt "Test/runMain graft.CorpusScale [factors] [reps]
  * [queries]"`, e.g. `1,10,100 2`). Each factor's corpus is factor×
  * disjoint key-shifted copies of the fact tables with the dimensions
  * fixed — the regime of SCALING.md's corpus-scale tables since round
  * 9. At 100× that is sf10-equivalent (60M lineitems, 500k documents,
  * 200k embeddings, 10M events). The default query list is the round-13 set,
  * where a Σbucket²/wedge-cap/prefix-filter cliff would hide:
  *
  *   graph:      q_graph_linkpred, q_graph_labelprop, q_graph_localcc,
  *               q_graph_pagerank, q_graph_bfs
  *   dedup:      q_dedup_prefixjoin, q_dedup_suffixlcp, q_dedup_cluster,
  *               q_text_winnowing
  *   similarity: q_similarity_ivfpq, q_similarity_ivfpq_rerank
  *   text:       q_text_cdc_chunks, q_text_kn_nll
  *
  * Copies are generated with a crossJoin(range(factor)) key shift (one
  * scan, not a factor-way union — at 100× the union plan alone is 100
  * scans). Stage cache stays OFF: each rep pays the full pipeline, so
  * fitted exponents measure the ALGORITHM, not substrate amortization.
  * Reported figure is the lower median of `reps` (even counts must not
  * report the worse half). `tools/fit_exponents.py` fits exponents from
  * the `[c13-scale]` lines; results live in SCALING.md §round-13 on.
  *
  * `SPARK_GRAFT_CPUS` sets the core count (the SCALING.md figures used
  * 32). `SPARK_GRAFT_ROUND_STATE` / `SPARK_GRAFT_EDGE_STATE` set
  * `spark.graft.graph.roundState` / `edgeState` (ops/RoundState), e.g.
  * `disk` for the graph rounds past the memory wall (§round-15, §round-17).
  */
object CorpusScale {

  val heavyQueries: Seq[String] = Seq(
    "q_graph_linkpred", "q_graph_labelprop", "q_graph_localcc",
    "q_graph_pagerank", "q_graph_bfs",
    "q_dedup_prefixjoin", "q_dedup_suffixlcp", "q_dedup_cluster",
    "q_text_winnowing",
    "q_similarity_ivfpq", "q_similarity_ivfpq_rerank",
    "q_text_cdc_chunks", "q_text_kn_nll")

  def main(args: Array[String]): Unit = {
    val factors = args.headOption.getOrElse("1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val reps = if (args.length > 1) args(1).toInt else 2
    val queries =
      if (args.length > 2) args(2).split(",").map(_.trim).toSeq
      else heavyQueries
    val baseSf = "/root/testdata/sf0.1"
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    // runtime confs, read by RoundState at query build time
    sys.env.get("SPARK_GRAFT_ROUND_STATE")
      .foreach(v => spark.conf.set("spark.graft.graph.roundState", v))
    sys.env.get("SPARK_GRAFT_EDGE_STATE")
      .foreach(v => spark.conf.set("spark.graft.graph.edgeState", v))

    /** factor copies of `df`, every column in `keys` shifted by
      * i·keySpace per copy — one scan via crossJoin(range). */
    def copies(df: DataFrame, factor: Int, keys: Seq[String]): DataFrame = {
      if (factor == 1) return df
      val spaces = keys.map { k =>
        k -> (df.agg(max(col(k))).head().getLong(0) + 1)
      }
      val withI = df.crossJoin(spark.range(factor).toDF("__i"))
      spaces.foldLeft(withI) { case (acc, (k, space)) =>
        acc.withColumn(k, col(k) + col("__i") * lit(space))
      }.drop("__i")
    }

    def gen(factor: Int): String = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-c13x$factor").toString
      def w(name: String, df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
      val li = spark.read.parquet(s"$baseSf/lineitem.parquet")
      w("lineitem", copies(li, factor, Seq("l_orderkey", "l_partkey", "l_suppkey")))
      w("orders", copies(spark.read.parquet(s"$baseSf/orders.parquet"),
        factor, Seq("o_orderkey")))
      w("events", copies(spark.read.parquet(s"$baseSf/events.parquet"),
        factor, Seq("event_id")))
      w("documents", copies(spark.read.parquet(s"$baseSf/documents.parquet"),
        factor, Seq("doc_id")))
      w("embeddings", copies(spark.read.parquet(s"$baseSf/embeddings.parquet"),
        factor, Seq("vec_id")))
      Seq("part", "customer", "supplier", "nation", "region").foreach { t =>
        w(t, spark.read.parquet(s"$baseSf/$t.parquet"))
      }
      dir
    }

    for (f <- factors) {
      val t0 = System.nanoTime()
      val dir = gen(f)
      println(f"[c13-scale] ${f}x generated in ${(System.nanoTime() - t0) / 1e9}%.0f s at $dir")
      queries.foreach { q =>
        val fn = SparkEntry.queries(q)
        val times = (1 to reps).map { _ =>
          val t1 = System.nanoTime()
          Bench.consume(fn(spark, dir))
          Bench.releaseState(spark); System.gc()
          (System.nanoTime() - t1) / 1e9
        }.sorted
        val med = times((times.size - 1) / 2)
        println(f"[c13-scale] ${f}x $q: $med%.2f s (${times.map(t => f"$t%.2f").mkString(",")})")
      }
      // free the ~GBs before the next factor's generation
      Bench.deleteTree(java.nio.file.Paths.get(dir))
    }
    spark.stop()
  }
}
