package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Round-body plan evidence for the r18 SHUFFLE_HASH change (the
  * registered loop queries return only the final checkpoint-leaf scan,
  * so their own explain cannot show the per-round join strategy).
  * Reconstructs round 1 of the labelprop / pagerank / bfs loops exactly
  * as the queries build them (same substrates, same RoundState
  * checkpoints) and prints the round-1 plan with and without the
  * SHUFFLE_HASH hint — the before/after pair committed under plans/r18.
  * Driver-side tooling only; nothing in the registry calls it.
  *
  * Usage: runMain graft.tools.PlanRound <sfDir>
  * (`SPARK_GRAFT_CPUS=32` reproduces plans/r18; the default is 4 cores).
  */
object PlanRound {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")

    def hintIf(df: DataFrame, on: Boolean): DataFrame =
      if (on) df.hint("SHUFFLE_HASH") else df

    // substrate replicas (bipartitePairs / coOrderPairs are
    // private[queries]; same expressions)
    def bipartitePairs(): DataFrame =
      graft.ops.StageCache.stage(
        Tables.lineitem(spark, d).select(
          (col("l_partkey") * 2).as("p"),
          (col("l_suppkey") * 2 + 1).as("q")).distinct())
    def coOrderPairs(): DataFrame = {
      val li = Tables.lineitem(spark, d).select("l_orderkey", "l_partkey")
      graft.ops.StageCache.stage(
        li.as("x").join(li.as("y"),
            expr("x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"))
          .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
          .distinct())
    }

    // q_graph_labelprop round 1 (Round10Ops shape)
    def labelpropRound(hinted: Boolean): DataFrame = {
      val pairs = bipartitePairs()
      val edges = graft.ops.RoundState.of(
        pairs.select(col("p").as("src"), col("q").as("dst"))
          .union(pairs.select(col("q").as("src"), col("p").as("dst")))
          .repartition(col("src")))
      val labels = graft.ops.RoundState.of(
        edges.select(col("src").as("node")).distinct()
          .withColumn("label", col("node")))
      edges
        .join(hintIf(labels.withColumnRenamed("node", "src"), hinted), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(min_by(col("label"),
          struct((-col("c")).as("nc"), col("label"))).as("label"))
    }

    // q_graph_pagerank round 1 (GraphOps shape)
    def pagerankRound(hinted: Boolean): DataFrame = {
      val pairs = bipartitePairs()
      val edges = graft.ops.RoundState.of(
        pairs.select(col("p").as("src"), col("q").as("dst"))
          .union(pairs.select(col("q").as("src"), col("p").as("dst")))
          .repartition(col("src")))
      val outdeg = graft.ops.RoundState.of(
        edges.groupBy("src").agg(count(lit(1)).as("outdeg")))
      val nodes = graft.ops.RoundState.of(
        edges.select(col("src").as("node")).distinct())
      val rank = nodes.withColumn("rank", lit(1000000L))
      edges
        .join(hintIf(rank.withColumnRenamed("node", "src"), hinted), "src")
        .join(hintIf(outdeg, hinted), "src")
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("in_mass"))
    }

    // q_graph_bfs round 1 (GraphOps shape)
    def bfsRound(hinted: Boolean): DataFrame = {
      val li = Tables.lineitem(spark, d).select("l_orderkey", "l_partkey")
      val pairs = coOrderPairs()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("src"))
        .localCheckpoint(eager = true)
      val dist = li.select(col("l_partkey").as("node")).distinct()
        .filter(col("node") % 100 === 0)
        .withColumn("dist", lit(0L))
      val next = edges
        .join(hintIf(dist.withColumnRenamed("node", "src"), hinted), "src")
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
      dist.unionAll(next).groupBy("node").agg(min("dist").as("dist"))
    }

    for ((name, f) <- Seq(
        ("q_graph_labelprop", labelpropRound _),
        ("q_graph_pagerank", pagerankRound _),
        ("q_graph_bfs", bfsRound _));
        hinted <- Seq(false, true)) {
      println(s"\n========== $name round-1 body " +
        s"(${if (hinted) "SHUFFLE_HASH (after)" else "unhinted (before)"}) ==========")
      f(hinted).explain("formatted")
    }

    // q_curation_coreset round-4 pick (Round11Ops8 shapes): before =
    // the round rebuilds min-distance-to-selected from scratch (k l2sq
    // folds in one growing expression over a fresh corpus scan);
    // after = one constant-size fold carried forward on the shrinking
    // checkpointed state.
    {
      import graft.functions.Similarity
      val e = Tables.embeddings(spark, d).select("vec_id", "embedding")
      val sel = e.orderBy("vec_id").limit(4)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      println("\n========== q_curation_coreset round-4 pick " +
        "(rebuilt-from-scratch dmin (before)) ==========")
      val dminOld = sel.map { case (_, cv) =>
        floor(Similarity.l2sq(col("embedding"), typedlit(cv)) * lit(1e8))
          .cast("long")
      }.reduce(least(_, _))
      e.filter(!col("vec_id").isin(sel.map(_._1): _*))
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"),
          dminOld.as("dmin"))
        .orderBy(col("dmin").desc, col("vec_id").asc).limit(1)
        .explain("formatted")
      println("\n========== q_curation_coreset round-4 pick " +
        "(incremental dmin (after)) ==========")
      val state = e.filter(col("vec_id") =!= lit(sel.head._1))
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"),
          floor(Similarity.l2sq(col("embedding"), typedlit(sel.head._2))
            * lit(1e8)).cast("long").as("dmin"))
        .localCheckpoint(eager = true)
      state.filter(col("vec_id") =!= lit(sel(1)._1))
        .select(col("vec_id"), col("v"),
          least(col("dmin"),
            floor(Similarity.l2sq(col("v"), typedlit(sel(1)._2)) * lit(1e8))
              .cast("long")).as("dmin"))
        .orderBy(col("dmin").desc, col("vec_id").asc).limit(1)
        .explain("formatted")
    }
    spark.stop()
  }
}
