package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative graph analytics over relation-derived graphs — the pregel
  * family beyond connected components ([[graft.ops.Dedup.dedupClusters]]).
  *
  * PageRank here is INTEGER-DETERMINISTIC: ranks are BIGINT micro-units
  * (1e6 = mass 1.0), contributions are integral division `rank div
  * outdeg`, and damping is `(sum * 85) div 100` — every operation is
  * exact and order-independent, so the DuckDB oracle (the same three
  * rounds unrolled as CTEs) hash-matches bit-for-bit. Float PageRank
  * would be order-SENSITIVE in the per-node sum and unverifiable.
  *
  * Scale design (the CC pattern, [[graft.ops.Dedup]]): the edge list is
  * computed once behind a lazy checkpoint and re-joined each round —
  * per round, one join of the rank frame to edges on src (both sides
  * keyed on node ids, AQE picks the join), one map-side-combined
  * groupBy(dst) whose shuffle carries (node, partial-sum) longs, and
  * one left join back to the node set. Rank state per round is O(nodes)
  * longs; the plan is truncated per round by a lazy checkpoint so
  * driver-side re-analysis doesn't grow with iterations.
  */
object GraphOps {

  /** The co-order part graph's distinct edge list (a < b) — the
    * substrate of triangles/kcore/bfs/neighbors. Built through ONE
    * helper so the plans are semantically identical and the session
    * stage cache (ops/StageCache; enabled by Bench) materializes the
    * 3M-row self-join + distinct once per session; disabled it is the
    * lazy localCheckpoint the call sites used before. */
  private[queries] def coOrderPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
    graft.ops.StageCache.stage(
      li.as("x").join(li.as("y"),
          expr("x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"))
        .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
        .distinct())
  }

  /** The part↔supplier bipartite distinct pair list (part → 2k,
    * supplier → 2k+1) shared by pagerank/labelprop/degreedist — same
    * stage-cache treatment as [[coOrderPairs]]. */
  private[queries] def bipartitePairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.ops.StageCache.stage(
      Tables.lineitem(s, d).select(
        (col("l_partkey") * 2).as("p"),
        (col("l_suppkey") * 2 + 1).as("q")).distinct())

  /** Endpoint degrees of the co-order part graph — shared by the
    * triangle family ([[orientedTriangles]]) and q_graph_localcc's
    * final lcc join. */
  private[queries] def coOrderDeg(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val pairs = coOrderPairs(s, d)
    pairs.select(col("a").as("n"))
      .union(pairs.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
  }

  /** One (u, v, w) row per triangle of the co-order part graph via the
    * degree-ordered orientation + compact-adjacency intersection (see
    * q_graph_triangles' scaladoc for the algorithm and scale analysis).
    * Extracted in the r17 optimization round: q_graph_triangles and
    * q_graph_localcc each enumerated the IDENTICAL triangle set
    * (orientation, collect_list adjacency, broadcast joins,
    * array_intersect explode) — built through one helper the frames are
    * semantically equal, so the session stage cache materializes the
    * enumeration once per bench pass and the second consumer reads
    * parquet; at the gate (cache off) each query still runs the full
    * pipeline. */
  private[queries] def orientedTriangles(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val pairs = coOrderPairs(s, d)
    val deg = coOrderDeg(s, d)
    val oriented = graft.ops.StageCache.stage(pairs
      .join(deg.select(col("n").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("dg").as("db")), "b")
      .select(
        when(expr("struct(da, a) < struct(db, b)"), col("a")).otherwise(col("b")).as("src"),
        when(expr("struct(da, a) < struct(db, b)"), col("b")).otherwise(col("a")).as("dst")))
    val adj = oriented.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    graft.ops.StageCache.stage(oriented
      .join(broadcast(adj.select(col("src"), col("nbrs").as("nu"))), "src")
      .join(broadcast(adj.select(col("src").as("dst"), col("nbrs").as("nv"))),
        Seq("dst"), "left")
      .select(col("src").as("u"), col("dst").as("v"),
        explode(array_intersect(col("nu"),
          coalesce(col("nv"), array().cast("array<bigint>")))).as("w")))
  }

  /** Hub-capped part→supplier incidence (part degree ∈ [2, 32]) with
    * the degree attached — the wedge-join substrate q_graph_linkpred
    * and q_graph_modularity share: distinct + degree + cap computed
    * once per session (StageCache in bench mode), each query then runs
    * its own wedge join over it. The cap BEFORE the self-join is the
    * scale guard (wedges bounded by Σ deg² over capped parts). */
  private[queries] def cappedIncidence(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.ops.StageCache.stage {
      val inc = Tables.lineitem(s, d)
        .select(col("l_partkey").as("part"), col("l_suppkey").as("supp"))
        .distinct()
      val deg = inc.groupBy("part").agg(count(lit(1)).as("deg"))
        .filter(col("deg").between(2, 32))
      inc.join(deg, "part")
    }

  val defs: Seq[QueryDef] = Seq(
    // 3-round damped PageRank over the part↔supplier bipartite graph
    // (distinct lineitem pairs, both directions, so every node has
    // out-degree ≥ 1 and no dangling-mass handling is needed). Node
    // encoding: part → 2k, supplier → 2k+1 (disjoint by parity).
    QueryDef("q_graph_pagerank",
      (s, d) => {
        val pairs = bipartitePairs(s, d)
        // repartition(src) BEFORE the checkpoint: the per-round contrib
        // join needs hashpartitioning(src), and a localCheckpoint
        // preserves its input partitioning — so the EDGE side (the big
        // one) ships zero bytes in every round; only the rank frame
        // moves (r11 checkpoint experiment, SCALING.md: 3.2 → 2.6 s at sf0.1)
        // EAGER checkpoints since round 14: the lazy variant does NOT
        // truncate lineage under AQE (SCALING.md §round-13 finding 1 —
        // each round re-executes its predecessors, ~rounds²·edges work;
        // measured on the labelprop loop 30×: lazy 281 s / eager 140 s)
        // RoundState.of = eager localCheckpoint by default; the
        // spark.graft.graph.roundState=disk mode persists DISK_ONLY
        // instead (round-15: the >RAM regime — see ops/RoundState)
        // r18 audit: the repartition(src) layout does NOT survive the
        // checkpoint under Spark 4 + AQE (round-body plans in
        // plans/r18) — each round re-exchanges the edge frame; the
        // partitioning-preserving persist alternative measured WORSE
        // (2.33 → 3.33 s; RoundState.edge scaladoc). Checkpoint stays.
        val edges = graft.ops.RoundState.of(
          pairs.select(col("p").as("src"), col("q").as("dst"))
            .union(pairs.select(col("q").as("src"), col("p").as("dst")))
            .repartition(col("src")))
        val outdeg = graft.ops.RoundState.of(
          edges.groupBy("src").agg(count(lit(1)).as("outdeg")))
        val nodes = graft.ops.RoundState.of(
          edges.select(col("src").as("node")).distinct())
        var rank = nodes.withColumn("rank", lit(1000000L))
        for (_ <- 1 to 3) {
          // SHUFFLE_HASH on both O(V) sides (r18, guide §3.1): the
          // checkpointed rank/outdeg frames carry origin stats, so the
          // planner BROADCAST both every round — two per-round driver
          // collects + broadcast builds of O(V) state (wrong posture at
          // 100 TB where V grows with the corpus). The hint swaps each
          // for a |V|-row exchange + parallel per-partition hash builds;
          // the edge side stays zero-shuffle on its repartition(src)
          // layout either way. Measured −17% (single-query bench med 2.81 → 2.33,
          // controls flat); plan diff in plans/r18.
          val contribs = edges
            .join(rank.withColumnRenamed("node", "src")
              .hint("SHUFFLE_HASH"), "src")
            .join(outdeg.hint("SHUFFLE_HASH"), "src")
            .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
            .groupBy("node").agg(sum("c").as("in_mass"))
          // next(…, rank): materialize the new round, then free the
          // superseded one (disk mode would otherwise accumulate a
          // session-lifetime DISK_ONLY relation per round — r15 ADVICE)
          rank = graft.ops.RoundState.next(
            nodes.join(contribs, Seq("node"), "left")
              .select(col("node"),
                (lit(150000L) + expr("(coalesce(in_mass, 0L) * 85) div 100"))
                  .as("rank")), rank)
        }
        rank.select(col("node").cast("long").as("node"),
            col("rank").cast("long").as("rank"))
          .orderBy("node")
      },
      """WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS q
                        FROM lineitem),
         edges AS (SELECT p AS src, q AS dst FROM pairs
                   UNION ALL SELECT q AS src, p AS dst FROM pairs),
         outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         nodes AS (SELECT DISTINCT src AS node FROM edges),
         r0 AS (SELECT node, 1000000 AS rank FROM nodes),
         c1 AS (SELECT e.dst AS node, sum(r.rank // o.outdeg) AS in_mass
                FROM edges e JOIN r0 r ON e.src = r.node
                JOIN outdeg o ON e.src = o.src GROUP BY 1),
         r1 AS (SELECT n.node, 150000 + (coalesce(c.in_mass, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c1 c ON n.node = c.node),
         c2 AS (SELECT e.dst AS node, sum(r.rank // o.outdeg) AS in_mass
                FROM edges e JOIN r1 r ON e.src = r.node
                JOIN outdeg o ON e.src = o.src GROUP BY 1),
         r2 AS (SELECT n.node, 150000 + (coalesce(c.in_mass, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c2 c ON n.node = c.node),
         c3 AS (SELECT e.dst AS node, sum(r.rank // o.outdeg) AS in_mass
                FROM edges e JOIN r2 r ON e.src = r.node
                JOIN outdeg o ON e.src = o.src GROUP BY 1),
         r3 AS (SELECT n.node, 150000 + (coalesce(c.in_mass, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c3 c ON n.node = c.node)
         SELECT node::BIGINT AS node, rank::BIGINT AS rank
         FROM r3 ORDER BY node"""),

    // Per-node triangle counts over the co-order part graph (parts that
    // appear on the same order are adjacent). The classic local-clustering
    // signal behind community detection and spam/bot-graph filtering.
    //
    // Scale design — degree-ordered orientation (Suri & Vassilvitskii,
    // "Counting triangles and the curse of the last reducer", WWW'11):
    // every undirected edge is oriented from its (degree, id)-smaller
    // endpoint to its larger one, which turns the graph into a DAG whose
    // max out-degree is O(sqrt(m)), killing the celebrity hot key. Each
    // triangle then has exactly one source node with both out-edges, so
    // it is found exactly once: for the edge u→v, every common
    // out-neighbor w ∈ N⁺(u) ∩ N⁺(v) closes a triangle {u→v, u→w, v→w}.
    //
    // The intersection runs over COMPACT ADJACENCY ARRAYS, not a wedge
    // self-join: the co-order graph is dense (sf0.1: ~20k nodes, ~0.5M
    // edges), so materializing the Σ outdeg·indeg wedge rows through a
    // join + semi-probe moved ~10⁹ rows and ran ~40 s; the same O(m^1.5)
    // intersection work as one codegen'd array_intersect per edge runs
    // in ~3 s (round-9 rewrite, hash-identical output). The whole
    // oriented adjacency table is Σ outdeg = m longs (~4 MB at sf0.1) —
    // explicitly broadcast twice, so edges never shuffle at all; at a
    // web-scale m the same plan degrades gracefully to a node-id-keyed
    // shuffle-hash join (the arrays stay O(√m) each under orientation),
    // and exploded output is 3·#triangles rows — output-bound, never
    // wedge-bound. The per-order pair expansion is bounded by the small
    // per-order line count (≤ C(7,2) pairs per TPC-H order).
    QueryDef("q_graph_triangles",
      (s, d) => {
        // triangle enumeration through the shared staged helper — see
        // [[orientedTriangles]] (r17: one materialization per session,
        // consumed here and by q_graph_localcc)
        val tri = orientedTriangles(s, d)
        tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
          .groupBy("node").agg(count(lit(1)).cast("long").as("triangles"))
          .select(col("node").cast("long").as("node"), col("triangles"))
          .orderBy("node")
      },
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
         pairs AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                   FROM li x JOIN li y
                   ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         deg AS (SELECT n, count(*) AS dg FROM (
                   SELECT a AS n FROM pairs UNION ALL SELECT b AS n FROM pairs)
                 GROUP BY 1),
         o AS (SELECT CASE WHEN (da.dg, p.a) < (db.dg, p.b) THEN p.a ELSE p.b END AS src,
                      CASE WHEN (da.dg, p.a) < (db.dg, p.b) THEN p.b ELSE p.a END AS dst
               FROM pairs p JOIN deg da ON p.a = da.n JOIN deg db ON p.b = db.n),
         tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
                 FROM o e1 JOIN o e2 ON e1.dst = e2.src
                 WHERE EXISTS (SELECT 1 FROM o e3
                               WHERE e3.src = e1.src AND e3.dst = e2.dst))
         SELECT node::BIGINT AS node, count(*)::BIGINT AS triangles
         FROM (SELECT u AS node FROM tri UNION ALL
               SELECT v FROM tri UNION ALL SELECT w FROM tri)
         GROUP BY 1 ORDER BY node"""),

    // 3-round k-core peeling (k=3) over the co-order part graph — the
    // degeneracy-ordering primitive behind community cores, spam-graph
    // pruning, and graph-sampling curricula: repeatedly delete nodes of
    // degree < k and re-induce. Three BOUNDED rounds (the PageRank
    // discipline — a fixed unrollable round count is what makes the
    // result oracle-checkable; full convergence is the same loop run to
    // fixpoint, and each round strictly shrinks the edge set so later
    // rounds cost less than earlier ones).
    //
    // Scale shape per round: one map-side-combined degree count (shuffle
    // carries (node, count) longs), one filter to the keep-set, two
    // LEFT-SEMI joins re-inducing the edge list — semi joins so edges
    // never widen, keyed on node ids so AQE broadcasts the keep-set once
    // it shrinks below the threshold. EAGER per-round checkpoints since
    // round 14 — lazy localCheckpoint does NOT truncate lineage under
    // AQE (SCALING.md §round-13 finding 1), so the lazy form re-ran
    // every earlier round's peel inside each later round. No
    // driver-side state beyond the loop counter.
    QueryDef("q_graph_kcore",
      (s, d) => {
        var edges = coOrderPairs(s, d)
        for (_ <- 1 to 3) {
          val deg = edges.select(col("a").as("n"))
            .union(edges.select(col("b").as("n")))
            .groupBy("n").agg(count(lit(1)).as("dg"))
          val keep = deg.filter(col("dg") >= 3).select("n")
            .localCheckpoint(eager = true)
          // SHUFFLE_HASH measured and REJECTED here (r18): the keep-set
          // semi joins plan as BROADCAST (small estimated keep-set), so
          // the edge side never shuffles; the hint would FORCE two full
          // edge exchanges (by a, then by b — the frame is not
          // partitioned on either) and measured a clear regression
          // (single-query bench med 2.71 baseline vs 3.41 hinted, controls +5%).
          // The broadcast here is of a shrinking filtered set, not
          // per-round full-V state — it stays.
          edges = edges
            .join(keep.withColumnRenamed("n", "a"), Seq("a"), "leftsemi")
            .join(keep.withColumnRenamed("n", "b"), Seq("b"), "leftsemi")
            .select("a", "b")
            .localCheckpoint(eager = true)
        }
        edges.select(col("a").as("node")).union(edges.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).cast("long").as("degree"))
          .select(col("node").cast("long").as("node"), col("degree"))
          .orderBy("node")
      },
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
         e0 AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                FROM li x JOIN li y
                ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         d1 AS (SELECT n, count(*) AS dg FROM (
                  SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) u GROUP BY 1),
         k1 AS (SELECT n FROM d1 WHERE dg >= 3),
         e1 AS (SELECT a, b FROM e0 WHERE a IN (SELECT n FROM k1)
                                      AND b IN (SELECT n FROM k1)),
         d2 AS (SELECT n, count(*) AS dg FROM (
                  SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) u GROUP BY 1),
         k2 AS (SELECT n FROM d2 WHERE dg >= 3),
         e2 AS (SELECT a, b FROM e1 WHERE a IN (SELECT n FROM k2)
                                      AND b IN (SELECT n FROM k2)),
         d3 AS (SELECT n, count(*) AS dg FROM (
                  SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) u GROUP BY 1),
         k3 AS (SELECT n FROM d3 WHERE dg >= 3),
         e3 AS (SELECT a, b FROM e2 WHERE a IN (SELECT n FROM k3)
                                      AND b IN (SELECT n FROM k3))
         SELECT node::BIGINT AS node, count(*)::BIGINT AS degree
         FROM (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3) f
         GROUP BY 1 ORDER BY node"""),

    // 3-round multi-source BFS over the co-order part graph: hop
    // distance from the seed set (part keys ≡ 0 mod 100) — the
    // reachability/radius primitive behind "N hops from a flagged
    // node" fraud and spam sweeps, and the frontier-expansion shape
    // label propagation shares. Unreached nodes simply don't appear
    // (a null distance would also be driver-unverifiable).
    //
    // Scale shape (the pregel family contract): per round, ONE join of
    // the distance frame to the edge list on src plus one
    // map-side-combined min per dst; the merged frame groupBy(node)
    // min keeps state at O(reached nodes) ints. Integer min is exact
    // and order-independent, so the unrolled-CTE oracle hash-matches.
    // The edge list checkpoints once; each round's frame checkpoints
    // lazily to truncate lineage (the PageRank/kcore pattern). The
    // round count is fixed (bounded-hop sweeps are the production
    // shape; an unbounded BFS would loop until the frontier empties,
    // same per-round plan).
    QueryDef("q_graph_bfs",
      (s, d) => {
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
        val pairs = coOrderPairs(s, d)
        // repartition(src) before the checkpoint — the frontier join
        // reuses the edge layout every round (the pagerank note).
        // EAGER since round 13: the lazy checkpoint did not truncate
        // lineage under AQE (each round re-executed its predecessors —
        // the labelprop 30× A/B measured lazy 2× over eager; this
        // query's 100× profile showed the same exp-1.47 signature).
        val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
          .union(pairs.select(col("b").as("src"), col("a").as("dst")))
          .repartition(col("src"))
          .localCheckpoint(eager = true)
        val nodes = li.select(col("l_partkey").as("node")).distinct()
        var dist = nodes.filter(col("node") % 100 === 0)
          .withColumn("dist", lit(0L))
        for (_ <- 1 to 3) {
          // SHUFFLE_HASH (r18, guide §3.1): same rationale as pagerank —
          // the distance frame was BROADCAST every round (per-round
          // driver collect of O(reached) state); the hint swaps it for
          // one small exchange + parallel hash builds, edge side
          // zero-shuffle either way. Measured −9% (2.68 → 2.44).
          val next = edges
            .join(dist.withColumnRenamed("node", "src")
              .hint("SHUFFLE_HASH"), "src")
            .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
          dist = dist.unionAll(next)
            .groupBy("node").agg(min("dist").as("dist"))
            .localCheckpoint(eager = true)
        }
        dist.select(col("node").cast("long").as("node"),
            col("dist").cast("long").as("dist"))
          .orderBy("node")
      },
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
         pairs AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                   FROM li x JOIN li y
                   ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION ALL SELECT b, a FROM pairs),
         d0 AS (SELECT DISTINCT l_partkey AS node, 0::BIGINT AS dist
                FROM li WHERE l_partkey % 100 = 0),
         d1 AS (SELECT node, min(dist) AS dist FROM (
                  SELECT node, dist FROM d0
                  UNION ALL
                  SELECT e.dst, d.dist + 1 FROM edges e JOIN d0 d ON e.src = d.node)
                GROUP BY 1),
         d2 AS (SELECT node, min(dist) AS dist FROM (
                  SELECT node, dist FROM d1
                  UNION ALL
                  SELECT e.dst, d.dist + 1 FROM edges e JOIN d1 d ON e.src = d.node)
                GROUP BY 1),
         d3 AS (SELECT node, min(dist) AS dist FROM (
                  SELECT node, dist FROM d2
                  UNION ALL
                  SELECT e.dst, d.dist + 1 FROM edges e JOIN d2 d ON e.src = d.node)
                GROUP BY 1)
         SELECT node::BIGINT AS node, dist::BIGINT AS dist
         FROM d3 ORDER BY node"""),

    // Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003):
    // score non-adjacent part pairs by how many CAPPED common
    // neighbors they share, top-20 — the candidate generator behind
    // "you may also like" edges and graph-completion heuristics.
    //
    // The declared contract (the capped-LSH pattern dedup uses): each
    // middle node contributes pairs only among its 16 smallest-id
    // neighbors. Uncapped wedge enumeration is C(deg,2) per node —
    // quadratic in the hottest degree, the celebrity blow-up the
    // triangle rewrite dodged via orientation; orientation is NOT
    // available here because a pair's common-neighbor count needs ALL
    // its wedges, not one canonical one. The cap bounds per-node work
    // at C(16,2) while keeping every pair of well-connected nodes
    // visible through SOME early neighbor — approximate by contract,
    // deterministic by id order, and mirrored exactly in the oracle.
    //
    // Scale shape: the cap plans as WindowGroupLimit below the
    // neighbor shuffle; pair counting is a map-side-combined groupBy
    // on (a, b) keys; the existing-edge exclusion is one anti join on
    // the same key shape; top-20 = TakeOrdered.
    QueryDef("q_graph_neighbors",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // feeds BOTH the adjacency chain and the existing-edge anti
        // join — the shared staged frame runs the 3M-row self-join +
        // distinct once (per session under the stage cache)
        val pairs = coOrderPairs(s, d)
        val adj = pairs.select(col("a").as("node"), col("b").as("nbr"))
          .unionAll(pairs.select(col("b").as("node"), col("a").as("nbr")))
        // Capped wedge pairs generated IN-ROW (r17 optimization round):
        // the 16 smallest neighbors per node are slice(sort_array(...))
        // of the collected adjacency — identical to the row_number ≤ 16
        // window (nbr is unique per node) — and the C(16,2) pairs come
        // from one bounded in-row expansion instead of the capped×capped
        // self-join. Drops the window sort over the full adjacency AND
        // the join's two exchanges; x.nbr < y.nbr orientation is the
        // sorted order. Counts identical.
        val capped16 = adj.groupBy("node")
          .agg(slice(sort_array(collect_list(col("nbr"))), 1, 16).as("ns"))
        val cand = capped16
          .select(explode(flatten(transform(col("ns"), (x, i) =>
            transform(slice(col("ns"), i + lit(2),
                greatest(size(col("ns")) - i - lit(1), lit(0))),
              y => struct(x.as("a"), y.as("b")))))).as("pr"))
          .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
          .agg(count(lit(1)).as("common"))
        cand.join(pairs, Seq("a", "b"), "left_anti")
          .orderBy(col("common").desc, col("a").asc, col("b").asc)
          .limit(20)
      },
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
         pairs AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                   FROM li x JOIN li y
                   ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         adj AS (SELECT a AS node, b AS nbr FROM pairs
                 UNION ALL SELECT b, a FROM pairs),
         capped AS (SELECT node, nbr FROM (
                      SELECT node, nbr,
                        row_number() OVER (PARTITION BY node ORDER BY nbr) AS rn
                      FROM adj)
                    WHERE rn <= 16),
         cand AS (SELECT x.nbr AS a, y.nbr AS b, count(*) AS common
                  FROM capped x JOIN capped y
                  ON x.node = y.node AND x.nbr < y.nbr
                  GROUP BY 1, 2)
         SELECT a, b, common FROM cand
         WHERE NOT EXISTS (SELECT 1 FROM pairs p
                           WHERE p.a = cand.a AND p.b = cand.b)
         ORDER BY common DESC, a ASC, b ASC LIMIT 20"""),

    // Degree distribution of the part↔supplier bipartite graph, split
    // by node kind — the first diagnostic every graph pipeline runs
    // (hub detection, power-law tail check, join-skew early warning:
    // the max-degree row IS the worst hot key any neighborhood join
    // will see). Two map-side-combined groupBys (node→degree, then
    // (kind, degree)→count); the histogram output is degree-bounded,
    // not node-bounded.
    QueryDef("q_graph_degreedist",
      (s, d) => {
        val pairs = bipartitePairs(s, d)
        val edges = pairs.select(col("p").as("src"), col("q").as("dst"))
          .union(pairs.select(col("q").as("src"), col("p").as("dst")))
        edges.groupBy("src").agg(count(lit(1)).as("degree"))
          .select(when(col("src") % 2 === 0, lit("part"))
            .otherwise(lit("supplier")).as("kind"), col("degree"))
          .groupBy("kind", "degree")
          .agg(count(lit(1)).as("n_nodes"))
          .orderBy("kind", "degree")
      },
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS q
        |  FROM lineitem),
        |edges AS (
        |  SELECT p AS src, q AS dst FROM pairs
        |  UNION ALL SELECT q AS src, p AS dst FROM pairs),
        |deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src)
        |SELECT CASE WHEN src % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
        |  degree, count(*) AS n_nodes
        |FROM deg GROUP BY 1, 2 ORDER BY kind, degree""".stripMargin),

    // Adamic-Adar link prediction over the supplier projection of the
    // part-supplier incidence: score(s1, s2) = sum over shared parts of
    // 1 / ln(deg(part)) — the standard similarity scorer that discounts
    // hub neighbors. Scale design mirrors q_graph_neighbors: wedge
    // volume is sum(deg^2) over parts, so hub parts are CAPPED out
    // (deg > 32 contributes < 1/ln(32) per pair to millions of pairs —
    // all noise, no signal; the cap is mirrored in the oracle).
    // The term sum exploits that 1/ln(deg) takes at most 31 DISTINCT
    // values: wedges reduce to (s1, s2, deg) counts first — a MAP-SIDE-
    // COMBINED groupBy whose shuffle carries counts, never part lists —
    // and the per-pair fold walks ≤31 (deg, cnt·term) entries in deg
    // order (ln via the LnIeee intrinsic; cnt·term is one IEEE multiply
    // per entry, mirrored exactly in the oracle). Top-20 by exact
    // double score with (s1, s2) tiebreak.
    QueryDef("q_graph_linkpred",
      (s, d) => {
        graft.functions.LnIeee.register(s)
        // hub cap BEFORE the wedge expansion: the capped incidence with
        // deg attached is staged ONCE (shared with q_graph_modularity)
        val incf = cappedIncidence(s, d)
        // Wedges generated IN-ROW (r18; the q_graph_neighbors r17
        // rewrite applied here): each part's supplier list is ≤ 32 by
        // the cap, so collect it sorted and expand the C(d,2) ordered
        // pairs inside the row — identical pairs to the
        // `x.part = y.part AND x.supp < y.supp` self-join (sorted order
        // IS the s1 < s2 orientation; the incidence is distinct), and
        // size(list) IS the attached part degree. Drops the broadcast
        // build, the probe-side rebalance exchange, and the join —
        // the 5.1M-row expansion runs as a post-shuffle explode across
        // all cores. Counts identical (pinned in OptRewriteR18Spec).
        // explicit spread before the expansion: AQE coalesces the tiny
        // 18k-row adjacency shuffle to ~1 partition, which would run
        // the 5.1M-row explode single-threaded (measured 7.3 s) — a
        // deterministic-hash repartition keeps C(d,2) expansion and the
        // partial (s1, s2, deg) combine on all cores
        val adj = incf.groupBy("part")
          .agg(sort_array(collect_list(col("supp"))).as("ss"))
          .repartition(s.sparkContext.defaultParallelism,
            xxhash64(col("part")))
        val wedges = adj
          .select(size(col("ss")).cast("long").as("deg"),
            explode(flatten(transform(col("ss"), (x, i) =>
              transform(slice(col("ss"), i + lit(2),
                  greatest(size(col("ss")) - i - lit(1), lit(0))),
                y => struct(x.as("s1"), y.as("s2")))))).as("pr"))
          .groupBy(col("pr.s1").as("s1"), col("pr.s2").as("s2"), col("deg"))
          .agg(count(lit(1)).as("cnt"))
        wedges.groupBy("s1", "s2")
          .agg(sum("cnt").cast("long").as("n_common"),
            array_sort(collect_list(struct(col("deg"),
              (col("cnt").cast("double") *
                (lit(1.0) / call_function("ln_ieee", col("deg").cast("double"))))
                .as("t")))).as("terms"))
          .select(col("s1"), col("s2"), col("n_common"),
            aggregate(col("terms"), lit(0.0),
              (acc, e) => acc + e.getField("t")).as("aa"))
          .orderBy(col("aa").desc, col("s1").asc, col("s2").asc)
          .limit(20)
      },
      """WITH inc AS (SELECT DISTINCT l_partkey AS part, l_suppkey AS supp
                      FROM lineitem),
         deg AS (SELECT part, count(*) AS deg FROM inc GROUP BY 1
                 HAVING count(*) BETWEEN 2 AND 32),
         wedges AS (SELECT x.supp AS s1, y.supp AS s2, d.deg,
                      count(*) AS cnt
                    FROM inc x JOIN inc y
                      ON x.part = y.part AND x.supp < y.supp
                    JOIN deg d ON x.part = d.part
                    GROUP BY 1, 2, 3),
         pairs AS (SELECT s1, s2, sum(cnt)::BIGINT AS n_common,
                     list_reduce(list_prepend(0.0, list_transform(
                         list_sort(list(struct_pack(deg := deg,
                           t := cnt::DOUBLE * (1.0 / ln(deg::DOUBLE))))),
                         e -> struct_extract(e, 't'))),
                       (a, b) -> a + b) AS aa
                   FROM wedges GROUP BY 1, 2)
         SELECT s1, s2, n_common, aa FROM pairs
         ORDER BY aa DESC, s1 ASC, s2 ASC LIMIT 20"""),

    // Newman modularity of the nation partition over the supplier
    // co-purchase graph: Q = Σ_c (e_c/m − (d_c/2m)²) — "are same-nation
    // suppliers more co-purchased than chance?". Everything up to the
    // final 25-term fold is exact integers (edge counts, degree sums);
    // the fold over communities is array_sort'd (q_text_entropy
    // technique) and bounded by |nations|, never graph size. The
    // co-purchase edge list reuses the q_graph_linkpred wedge shape
    // including the hub-part cap, so edge volume stays Σ deg² over
    // capped parts at any corpus size.
    QueryDef("q_graph_modularity",
      (s, d) => {
        // capped incidence staged once, shared with q_graph_linkpred,
        // reused as both wedge sides
        val incf = cappedIncidence(s, d)
        val edges = incf.as("x").join(incf.as("y"),
            expr("x.part = y.part AND x.supp < y.supp"))
          .select(col("x.supp").as("s1"), col("y.supp").as("s2"))
          .distinct()
        val nat = Tables.supplier(s, d).select(col("s_suppkey").as("supp"),
          col("s_nationkey").as("c"))
        // `lab` feeds FOUR consumers below (m, both nodeDeg projections,
        // the intra-community filter); without materialization each one
        // re-runs the wedge join + distinct — the 4-10 s run-to-run
        // spread the round-11 verdict flagged was exactly that rebuild
        // racing checkpoint jitter. Stage it once (parquet in bench
        // mode, lazy localCheckpoint at the gate).
        val lab = graft.ops.StageCache.stage(edges
          .join(broadcast(nat.withColumnRenamed("supp", "s1")
            .withColumnRenamed("c", "c1")), "s1")
          .join(broadcast(nat.withColumnRenamed("supp", "s2")
            .withColumnRenamed("c", "c2")), "s2"))
        val m = lab.groupBy().agg(count(lit(1)).as("m"))
        val nodeDeg = lab.select(col("s1").as("supp"), col("c1").as("c"))
          .unionAll(lab.select(col("s2").as("supp"), col("c2").as("c")))
          .groupBy("supp", "c").agg(count(lit(1)).as("deg"))
        val perC = nodeDeg.groupBy("c").agg(sum("deg").as("dc"))
          .join(lab.filter(col("c1") === col("c2"))
              .groupBy(col("c1").as("c")).agg(count(lit(1)).as("ec")),
            Seq("c"), "left")
          .select(col("c"), coalesce(col("ec"), lit(0L)).as("ec"), col("dc"))
        perC.crossJoin(broadcast(m))
          .select(col("c"), col("ec"), col("dc"), col("m"),
            (col("ec").cast("double") / col("m").cast("double") -
              (col("dc").cast("double") / (lit(2.0) * col("m").cast("double"))) *
              (col("dc").cast("double") / (lit(2.0) * col("m").cast("double"))))
              .as("contrib"))
          .groupBy(col("m"))
          .agg(count(lit(1)).cast("long").as("n_comm"),
            array_sort(collect_list(struct(col("c"), col("contrib"))))
              .as("cs"))
          .select(col("m"), col("n_comm"),
            aggregate(col("cs"), lit(0.0),
              (acc, e) => acc + e.getField("contrib")).as("q"))
      },
      """WITH inc AS (SELECT DISTINCT l_partkey AS part, l_suppkey AS supp
                      FROM lineitem),
         deg AS (SELECT part, count(*) AS pdeg FROM inc GROUP BY 1
                 HAVING count(*) BETWEEN 2 AND 32),
         edges AS (SELECT DISTINCT x.supp AS s1, y.supp AS s2
                   FROM inc x JOIN inc y
                     ON x.part = y.part AND x.supp < y.supp
                   JOIN deg d ON x.part = d.part),
         lab AS (SELECT e.s1, e.s2, n1.s_nationkey AS c1, n2.s_nationkey AS c2
                 FROM edges e
                 JOIN supplier n1 ON e.s1 = n1.s_suppkey
                 JOIN supplier n2 ON e.s2 = n2.s_suppkey),
         m AS (SELECT count(*) AS m FROM lab),
         nd AS (SELECT supp, c, count(*) AS deg FROM (
                  SELECT s1 AS supp, c1 AS c FROM lab
                  UNION ALL SELECT s2, c2 FROM lab)
                GROUP BY 1, 2),
         perc AS (SELECT nd.c, coalesce(ec.ec, 0) AS ec, sum(nd.deg) AS dc
                  FROM nd LEFT JOIN (
                    SELECT c1 AS c, count(*) AS ec FROM lab
                    WHERE c1 = c2 GROUP BY 1) ec ON nd.c = ec.c
                  GROUP BY 1, 2),
         contribs AS (SELECT p.c,
             p.ec::DOUBLE / m.m::DOUBLE -
               (p.dc::DOUBLE / (2.0 * m.m::DOUBLE)) *
               (p.dc::DOUBLE / (2.0 * m.m::DOUBLE)) AS contrib,
             m.m AS m
           FROM perc p CROSS JOIN m)
         SELECT max(m)::BIGINT AS m, count(*)::BIGINT AS n_comm,
           list_reduce(list_prepend(0.0, list_transform(
               list_sort(list(struct_pack(c := c, contrib := contrib))),
               e -> struct_extract(e, 'contrib'))),
             (a, b) -> a + b) AS q
         FROM contribs"""))
}
