package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-10 batch: Hilbert-curve layout (z-order's better-locality
  * sibling), label-propagation communities, suffix-LCP repeat
  * detection (the suffix-array dedup primitive of Lee et al., ACL'22,
  * "Deduplicating Training Data Makes Language Models Better"), and a
  * Count-Min sketch with exact-count calibration.
  *
  * House determinism rules throughout: integer-only state (curve
  * indices, label ids, counts, LCP lengths), md5-derived buckets via
  * the shared `conv(substring(md5(x),1,n),16,10)` ≡
  * `('0x' || substring(md5(x),1,n))::BIGINT` bridge, ties broken on
  * ids, stable ORDER BY on every output.
  */
object Round10Ops {

  /** One unrolled step of the standard Hilbert xy→d walk (the public
    * Wikipedia/Warren formulation) at side `n`=16: quadrant digit
    * `(3·rx) XOR ry` rewritten arithmetic-only as `ry + rx·(3 − 2·ry)`
    * (no XOR operator — DuckDB's `^` is power), then the conditional
    * flip+swap rotation. The SAME SQL text renders on both engines. */
  private def hilbertStep(i: Int, s: Int): Seq[(String, String)] = {
    val (x, y, dd) = (s"hx$i", s"hy$i", s"hd$i")
    val rx = s"(CASE WHEN ($x & $s) > 0 THEN 1 ELSE 0 END)"
    val ry = s"(CASE WHEN ($y & $s) > 0 THEN 1 ELSE 0 END)"
    Seq(
      s"hd${i + 1}" -> s"$dd + ${s * s} * ($ry + $rx * (3 - 2 * $ry))",
      s"hx${i + 1}" -> (s"CASE WHEN ($y & $s) > 0 THEN $x " +
        s"WHEN ($x & $s) > 0 THEN 15 - $y ELSE $y END"),
      s"hy${i + 1}" -> (s"CASE WHEN ($y & $s) > 0 THEN $y " +
        s"WHEN ($x & $s) > 0 THEN 15 - $x ELSE $x END"))
  }
  private val hilbertSteps: Seq[Seq[(String, String)]] =
    Seq(8, 4, 2, 1).zipWithIndex.map { case (s, i) => hilbertStep(i, s) }

  val defs: Seq[QueryDef] = Seq(

    // Hilbert-curve data layout — the same 16×16 grid, 64-file harness
    // as q_layout_zorder, but ordered by the order-4 Hilbert index
    // instead of bit interleave. The Hilbert walk never jumps across
    // the grid (every step is edge-adjacent), so per-file key spans
    // tighten vs z-order's quadrant seams — THE reason lakehouse
    // OPTIMIZE implementations offer it. Output is the identical
    // pruning manifest (per-file min/max of both keys), directly
    // comparable row-for-row against the z-order manifest. All state
    // is integer (4 unrolled flip/swap steps); file assignment is the
    // sharded rank (ops/Sharded) keyed on hd4 — 256 shards, partitioned
    // within-shard row_numbers + a 256-row prefix-sum, no single-task
    // sort; the oracle keeps the plain global window to pin exactness.
    QueryDef("q_layout_hilbert",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        val m = broadcast(li.agg(
          max("l_partkey").as("mp"), max("l_suppkey").as("ms"),
          count(lit(1)).as("n")))
        var df = li.crossJoin(m)
          .withColumn("hx0", expr("((l_partkey - 1) * 16) div mp"))
          .withColumn("hy0", expr("((l_suppkey - 1) * 16) div ms"))
          .withColumn("hd0", lit(0L))
        hilbertSteps.foreach(_.foreach { case (name, sql) =>
          df = df.withColumn(name, expr(sql))
        })
        graft.ops.Sharded.globalRowNumber(df, col("hd4"),
            Seq(col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_suppkey")), "rn1")
          .withColumn("rn", col("rn1") - 1)
          .withColumn("file_id", expr("rn div ((n + 63) div 64)"))
          .groupBy("file_id")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            min("l_partkey").cast("long").as("part_min"),
            max("l_partkey").cast("long").as("part_max"),
            min("l_suppkey").cast("long").as("supp_min"),
            max("l_suppkey").cast("long").as("supp_max"))
          .withColumn("file_id", col("file_id").cast("long"))
          .orderBy("file_id")
      },
      s"""WITH m AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms,
                           count(*) AS n FROM lineitem),
         h0 AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, n,
                 ((l_partkey - 1) * 16) // mp AS hx0,
                 ((l_suppkey - 1) * 16) // ms AS hy0,
                 0 AS hd0
               FROM lineitem, m),
         ${hilbertSteps.zipWithIndex.map { case (cols, i) =>
           s"h${i + 1} AS (SELECT l_orderkey, l_linenumber, l_partkey, " +
           s"l_suppkey, n,\n" +
           cols.map { case (name, sql) => s"           $sql AS $name" }
             .mkString(",\n") + s"\n           FROM h$i)"
         }.mkString(",\n         ")},
         r AS (SELECT *,
                 (row_number() OVER (ORDER BY hd4, l_orderkey, l_linenumber,
                                     l_partkey, l_suppkey) - 1)
                   // ((n + 63) // 64) AS file_id
               FROM h4)
         SELECT file_id::BIGINT AS file_id, count(*)::BIGINT AS n_rows,
           min(l_partkey)::BIGINT AS part_min, max(l_partkey)::BIGINT AS part_max,
           min(l_suppkey)::BIGINT AS supp_min, max(l_suppkey)::BIGINT AS supp_max
         FROM r GROUP BY file_id ORDER BY file_id"""),

    // Label propagation communities (Raghavan et al. 2007) over the
    // part↔supplier bipartite graph (the q_graph_pagerank encoding:
    // part → 2k, supplier → 2k+1). Four SYNCHRONOUS rounds: every node
    // adopts its neighbors' most frequent label, ties to the SMALLEST
    // label id — fully deterministic (exact counts, integer labels),
    // unlike the canonical randomized-order variant. Scale shape per
    // round: one edge join keyed on src, one map-side-combined
    // groupBy(node, label), one min_by argmax per node — state is
    // O(nodes) labels, edges are computed once behind a lazy
    // checkpoint, each round's plan is truncated the same way
    // (the PageRank discipline).
    QueryDef("q_graph_labelprop",
      (s, d) => {
        val pairs = GraphOps.bipartitePairs(s, d)
        // repartition(src) before the checkpoint: the per-round label
        // join reuses the edge layout (the q_graph_pagerank r11 note).
        // EAGER checkpoints since round 13: the lazy variant does NOT
        // reliably truncate lineage under AQE — each round re-executed
        // its predecessors, turning 4 rounds into ~rounds²·edges work
        // (measured on the labelprop loop at 30×: lazy 281 s, eager
        // 140 s, none 115 s; at 100× the lazy shape profiled exp 1.58
        // — the round-13 third-decade finding, SCALING.md §round-13).
        // RoundState.of: eager localCheckpoint by default, DISK_ONLY
        // persist under spark.graft.graph.roundState=disk (round-15:
        // per-round state off unified memory for the >RAM regime)
        // r18 audit: the repartition(src) layout does NOT survive the
        // checkpoint under Spark 4 + AQE (LogicalRDD records
        // UnknownPartitioning; round-body plans in plans/r18), so each
        // round's join re-exchanges the edge frame. The partitioning-
        // preserving persist alternative measured WORSE (see
        // RoundState.edge scaladoc); the checkpoint shape stays.
        val edges = graft.ops.RoundState.of(
          pairs.select(col("p").as("src"), col("q").as("dst"))
            .union(pairs.select(col("q").as("src"), col("p").as("dst")))
            .repartition(col("src")))
        var labels = graft.ops.RoundState.of(
          edges.select(col("src").as("node")).distinct()
            .withColumn("label", col("node")))
        for (_ <- 1 to 4) {
          // SHUFFLE_HASH (r18, guide §3.1): the checkpointed label frame
          // carries its origin stats, so the planner BROADCAST it every
          // round — a per-round driver collect + broadcast-relation
          // build of O(V) state (and at 100 TB, V grows with the corpus:
          // a mandatory broadcast of per-round state is the wrong scale
          // posture). The hint swaps it for one |V|-row exchange + 32
          // parallel per-partition hash builds; the O(E) edge side stays
          // zero-shuffle on its repartition(src) checkpoint layout
          // either way. Measured −23% (single-query bench med 4.68 → 3.60/3.65 in
          // two windows, controls flat); plan diff in plans/r18.
          // Exact-integer aggregates downstream are order-insensitive.
          val nextLabels = edges
            .join(labels.withColumnRenamed("node", "src")
              .hint("SHUFFLE_HASH"), "src")
            .groupBy(col("dst").as("node"), col("label"))
            .agg(count(lit(1)).as("c"))
            .groupBy("node")
            // min over (−count, label): most frequent label, tie to
            // the smallest id — one combinable aggregate, no window
            .agg(min_by(col("label"),
              struct((-col("c")).as("nc"), col("label"))).as("label"))
          // next(…, labels): free the superseded round once the new one
          // is materialized (disk mode accumulation — r15 ADVICE)
          labels = graft.ops.RoundState.next(nextLabels, labels)
        }
        labels.orderBy("node")
      },
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS q
         |  FROM lineitem),
         |edges AS (
         |  SELECT p AS src, q AS dst FROM pairs
         |  UNION ALL SELECT q AS src, p AS dst FROM pairs),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
         |${(1 to 4).map(i =>
             s"""c$i AS (
                |  SELECT e.dst AS node, l.label, count(*) AS c
                |  FROM edges e JOIN l${i - 1} l ON e.src = l.node
                |  GROUP BY 1, 2),
                |l$i AS (
                |  SELECT node, label FROM (
                |    SELECT node, label, row_number() OVER (
                |      PARTITION BY node ORDER BY c DESC, label ASC) AS rn
                |    FROM c$i) WHERE rn = 1)""".stripMargin)
            .mkString(",\n")}
         |SELECT node, label FROM l4 ORDER BY node""".stripMargin),

    // Suffix-LCP repeat detection — the scalable core of suffix-array
    // exact-substring dedup (Lee et al., ACL'22): sample suffixes
    // (stride 4 over the first 256 chars, 64-char keys), a
    // PREFIX-SHARDED sort (4-char SEMANTIC shard key — suffix-array
    // sharding made literal — executed since round 14 as 12-char fine
    // shards chained through per-shard tails, so no hot prefix ever
    // sorts in one task), then each suffix's longest common prefix with
    // its in-shard lexicographic PREDECESSOR via a char-scan fold.
    // Cross-document LCP ≥ 32 marks a verbatim repeat ≥ 32 chars; a
    // shard-boundary pair shares < 4 chars so the shard cut is
    // loss-free at the 32 bar. The sort carries only capped keys; the
    // adjacent-only LCP is the standard approximation (equal runs sort
    // adjacent, so any repeated 64-gram IS caught up to stride
    // alignment). The first-mismatch fold freezes `acc` once
    // contiguity breaks (acc advances to i only while acc = i−1) AND
    // at the real end of the suffix (substring past the end yields ''
    // on both sides — without the <> '' guard two equal short suffixes
    // would report lcp=64 instead of their true length).
    QueryDef("q_dedup_suffixlcp",
      (s, d) => {
        val sufs = Tables.documentsBalanced(s, d)
          .select(col("doc_id"), substring(col("text"), 1, 256).as("txt"))
          .filter(length(col("txt")) >= 32)
          .select(col("doc_id"),
            explode(expr("sequence(1, length(txt) - 31, 4)")).as("pos"),
            col("txt"))
          .select(col("doc_id"), col("pos"),
            expr("substring(txt, pos, 64)").as("sfx"))
        // PREFIX-SHARDED suffix order, not one global window — and since
        // round 14, FINE shards with tail chaining. The semantic
        // boundary stays the 4-char prefix: a pair adjacent across a
        // pfx4 boundary shares < 4 chars, can never reach the 32-char
        // repeat bar, so LCP 0 there is loss-free and the oracle applies
        // the IDENTICAL pfx4 partitioning. But a window PARTITIONED on
        // pfx4 puts each prefix group in ONE task, and hot English
        // prefixes grow linearly with the corpus — the residual
        // third-decade superlinearity (exp 1.23 even at shuffle width
        // 2048, SCALING.md §round-13: width spreads total volume but a
        // hot shard is still one task). Fix: partition the window by the
        // 12-char prefix (a REFINEMENT of pfx4, so in-shard predecessors
        // are unchanged), then restore the exact pfx4-window semantics
        // for each fine shard's head row by chaining it to the
        // lexicographic TAIL of the previous fine shard within the same
        // pfx4 group — the ops/Sharded offset discipline applied to lag:
        // per-shard partitioned windows over the fact frame plus one
        // |shards|-row ordered frame (per-shard max(struct), lagged
        // within pfx4). Output is byte-identical to the pfx4 window;
        // the oracle text is untouched. The chain join keys on the fine
        // shard, which the window already hash-partitioned and sorted —
        // no extra exchange or sort on the fact side.
        val withKeys = sufs
          .withColumn("pfx4", substring(col("sfx"), 1, 4))
          .withColumn("shard", substring(col("sfx"), 1, 12))
        val wIn = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("sfx", "doc_id", "pos")
        val wShard = org.apache.spark.sql.expressions.Window
          .partitionBy("pfx4").orderBy("shard")
        // |shards| rows: each fine shard's last row in (sfx, doc_id,
        // pos) order (struct max = the same total order), lagged to the
        // shard that FOLLOWS it inside the pfx4 group; the first shard
        // of a group keeps NULL — exactly the old pfx4 window head.
        val prevTails = withKeys
          .groupBy("pfx4", "shard")
          .agg(max(struct(col("sfx"), col("doc_id"), col("pos"))).as("t"))
          .withColumn("pt", lag("t", 1).over(wShard))
          .select(col("shard").as("jshard"),
            col("pt.sfx").as("t_sfx"), col("pt.doc_id").as("t_doc"))
        withKeys
          .withColumn("rn", row_number().over(wIn))
          .withColumn("prev_sfx", lag("sfx", 1).over(wIn))
          .withColumn("prev_doc", lag("doc_id", 1).over(wIn))
          .join(prevTails, col("shard") === col("jshard"), "left")
          .withColumn("prev_sfx",
            when(col("rn") === 1, col("t_sfx")).otherwise(col("prev_sfx")))
          .withColumn("prev_doc",
            when(col("rn") === 1, col("t_doc")).otherwise(col("prev_doc")))
          .withColumn("lcp", expr(
            """CASE WHEN prev_doc IS NULL OR prev_doc = doc_id THEN 0
              |ELSE aggregate(sequence(1, 64), 0, (acc, i) ->
              |  CASE WHEN acc = i - 1
              |         AND substring(sfx, i, 1) <> ''
              |         AND substring(sfx, i, 1) = substring(prev_sfx, i, 1)
              |       THEN i ELSE acc END) END""".stripMargin))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_suffixes"),
            max("lcp").cast("long").as("max_lcp"),
            sum(when(col("lcp") >= 32, 1L).otherwise(0L)).as("n_rep32"))
          .orderBy("doc_id")
      },
      """WITH d0 AS (
        |  SELECT doc_id, substr(text, 1, 256) AS txt FROM documents
        |  ),
        |d1 AS (SELECT doc_id, txt FROM d0 WHERE length(txt) >= 32),
        |sufs AS (
        |  SELECT doc_id, pos, substr(txt, pos, 64) AS sfx FROM (
        |    SELECT doc_id, txt,
        |      unnest(range(1, length(txt) - 31 + 1, 4)) AS pos
        |    FROM d1)),
        |lagd AS (
        |  SELECT doc_id, sfx,
        |    lag(sfx) OVER (PARTITION BY substr(sfx, 1, 4)
        |      ORDER BY sfx, doc_id, pos) AS prev_sfx,
        |    lag(doc_id) OVER (PARTITION BY substr(sfx, 1, 4)
        |      ORDER BY sfx, doc_id, pos) AS prev_doc
        |  FROM sufs),
        |lcps AS (
        |  SELECT doc_id,
        |    CASE WHEN prev_doc IS NULL OR prev_doc = doc_id THEN 0
        |    ELSE list_reduce(list_prepend(0::BIGINT, range(1, 65)),
        |      (acc, i) -> CASE WHEN acc = i - 1
        |          AND substr(sfx, i, 1) <> ''
        |          AND substr(sfx, i, 1) = substr(prev_sfx, i, 1)
        |        THEN i ELSE acc END) END AS lcp
        |  FROM lagd)
        |SELECT doc_id, count(*) AS n_suffixes, max(lcp)::BIGINT AS max_lcp,
        |  sum(CASE WHEN lcp >= 32 THEN 1 ELSE 0 END)::BIGINT AS n_rep32
        |FROM lcps GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Count-Min sketch (Cormode & Muthukrishnan 2005) over corpus
    // words, calibrated against exact counts: 4 md5-seeded hash rows ×
    // 256 buckets, point-estimate = MIN over the 4 row counters —
    // always an OVERestimate, off by colliding mass ≤ εN w.h.p. The
    // sketch build is 4 map-side-combined groupBys worth of (row,
    // bucket) counters — 1024 cells TOTAL regardless of corpus size,
    // the streaming-aggregation primitive for frequency queries at
    // 100 TB (mergeable across partitions/streams by cell-wise add).
    // Output: the top-20 exact words with exact count, estimate, and
    // overcount — the accuracy contract (est ≥ exact, bounded error)
    // a sketch consumer relies on; both engines build the identical
    // integer sketch so the compare is hash-exact.
    QueryDef("q_agg_countmin",
      (s, d) => {
        // reduce-to-vocab FIRST (Heaps-sublinear), then hash each
        // DISTINCT word once and add its count into the cells — the
        // naive per-occurrence form computed 4 md5 per token (~8M at
        // sf0.1) where this computes 4 per vocab entry (~100k)
        val wordCounts = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy("word").agg(count(lit(1)).as("exact_cnt"))
          .localCheckpoint(eager = false)
        val cells = wordCounts
          .select(col("exact_cnt"), explode(expr(
            """transform(sequence(0, 3), r -> named_struct(
              |  'r', CAST(r AS BIGINT),
              |  'b', CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', word)), 1, 15), 16, 10) AS BIGINT) % 256))"""
              .stripMargin)).as("c"))
          .groupBy(col("c.r").as("r"), col("c.b").as("b"))
          .agg(sum(col("exact_cnt")).as("cnt"))
        val exact = wordCounts
          .orderBy(col("exact_cnt").desc, col("word").asc).limit(20)
        val probes = exact.select(col("word"), col("exact_cnt"),
          explode(expr(
            """transform(sequence(0, 3), r -> named_struct(
              |  'r', CAST(r AS BIGINT),
              |  'b', CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', word)), 1, 15), 16, 10) AS BIGINT) % 256))"""
              .stripMargin)).as("c"))
          .select(col("word"), col("exact_cnt"),
            col("c.r").as("r"), col("c.b").as("b"))
        probes.join(broadcast(cells), Seq("r", "b"))
          .groupBy("word", "exact_cnt")
          .agg(min("cnt").as("cm_estimate"))
          .select(col("word"), col("exact_cnt"), col("cm_estimate"),
            (col("cm_estimate") - col("exact_cnt")).as("overcount"))
          .orderBy(col("exact_cnt").desc, col("word").asc)
      },
      """WITH words AS (
        |  SELECT word FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) > 0),
        |wc AS (SELECT word, count(*) AS exact_cnt FROM words GROUP BY 1),
        |cells AS (
        |  SELECT r, ('0x' || substring(md5(r::VARCHAR || ':' || word), 1, 15))::BIGINT % 256 AS b,
        |    sum(exact_cnt)::BIGINT AS cnt
        |  FROM wc, (SELECT unnest(range(4)) AS r)
        |  GROUP BY 1, 2),
        |exact AS (
        |  SELECT word, exact_cnt FROM wc
        |  ORDER BY exact_cnt DESC, word ASC LIMIT 20),
        |probes AS (
        |  SELECT word, exact_cnt, r,
        |    ('0x' || substring(md5(r::VARCHAR || ':' || word), 1, 15))::BIGINT % 256 AS b
        |  FROM exact, (SELECT unnest(range(4)) AS r))
        |SELECT p.word, p.exact_cnt::BIGINT AS exact_cnt,
        |  min(c.cnt)::BIGINT AS cm_estimate,
        |  (min(c.cnt) - p.exact_cnt)::BIGINT AS overcount
        |FROM probes p JOIN cells c ON p.r = c.r AND p.b = c.b
        |GROUP BY p.word, p.exact_cnt
        |ORDER BY exact_cnt DESC, word ASC""".stripMargin))
}
