package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Per-round state materialization for iterative graph loops
  * (pagerank / labelprop rounds and their edge substrates).
  *
  * Default (`memory`): eager localCheckpoint — the round-13 rule
  * (lazy checkpoints do not truncate lineage under AQE; each round
  * re-executed its predecessors, SCALING.md §round-13 finding 1).
  * Blocks live MEMORY_AND_DISK-deserialized in the executor block
  * manager, which is what hits the single-box ~64 GB residency wall
  * at 60×–100× corpus factors (SCALING.md §round-14: rep-to-rep
  * spreads up to 3.2× once inputs + round blocks approach half of
  * box RAM and full GCs dominate).
  *
  * `spark.graft.graph.roundState=disk`: the round instead persists
  * StorageLevel.DISK_ONLY and materializes immediately. The
  * CacheManager substitutes the materialized relation into every
  * later round's plan (the same lineage-truncation effect — an
  * InMemoryRelation plans as a leaf and PRESERVES the child's output
  * partitioning, so the repartition(src)-before-checkpoint zero-
  * shuffle edge reuse still holds), but the blocks are serialized to
  * local disk and never occupy unified storage memory — per-round
  * state stops competing with shuffle/execution memory, which is the
  * disk-backed regime a >RAM single box (or a disk-heavy cluster
  * node) needs. Measured in SCALING.md §round-15 at 60×/100×.
  *
  * Content is identical either way (materialization strategy only);
  * Round15Spec2 pins disk == memory on a real query.
  *
  * Lifecycle contract (r15 ADVICE): in disk mode every [[of]] call
  * registers a persisted relation with the session CacheManager that
  * outlives the query unless someone frees it. Iterative loops free
  * their own SUPERSEDED rounds via [[next]]; the frames that survive
  * the loop (edge substrates, the final round) are the query's result
  * lineage and stay persisted — the session owner releases them
  * (Bench and the CorpusScale harness call `Bench.releaseState`
  * between queries, as Round15Spec2 does between runs; any other
  * long-lived session must do the same).
  */
object RoundState {

  def of(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("spark.graft.graph.roundState", "memory") match {
      case "disk" =>
        val p = df.persist(StorageLevel.DISK_ONLY)
        p.count() // materialize now — later rounds must plan against the
                  // cached relation, not race to recompute it
        p
      case _ => df.localCheckpoint(eager = true)
    }

  /** EDGE-substrate materialization (round 17): [[of]] semantics by
    * default, but `spark.graft.graph.edgeState=disk` forces DISK_ONLY
    * for THIS frame only, independent of the per-round state mode.
    * The isolation knob the r16 verdict asked for: in the delta loops
    * (components / semi-sync labelprop) the per-round Δ frames SHRINK —
    * they are not the residency pressure at 60× corpus factors; the
    * O(E) edge substrate, checkpointed once and probed every round, is
    * the candidate. This lets the edge frame alone move off unified
    * storage memory while deltas stay in-memory checkpoints (measured
    * in SCALING.md §round-17). Content identical either way; DISK_ONLY
    * preserves the repartition(src) layout exactly like disk-mode
    * [[of]]. Same lifecycle contract as disk-mode [[of]]: the persist
    * outlives the query until the session owner's clearCache().
    *
    * r18 audit note: Spark 4's localCheckpoint LogicalRDD records
    * UnknownPartitioning under AQE, so in MEMORY mode the
    * repartition-before-checkpoint layout is NOT seen by later rounds
    * (each round's join re-exchanges the edge frame — round-body plans
    * in plans/r18). A partitioning-preserving MEMORY_AND_DISK persist
    * was implemented and MEASURED WORSE across all five loop queries
    * (e.g. pagerank 2.33 → 3.33 s, labelprop_delta 3.31 → 6.67 s):
    * the per-round InMemoryTableScan columnar→row decode costs more
    * than the one narrow exchange it saves. The checkpoint stays. */
  def edge(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("spark.graft.graph.edgeState", "") match {
      case "disk" =>
        val p = df.persist(StorageLevel.DISK_ONLY)
        p.count()
        p
      case _ => of(df)
    }

  /** Materialize like [[of]] but rebuild the result on a CLEAN leaf —
    * `createDataFrame(checkpoint.rdd, schema)`, a LogicalRDD with NO
    * origin constraints. Two round-16 findings make this necessary for
    * round state that later lands under a UNION (the delta-propagation
    * loops fold base ∪ Δ₁ … Δᵢ every round):
    *
    *   - plain localCheckpoint: LogicalRDD's originConstraints can
    *     carry a constraint referencing an attribute PRUNED from the
    *     output (observed when the checkpointed plan ends in a filter
    *     comparing columns of two join sides, e.g. `new.label <
    *     old.label`), and Union.rewriteConstraints then throws
    *     key-not-found at planning time (q_graph_components round 2);
    *   - persist() instead: an InMemoryRelation KEEPS its child plan,
    *     and a loop whose round-i plan references round i−1 twice
    *     (current-labels fold + delta diff) nests those child plans
    *     EXPONENTIALLY — by round 18 the logical tree has ~2^18 nodes
    *     and the session spends minutes in generateTreeString before a
    *     single task runs (jstack'd on the q_graph_components profile).
    *
    * The rebuilt frame reads the checkpointed blocks through a
    * Row-conversion pass per use — fine for the ≤N-row delta frames
    * this exists for; use [[of]] for wide/heavy state that never lands
    * under a union. */
  def pinned(df: DataFrame): DataFrame = {
    val ck = of(df)
    df.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Materialize the next round and free the round it supersedes.
    * Safe order: `df` (built FROM `prev`) is fully materialized before
    * `prev`'s blocks go — the new relation never recomputes through
    * the freed one unless its own disk blocks are lost, in which case
    * lineage recovery is correct, just cold. Memory-mode checkpoints
    * are plain RDD blocks the context cleaner / clearCache reclaims,
    * so only disk-mode persists need the explicit unpersist. */
  def next(df: DataFrame, prev: DataFrame): DataFrame = {
    val n = of(df)
    if (df.sparkSession.conf.get("spark.graft.graph.roundState", "memory") == "disk")
      prev.unpersist(blocking = false)
    n
  }
}
