package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic random-walk corpus generation — the DeepWalk / node2vec
  * input primitive (Perozzi et al. 2014; Grover & Leskovec 2016): short
  * walks sampled from each seed vertex become the "sentences" a
  * skip-gram embedding trains on. The reference's traversal surface stops
  * at bounded k-hop expansion (mongraph.py:252-274 `_explode_node`); walk
  * sampling is the graph-ML extension of the same undirected adjacency
  * (mongraph.py:236-241 traverses both endpoint directions).
  *
  * Determinism: no `rand()`. The next hop from a frontier is the
  * neighbor minimizing a replayable affine priority
  * `(A·((walk·131 + step·17 + cand) mod P) + B) mod P` — the
  * [[graft.ops.llm.Shuffle]] Knuth–Lewis constants, integer-exact in both
  * engines, tie-broken by candidate id. A re-run (or a resumed job)
  * regenerates the identical corpus, the property a training pipeline
  * needs from its data order (same discipline as `shuffle_deterministic`).
  *
  * Scale shape: each step is ONE join of the frontier against the
  * undirected edge relation keyed on the current node, then a
  * map-side-combinable `min(struct(priority, cand))` per walk — no
  * posting lists, no windows over edges. The frontier has one row per
  * walk; production walk corpora run W walks per vertex, so the frontier
  * is |V|·W rows shuffled on the node key each step (or broadcast, when
  * the seed set is small as here). State between steps is the frontier
  * alone — O(walks), never O(edges).
  */
object RandomWalks {

  import graft.ops.llm.Shuffle.{A, B, P}

  /** Priority of candidate `cand` for (walk, step): affine fold of the
    * triple, exact BIGINT arithmetic (inner value < 131·P + misc, the
    * multiply by A stays far inside 2⁶³).
    */
  private def priority(walk: org.apache.spark.sql.Column, step: Int,
      cand: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (lit(A) * (((walk % P) * 131L + lit(step * 17L) + (cand % P)) % P) + B) % P

  /** `steps`-step deterministic walks from `seeds` (one column `walk_id`,
    * doubling as the start node) over undirected edges `und(a, b)`.
    * Returns `(walk_id, step, node)` — step 0 is the seed itself.
    */
  def walks(seeds: DataFrame, und: DataFrame, steps: Int): DataFrame =
    walksCore(seeds, und, None, steps)

  /** Walks over the MATERIALIZED bucket-partitioned adjacency
    * ([[graft.model.DerivedGraph.undAdjacency]]) — same rows as
    * [[walks]] on the equivalent live view (spec-pinned), but each step's
    * scan partition-prunes to the ≤ |frontier| bucket directories the
    * walkers stand in: at sf100 under storage policy "none" the live form
    * re-decoded the whole fact parquet twice per step (48 s min for 32
    * walks); pruned steps read a handful of files. The same span cutoff
    * as Traverse.kHopIdsAdj keeps wide frontiers (W·|V| production walks)
    * on the policy-persisted full view.
    */
  def walksAdj(seeds: DataFrame, adj: graft.model.DerivedGraph.Adj,
      steps: Int): DataFrame =
    walksCore(seeds, adj.full,
      Some((adj.byBucket, adj.buckets, Traverse.spanCutoff(adj))), steps)

  /** One walk step's candidate frame: the frontier joined against the
    * (possibly bucket-pruned) edge relation, with the replayable hop
    * priority attached. Extracted so the per-step plan claims — the
    * frontier (one row per walk) is the small side by construction, so it
    * BROADCASTS and the step is one scan of the edge relation with NO
    * edge shuffle (unhinted, the agg-produced frontier has no size
    * estimate and Catalyst sort-merge-joined 2|E| rows per step: measured
    * 5.6 s -> 0.3 s aged at sf0.1 for 32 walks) — stay introspectable
    * after r17 made the per-step frontier an eagerly-checkpointed leaf
    * (the step joins no longer appear in the FINAL walk plan;
    * PlanShapeR10Spec pins them here instead). A production |V|·W
    * frontier past `broadcastLimit` DROPS the hint and the step shuffles
    * both sides on the node key instead — that gate is real code since
    * r18 (VERDICT r17 #5: the scaladoc used to promise a path that did
    * not exist; the hint was unconditional), measured at sf10 with a
    * 3.6M-walk frontier under a forced-low limit — SortMergeJoin both
    * sides exchanged, shuffle linear at 1.78 GB/step, rows exact
    * (BENCHNOTES r19 walks over-limit entry) — and plan-pinned in
    * PlanShapeR10Spec. Spans past the cutoff fall back to the full view
    * exactly like Traverse.kHopCore; a pruned step collects its bucket ids
    * into a literal filter, as there.
    */
  private[graft] def stepCandidates(frontier: DataFrame, und: DataFrame,
      byBucket: Option[(DataFrame, Int, Int)], walkCount: Long,
      step: Int, broadcastLimit: Long = Traverse.broadcastRowLimit): DataFrame = {
    // one gate for every branch: a frontier past the session's
    // broadcast-collect bound must never carry the hint, pruned or not
    val hintFrontier: DataFrame => DataFrame =
      if (walkCount <= broadcastLimit) broadcast(_) else identity
    val stepPruned = byBucket match {
      // `< nb` as in Traverse.kHopCore: never "prune" a full span
      case Some((raw, nb, cutoff))
          if Traverse.expectedSpan(walkCount, nb) <= cutoff &&
            Traverse.expectedSpan(walkCount, nb) < nb => Some((raw, nb))
      case _ => None
    }
    val joined = stepPruned match {
      case Some((raw, nb)) =>
        val bks = frontier
          .select(pmod(col("node"), lit(nb.toLong)).cast("int").as("bk"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val stepAdj = raw.filter(col("bk").isin(bks.map(Integer.valueOf): _*))
        hintFrontier(frontier).join(stepAdj, frontier("node") === stepAdj("a"))
      case None =>
        hintFrontier(frontier).join(und, frontier("node") === und("a"))
    }
    joined
      .select(col("walk_id"), col("b").as("cand"))
      .withColumn("pri", priority(col("walk_id"), step, col("cand")))
  }

  private def walksCore(seeds: DataFrame, und: DataFrame,
      byBucket: Option[(DataFrame, Int, Int)], steps: Int): DataFrame = {
    var frontier = seeds.select(col("walk_id"), col("walk_id").as("node"))
    var out = frontier.withColumn("step", lit(0L))
    // the walker count bounds every step's frontier (one row per walk,
    // walks only ever die at sinks) — ONE count up front drives every
    // step's pruned-vs-full choice via the span estimate, so the choice
    // itself runs no per-step job.
    val walkCount = seeds.count()
    // resolved once per run, not per step (one env/conf read)
    val broadcastLimit = Traverse.effectiveBroadcastLimit(seeds.sparkSession)
    for (step <- 1 to steps) {
      val cand = stepCandidates(frontier, und, byBucket, walkCount, step,
        broadcastLimit)
      // checkpoint each frontier: without it, the final union's branch
      // for step k re-executes every join 1..k (edges scanned 1+2+…+steps
      // times). It is the EAGER localCheckpoint, not a lazy persist(), so
      // no job run before the main action re-executes steps 1..k−1
      // (BENCHNOTES r17 lazy DPP entry); its fill is one row per walk.
      frontier = cand.groupBy("walk_id")
        .agg(min(struct(col("pri"), col("cand"))).as("m"))
        .select(col("walk_id"), col("m.cand").as("node"))
        .localCheckpoint()
      out = out.unionByName(frontier.withColumn("step", lit(step.toLong)))
    }
    out.select("walk_id", "step", "node")
  }
}
