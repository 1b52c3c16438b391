package graft.operators

import org.apache.spark.sql.DataFrame

/** Superstep materialization policy for the iterative (Pregel-shaped)
  * operators: the fixed-horizon [[GraphOps]] loops (PageRank, HITS, label
  * propagation, the Louvain sweep) run through [[iterate]]; the
  * data-dependent loops (BFS, k-core, the BPE trainer, star-contraction
  * connected components) call [[step]] themselves.
  *
  * Fault-tolerance contract: `localCheckpoint` (the default) truncates
  * lineage by caching blocks ON THE EXECUTORS — O(1) analysis cost per
  * superstep and no distributed-FS write, but the blocks die with their
  * executor, and on a 1000-executor cluster losing one node mid-iteration
  * fails the whole job (there is no lineage left to recompute from).
  * `reliableEvery = k` upgrades every k-th superstep to a RELIABLE
  * `checkpoint()` into `spark.sparkContext`'s checkpoint dir (which the
  * caller must have set via `setCheckpointDir`): a lost executor then
  * replays at most k−1 supersteps from the last durable snapshot instead
  * of failing the run. Local mode has nothing to gain (one JVM — if it
  * dies, everything dies), so the fast default stays local.
  *
  * Rule of thumb at cluster scale: `reliableEvery ≈ 5` for runs past ~10
  * supersteps; the extra cost is one DFS write of the node-sized state
  * every k steps, negligible next to the edge-shaped shuffles. */
object Ckpt {

  /** Materialize `df` (eagerly, one job — the honest Pregel cost):
    * reliable `checkpoint()` when `reliableEvery > 0`, a checkpoint dir
    * is set, and `step` is a multiple of `reliableEvery`; otherwise
    * `localCheckpoint()`. Steps count from 1.
    *
    * `eager = false` defers materialization to the step's FIRST consumer
    * (the checkpoint blocks are written as a side effect of that job) —
    * right when every superstep is immediately followed by an action
    * that reads it anyway (the BPE trainer's top-pair collect), halving
    * the per-step job count. The caller must not unpersist the PREVIOUS
    * generation until the deferred step has actually materialized. */
  def step(df: DataFrame, step: Int, reliableEvery: Int,
           eager: Boolean = true): DataFrame = {
    val reliable = reliableEvery > 0 && step % reliableEvery == 0 &&
      df.sparkSession.sparkContext.getCheckpointDir.isDefined
    if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
  }

  /** The fixed-horizon superstep loop: `init` is checkpointed lazily,
    * then each round `i` of `rounds` replaces the state `s` with
    * `step(f(s, i), i, reliableEvery, eager = false)`. Each generation's
    * blocks are written by its first consumer (the next round's broadcast
    * build or shuffle, or the caller's final action), so no round runs a
    * checkpoint-only job; nothing is unpersisted, so the deferral is safe.
    * `rounds` is also the checkpoint index: a loop that continues an
    * earlier one passes `offset + 1 to offset + n`. */
  def iterate(init: DataFrame, rounds: Range, reliableEvery: Int)
             (f: (DataFrame, Int) => DataFrame): DataFrame =
    rounds.foldLeft(init.localCheckpoint(eager = false)) { (s, i) =>
      step(f(s, i), i, reliableEvery, eager = false)
    }
}
