package graft.ops

import org.apache.spark.sql.DataFrame

/** The round driver of the iterative kernels: the ONE owner of round
  * state's lifetime. A kernel hands it an initial frame and a `step`
  * (previous state, 1-based round number) ⇒ next state; the driver
  *   - localCheckpoints every `every`-th round and always the last, so
  *     lineage depth stays bounded at `every` rounds and the frame it
  *     returns is a checkpoint whose lineage never reaches the caller's
  *     inputs (releasing them cannot break a later action on the result —
  *     without it, re-running a kernel's result fails with
  *     CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND);
  *   - releases each checkpoint it made once a later one supersedes it,
  *     so resident storage stays at one state generation.
  * Every checkpoint it makes is recorded in the caller's
  * [[Checkpoints.owned]] scope, which owns the returned one with the
  * caller's own frames (edges, nodes, the initial state): it releases
  * what the kernel's result does not read, and all of them when
  * [[fixpoint]] throws. The cadence `every` is the one per-kernel tuning
  * knob: it trades one eager checkpoint job per `every` rounds against
  * plans that nest `every` rounds of lineage.
  */
private[ops] object Rounds {

  /** Exactly `rounds` rounds. */
  def run(init: DataFrame, rounds: Int, every: Int = 1)
         (step: (DataFrame, Int) => DataFrame): DataFrame =
    loop(init, rounds, every, step, _ => false)._1

  /** Rounds, each checkpointed, until `probe` of the checkpoint returns
    * the value it returned at the previous checkpoint — or `initProbe`,
    * the value of the initial state, for the first one. Throws
    * IllegalStateException naming `kernel` when `maxIters` rounds do not
    * reach that fixpoint: a safety fence, never a partial result.
    */
  def fixpoint[P](kernel: String, init: DataFrame, maxIters: Int,
                  initProbe: Option[P] = None)
                 (probe: DataFrame => P)(step: DataFrame => DataFrame): DataFrame = {
    var prev = initProbe
    val (out, converged) = loop(init, maxIters, 1, (s, _) => step(s), { ck =>
      val p = probe(ck)
      val same = prev.contains(p)
      prev = Some(p)
      same
    })
    if (!converged)
      throw new IllegalStateException(s"$kernel did not converge within $maxIters rounds")
    out
  }

  private def loop(init: DataFrame, rounds: Int, every: Int,
                   step: (DataFrame, Int) => DataFrame,
                   done: DataFrame => Boolean): (DataFrame, Boolean) = {
    require(rounds >= 1 && every >= 1, s"need rounds >= 1 and every >= 1, got $rounds/$every")
    var state = init
    var ckpt: Option[DataFrame] = None
    var stop = false
    var i = 0
    while (!stop && i < rounds) {
      i += 1
      val next = step(state, i)
      if (i % every == 0 || i == rounds) {
        val ck = Checkpoints(next)
        ckpt.foreach(Checkpoints.release)
        ckpt = Some(ck)
        state = ck
        stop = done(ck)
      } else state = next
    }
    (state, stop)
  }
}
