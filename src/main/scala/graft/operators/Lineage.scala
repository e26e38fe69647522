package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * The one lineage-cut policy. Iterative operators (connected components,
 * PageRank, HITS, label propagation, k-hop, walks, ego-nets, BPE) cut
 * lineage every round so the plan stays O(1) per round, and
 * multi-consumer frames are cut once so their consumers don't replay the
 * upstream chain. Every such cut in the engine goes through [[cut]].
 *
 *  - Local (default): `spark.graft.checkpointDir` unset — the cut is
 *    `localCheckpoint(eager)`. Its blocks live on executors, so losing
 *    one mid-loop fails the job (Spark cannot recompute a local
 *    checkpoint); fine at local[N].
 *  - Durable: `spark.graft.checkpointDir` set — rounds with
 *    `round % DurableEvery == 0` are written through Parquet under a
 *    fresh `<dir>/_lineage/<uuid>` and read back, so an executor loss
 *    costs at most `DurableEvery` rounds of recompute; other rounds stay
 *    local. One-shot cuts pass round 0 and are always durable.
 *
 * Local cut blocks are freed by Spark's context cleaner once the cut frame
 * and every frame derived from it are unreachable; hold the frame to keep
 * them. Durable round files are not deleted (a result may still read them
 * lazily, e.g. the walk corpus unions every step), and a durable cut
 * drops the frame's output partitioning.
 */
object Lineage {

  /** Round cadence of durable cuts. */
  val DurableEvery = 5

  /**
   * @param round loop round of this cut (0 for one-shot cuts)
   * @param eager materialize now rather than under the next action
   */
  def cut(df: DataFrame, round: Int = 0, eager: Boolean = false): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) if round % DurableEvery == 0 =>
        val p = s"$dir/_lineage/${java.util.UUID.randomUUID()}"
        df.write.parquet(p)
        df.sparkSession.read.parquet(p)
      case _ => df.localCheckpoint(eager)
    }
}
