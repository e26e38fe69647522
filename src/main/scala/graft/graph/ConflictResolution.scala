package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Temporal conflict resolution over a provenance-annotated triple set —
 * the belief-revision step that turns raw observations into a consistent
 * KG: for predicates declared (or [[RuleMining.functionality]]-inferred)
 * functional, keep ONE object per subject by most-recent-wins, breaking
 * ties by observation weight then object value; non-functional predicates
 * pass through untouched. Closes the loop the reference leaves open — its
 * schema discovery reports property multiplicities
 * (cs562_sdpg `Clustering.scala:89-134`) but never reconciles them.
 *
 * Scale shape: one (subj, pred)-keyed PARTIAL-AGG exchange on the
 * functional slice only — the winner is an arg-min `min(struct(...))`
 * aggregate (sign-flipped recency/weight keys, object value last), so
 * map-side combine reduces every group to one candidate row before the
 * shuffle, strictly cheaper than the window formulation; the pass-through
 * slice is a left-anti join against the bounded predicate list, a pure
 * broadcast filter. No driver state.
 */
object ConflictResolution {

  /**
   * @param provenance columns `subj`, `pred`, `obj`, `n_observations`,
   *                   `last_turn` (the [[graft.SparkEntry]] kg15 shape:
   *                   one row per distinct observed triple).
   * @param functionalPreds one-column (`pred`) DataFrame naming the
   *                   predicates to resolve — bounded by the predicate
   *                   vocabulary, broadcastable by construction.
   * @return (subj, pred, obj, n_dropped) — the surviving assertion per
   *         (subj, functional pred) with the count of discarded
   *         alternatives; non-functional rows carried with n_dropped = 0.
   */
  def resolveMostRecent(provenance: DataFrame,
                        functionalPreds: DataFrame): DataFrame = {
    // lineage cut: prov feeds both the functional (semi) and pass-through
    // (anti) slices — without it the provenance aggregation's upstream
    // chain replays once per slice (kg19 measured 2 full chains)
    val prov = Lineage.cut(provenance.select(col("subj"), col("pred"), col("obj"),
      col("n_observations"), col("last_turn")))
    val preds = functionalPreds.select(col("pred")).distinct()
    // lexicographic struct min == ORDER BY last_turn DESC,
    // n_observations DESC, obj ASC LIMIT 1 — numeric keys sign-flipped
    val resolved = prov.join(preds, Seq("pred"), "left_semi")
      .groupBy(col("subj"), col("pred"))
      .agg(
        min(struct((-col("last_turn")).as("nt"),
          (-col("n_observations")).as("no"), col("obj"))).as("w"),
        count(lit(1)).as("n_alt"))
      .select(col("subj"), col("pred"), col("w.obj").as("obj"),
        (col("n_alt") - 1).cast("long").as("n_dropped"))
    val passthrough = prov.join(preds, Seq("pred"), "left_anti")
      .select(col("subj"), col("pred"), col("obj"),
        lit(0L).as("n_dropped"))
    resolved.unionByName(passthrough)
  }
}
