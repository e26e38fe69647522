package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Per-entity serving summary ("entity cards") over a provenance-annotated
 * triple set — the materialized table a KG front-end reads per entity:
 * out/in degree, predicate diversity, the dominant outgoing predicate,
 * and the first/last turn the entity was observed in ANY slot. The
 * reference's closest analog is its per-cluster pattern table
 * (cs562_sdpg `Main.scala:174-176`), which summarizes labels, not
 * entities; this is the entity-grain rollup.
 *
 * Scale shape: everything is a partial-aggregable groupBy — the
 * (subj, pred) grain first, then entity grain; the dominant predicate is
 * an arg-min `min(struct(-count, pred))` (the [[ConflictResolution]]
 * posture: map-side combine, no window anywhere); the three legs meet on
 * entity-keyed outer joins, each side already one row per entity.
 */
object EntityCards {

  /**
   * @param provenance the kg15 shape: one row per distinct (subj, pred,
   *                   obj) with `first_turn`, `last_turn`.
   * @return (entity, n_out, n_in, n_preds_out, top_pred, first_seen,
   *         last_seen) — degree counts are distinct-triple counts;
   *         `top_pred` is the most frequent outgoing predicate (ties to
   *         the lexicographically smallest), null for object-only
   *         entities.
   */
  def cards(provenance: DataFrame): DataFrame = {
    // lineage cut: prov feeds the seen union (2×), the out-side rollup and
    // the in-side rollup — four consumers; without it the provenance
    // chain replays per consumer (kg20 measured 4 full upstream chains)
    val prov = Lineage.cut(provenance.select(col("subj"), col("pred"), col("obj"),
        col("first_turn"), col("last_turn"))
      .filter(col("subj").isNotNull && col("obj").isNotNull))

    val seen = prov.select(col("subj").as("entity"),
        col("first_turn"), col("last_turn"))
      .unionByName(prov.select(col("obj").as("entity"),
        col("first_turn"), col("last_turn")))
      .groupBy(col("entity"))
      .agg(min(col("first_turn")).as("first_seen"),
        max(col("last_turn")).as("last_seen"))

    val outSide = prov.groupBy(col("subj"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("subj"))
      .agg(sum(col("n")).as("n_out"),
        count(lit(1)).as("n_preds_out"),
        min(struct((-col("n")).as("neg"), col("pred").as("p"))).as("w"))
      .select(col("subj").as("entity"), col("n_out"), col("n_preds_out"),
        col("w.p").as("top_pred"))

    val inSide = prov.groupBy(col("obj"))
      .agg(count(lit(1)).as("n_in"))
      .select(col("obj").as("entity"), col("n_in"))

    seen
      .join(outSide, Seq("entity"), "left_outer")
      .join(inSide, Seq("entity"), "left_outer")
      .select(col("entity"),
        coalesce(col("n_out"), lit(0L)).as("n_out"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        coalesce(col("n_preds_out"), lit(0L)).as("n_preds_out"),
        col("top_pred"), col("first_seen"), col("last_seen"))
  }
}
