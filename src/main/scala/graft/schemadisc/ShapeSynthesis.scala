package graft.schemadisc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * SHACL-style shape SYNTHESIS from the typed triple profile — the
 * generator half of the schema loop whose enforcement half is
 * [[Validation.requiredViolations]]: per (label, predicate) it emits the
 * constraint row a curator would publish as a node shape — target object
 * class (`sh:class`), `min_count` (1 when every profiled entity of the
 * label carries the predicate — [[SchemaDiscovery]]'s required rule),
 * and `max_count` (the observed per-subject object fan-out ceiling; 1
 * marks the predicate functional at this label, the per-type grain of
 * [[graft.graph.RuleMining.functionality]]). `n_object_classes` > 1
 * surfaces polymorphic ranges honestly instead of hiding them behind
 * the min() representative. The reference derives property patterns but
 * never emits constraints (`Clustering.scala` stops at label sets).
 *
 * 100 TB shape: pure aggregates — one distinct over the typed profile,
 * a (label, pred, subj)-grain partial agg, then #labels×#preds-bounded
 * rollups joined broadcast-small. No windows, no driver state.
 *
 * @param typedTriples columns `subj`, `pred`, `obj`, `subj_type`,
 *                     `obj_type` (need not be distinct).
 * @return (label, predicate, object_class, n_object_classes, n_entities,
 *         n_with_pred, min_count, max_count)
 */
object ShapeSynthesis {

  def shapes(typedTriples: DataFrame): DataFrame = {
    // consumed by three aggregates: cut lineage once (the RuleMining
    // posture) so upstream extraction doesn't replay per consumer
    val td = Lineage.cut(typedTriples
      .select(col("subj"), col("pred"), col("obj"),
        col("subj_type"), col("obj_type"))
      .filter(col("subj").isNotNull && col("pred").isNotNull
        && col("obj").isNotNull && col("subj_type").isNotNull)
      .distinct())
    val perSubj = td.groupBy(col("subj_type"), col("pred"), col("subj"))
      .agg(count(lit(1)).as("n_objs"))
    val pp = perSubj.groupBy(col("subj_type").as("label"), col("pred").as("predicate"))
      .agg(count(lit(1)).as("n_with_pred"), max(col("n_objs")).as("max_count"))
    val cls = td.groupBy(col("subj_type").as("label"), col("pred").as("predicate"))
      .agg(min(col("obj_type")).as("object_class"),
        countDistinct(col("obj_type")).as("n_object_classes"))
    val ec = td.select(col("subj_type").as("label"), col("subj")).distinct()
      .groupBy(col("label")).agg(count(lit(1)).as("n_entities"))
    pp.join(cls, Seq("label", "predicate"))
      .join(ec, Seq("label"))
      .select(col("label"), col("predicate"), col("object_class"),
        col("n_object_classes"), col("n_entities"), col("n_with_pred"),
        when(col("n_with_pred") === col("n_entities"), lit(1))
          .otherwise(lit(0)).as("min_count"),
        col("max_count"))
  }
}
