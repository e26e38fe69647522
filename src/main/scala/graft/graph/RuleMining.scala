package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Schema-quality rule mining over a canonical triple set — the AMIE-lite
 * slice (Galárraga et al. 2013) a KG-construction pipeline runs right
 * after materialization: which predicates behave functionally (one object
 * per subject — the signal that drives conflict detection and
 * canonicalization QA), and which predicate pairs are inverses of each
 * other (merge candidates for the edge schema the reference infers per
 * direction only, cs562_sdpg `Clustering.scala:169`).
 *
 * Both ops are pure aggregates over the triple set — no iteration, no
 * driver state. At 10^12 triples: functionality is two partial-agg
 * exchanges (the (pred, subj) grain then the pred grain — the second is
 * #predicates rows, trivially small); inversePairs is ONE self-join of
 * the distinct triple set on the reversed entity pair (AQE skew-split
 * applies — a celebrity entity pair is the usual hot key) and a
 * (pred, pred) agg whose output is bounded by #predicates².
 */
object RuleMining {

  /**
   * Per-predicate functionality report (AMIE definitions):
   * `functionality`  = #distinct subjects / #distinct (subj, obj) pairs,
   * `inv_functionality` = #distinct objects / the same — both 1.0 exactly
   * when the predicate maps each subject to at most one object (resp.
   * each object to one subject). `n_conflicted_subjects` counts subjects
   * asserting >1 distinct object — the rows a conflict auditor reads.
   *
   * @param triples columns `subj`, `pred`, `obj` (need not be distinct;
   *                duplicates collapse at the first grain).
   * @return (pred, n_triples, n_subjects, n_objects,
   *         n_conflicted_subjects, functionality, inv_functionality) with
   *         ratios rounded to 6 dp (one float chain, oracle-portable).
   */
  def functionality(triples: DataFrame): DataFrame = {
    val t = triples.select(col("subj"), col("pred"), col("obj"))
      .filter(col("subj").isNotNull && col("pred").isNotNull && col("obj").isNotNull)
      .distinct()
    // (pred, subj) grain first: per-subject fan-out, partial-agg friendly
    val perSubj = t.groupBy(col("pred"), col("subj"))
      .agg(count(lit(1)).as("n_objs"))
    val subjSide = perSubj.groupBy(col("pred")).agg(
      sum(col("n_objs")).as("n_triples"),
      count(lit(1)).as("n_subjects"),
      sum(when(col("n_objs") > 1, 1L).otherwise(0L))
        .as("n_conflicted_subjects"))
    val objSide = t.groupBy(col("pred"))
      .agg(countDistinct(col("obj")).as("n_objects"))
    subjSide.join(objSide, Seq("pred"))
      .select(col("pred"), col("n_triples"), col("n_subjects"),
        col("n_objects"), col("n_conflicted_subjects"),
        round(col("n_subjects").cast("double") / col("n_triples"), 6)
          .as("functionality"),
        round(col("n_objects").cast("double") / col("n_triples"), 6)
          .as("inv_functionality"))
  }

  /**
   * Inverse-predicate discovery: predicate pairs (p, q) where (a, p, b)
   * and (b, q, a) co-occur — `support` is the count of such entity pairs,
   * `confidence` = support / #triples(p) (the PCA-free standard
   * confidence; symmetric predicates show up as p == q).
   *
   * @return (pred, inv_pred, support, n_pred_triples, confidence) for
   *         pairs with support >= minSupport, confidence 6-dp rounded.
   */
  /**
   * Composition-rule mining — the AMIE path rule
   * p(x, z) ∧ q(z, y) ⇒ r(x, y): the two-hop schema regularities a KG
   * carries (here `works_at ∧ based_in ⇒ lives_in`,
   * `reports_to ∧ works_at ⇒ works_at` — colleagues share employers),
   * feeding both link prediction and extraction QA (a high-confidence
   * rule with missing heads marks under-extraction).
   *
   * AMIE head-instance counting: `n_paths` = #DISTINCT endpoint pairs
   * (x, y) connected by a (p, q) path (several middles count once),
   * `support` = #those pairs where r(x, y) is in the KG,
   * `confidence` = support / n_paths (CWA standard confidence, 6 dp).
   *
   * 100 TB shape: ONE middle-keyed self-join of the distinct triple set
   * (fan-out = in-deg × out-deg on hub middles — the AQE-skew-split
   * case, same key profile as [[inversePairs]]), an endpoint distinct,
   * one (x, y)-keyed head join, and #pred²-/#pred³-bounded aggs.
   *
   * @return (body_p, body_q, head_pred, support, n_paths, confidence)
   *         for rules with support >= minSupport.
   */
  def compositionRules(triples: DataFrame, minSupport: Long = 1L): DataFrame = {
    val t = Lineage.cut(triples.select(col("subj"), col("pred"), col("obj"))
      .filter(col("subj").isNotNull && col("pred").isNotNull && col("obj").isNotNull)
      .distinct())
    val paths = Lineage.cut(t.alias("l")
      .join(t.alias("r"), col("l.obj") === col("r.subj"))
      .select(col("l.pred").as("body_p"), col("r.pred").as("body_q"),
        col("l.subj").as("x"), col("r.obj").as("y"))
      .distinct())
    val nPaths = paths.groupBy("body_p", "body_q")
      .agg(count(lit(1)).as("n_paths"))
    val sup = paths
      .join(t.select(col("subj").as("x"), col("pred").as("head_pred"),
        col("obj").as("y")), Seq("x", "y"))
      .groupBy("body_p", "body_q", "head_pred")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    sup.join(nPaths, Seq("body_p", "body_q"))
      .select(col("body_p"), col("body_q"), col("head_pred"),
        col("support"), col("n_paths"),
        round(col("support").cast("double") / col("n_paths"), 6)
          .as("confidence"))
  }

  /**
   * Same-direction implication mining — the AMIE rule
   * p(x, y) ⇒ q(x, y): predicate pairs asserted over the SAME entity
   * pair (works_at ⇒ based_in when people's employers sit where they
   * live). High mutual confidence marks near-equivalent predicates — the
   * redundancy report a schema curator reads before collapsing edge
   * types; directional confidence gaps mark genuine subsumption.
   *
   * `support` = #distinct (x, y) with both p and q; `confidence` =
   * support / #distinct (x, y) of the body p (CWA). Directional: both
   * (p ⇒ q) and (q ⇒ p) rows emit, same support, each over its own
   * body total.
   *
   * 100 TB shape: ONE (subj, obj)-keyed self-join of the distinct
   * triple set — per-key fan-out is bounded by #predicates (never
   * corpus-sized; strictly tamer than [[inversePairs]]'s reversed-pair
   * key), then a #pred²-bounded agg and a broadcast-sized totals join.
   */
  def implicationRules(triples: DataFrame, minSupport: Long = 1L): DataFrame = {
    val t = Lineage.cut(triples.select(col("subj"), col("pred"), col("obj"))
      .filter(col("subj").isNotNull && col("pred").isNotNull && col("obj").isNotNull)
      .distinct())
    val sup = t.alias("l")
      .join(t.alias("r"),
        col("l.subj") === col("r.subj") && col("l.obj") === col("r.obj")
          && col("l.pred") =!= col("r.pred"))
      .groupBy(col("l.pred").as("body_pred"), col("r.pred").as("head_pred"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val totals = t.groupBy(col("pred").as("body_pred"))
      .agg(count(lit(1)).as("n_body_pairs"))
    sup.join(totals, Seq("body_pred"))
      .select(col("body_pred"), col("head_pred"), col("support"),
        col("n_body_pairs"),
        round(col("support").cast("double") / col("n_body_pairs"), 6)
          .as("confidence"))
  }

  /**
   * [[implicationRules]] over `triples ∪ body` where `body` is the
   * DERIVED co-membership relation bodyPred(x, y) ⟺ ∃g:
   * membership(x, g) ∧ membership(y, g) ∧ x ≠ y (the AMIE
   * body-materialization step, e.g. `colleague` = shared employer from a
   * works_at table) — WITHOUT ever materializing, deduplicating, or
   * re-joining the quadratic pair set. On a hub group of k members the
   * naive route materializes k·(k−1) body facts, checkpoints them, and
   * self-joins them; this computes the identical output from:
   *
   *  - base ⇒ base rows: the ordinary (subj, obj)-keyed self-join of the
   *    DISTINCT base triple set (body facts never join each other — their
   *    predicates are equal, so the p ≠ q filter kills every such pair;
   *    they also cannot duplicate base rows as long as `bodyPred` is not
   *    an existing predicate, which the caller guarantees);
   *  - p ⇒ bodyPred and bodyPred ⇒ p rows: both directions share the
   *    SAME support — #distinct base triples (x, p, y), x ≠ y, whose
   *    endpoints co-occur in some group. That is two LINEAR
   *    membership joins (an org-annotation join + one left-semi), never a
   *    pair enumeration;
   *  - n_body_pairs(bodyPred): the one irreducibly quadratic quantity —
   *    #distinct co-member pairs — computed as a two-stage
   *    count_distinct AGGREGATE over the membership self-join: the pairs
   *    stream through a partial agg and are never stored, checkpointed,
   *    or shuffled as a table (at 100× the hub volume this is the
   *    difference between an agg pass and a materialized 10^14-row set).
   *
   * Output is row-for-row identical to
   * `implicationRules(triples ∪ bodyFacts, minSupport)` —
   * RuleMiningSpec pins the equality against the materialized form.
   *
   * @param membership two-column (entity, group) table, e.g.
   *                   works_at's (subj, obj) projection.
   * @param bodyPred   name of the derived predicate; must not collide
   *                   with an existing predicate of `triples`.
   */
  def implicationRulesWithCoMemberBody(triples: DataFrame,
                                       membership: DataFrame,
                                       bodyPred: String,
                                       minSupport: Long = 1L): DataFrame = {
    val cols = membership.columns
    require(cols.length == 2, s"membership needs (entity, group), got ${cols.toSeq}")
    val t = Lineage.cut(triples.select(col("subj"), col("pred"), col("obj"))
      .filter(col("subj").isNotNull && col("pred").isNotNull && col("obj").isNotNull)
      .distinct())
    val mem = Lineage.cut(membership.select(col(cols(0)).as("_e"), col(cols(1)).as("_g"))
      .filter(col("_e").isNotNull && col("_g").isNotNull).distinct())

    // base ⇒ base (the body never reaches this join: equal predicates)
    val supBase = t.alias("l")
      .join(t.alias("r"),
        col("l.subj") === col("r.subj") && col("l.obj") === col("r.obj")
          && col("l.pred") =!= col("r.pred"))
      .groupBy(col("l.pred").as("body_pred"), col("r.pred").as("head_pred"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val totals = t.groupBy(col("pred").as("body_pred"))
      .agg(count(lit(1)).as("n_body_pairs"))
    val baseRows = supBase.join(totals, Seq("body_pred"))

    // shared support of p ⇒ body and body ⇒ p: distinct base triples
    // whose endpoints share a group — linear annotate + semi-exists
    val colSup = Lineage.cut(t.filter(col("subj") =!= col("obj"))
      .join(mem.select(col("_e").as("subj"), col("_g")), Seq("subj"))
      .join(mem.select(col("_e").as("obj"), col("_g")), Seq("obj", "_g"), "left_semi")
      .select(col("subj"), col("pred"), col("obj")).distinct()
      .groupBy(col("pred")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)) // feeds both direction row sets
    val toBody = colSup
      .select(col("pred").as("body_pred"), lit(bodyPred).as("head_pred"),
        col("support"))
      .join(totals, Seq("body_pred"))
    // n_body_pairs(bodyPred) by inclusion–exclusion — fully LINEAR in the
    // membership table except a join restricted to multi-group members:
    // Σ_g k_g·(k_g−1) counts each ordered co-member pair once per shared
    // group, so the distinct count is that total minus Σ_pairs (m_p − 1)
    // where m_p = #shared groups. m_p ≥ 2 requires BOTH endpoints in ≥ 2
    // groups, so the correction enumerates pairs only among multi-group
    // members (empty on single-membership data — a streaming aggregate
    // never touches the hub group's quadratic pair set at all)
    val sizes = mem.groupBy(col("_g")).agg(count(lit(1)).as("_k"))
    val total = sizes.agg(
      coalesce(sum(col("_k") * (col("_k") - 1)), lit(0L)).as("_tot"))
    val multi = mem.join(
      mem.groupBy(col("_e")).agg(count(lit(1)).as("_ng"))
        .filter(col("_ng") >= 2).select(col("_e")),
      Seq("_e"), "left_semi")
    val corr = multi.alias("l")
      .join(multi.alias("r"),
        col("l._g") === col("r._g") && col("l._e") =!= col("r._e"))
      .groupBy(col("l._e").as("_x"), col("r._e").as("_y"))
      .agg(count(lit(1)).as("_m"))
      .agg(coalesce(sum(col("_m") - 1), lit(0L)).as("_corr"))
    val nBody = total.crossJoin(broadcast(corr))
      .select((col("_tot") - col("_corr")).as("n_body_pairs"))
    val fromBody = colSup
      .select(lit(bodyPred).as("body_pred"), col("pred").as("head_pred"),
        col("support"))
      .crossJoin(broadcast(nBody))

    baseRows.unionByName(toBody).unionByName(fromBody)
      .select(col("body_pred"), col("head_pred"), col("support"),
        col("n_body_pairs"),
        round(col("support").cast("double") / col("n_body_pairs"), 6)
          .as("confidence"))
  }

  def inversePairs(triples: DataFrame, minSupport: Long = 1L): DataFrame = {
    // consumed three times (both self-join sides + totals): materialize
    // once and cut the upstream lineage — same posture as
    // [[Cooccurrence.pmi]]; without it each reuse replays the full
    // upstream pipeline (measured 7.4 s -> the join itself at bench scale)
    val t = Lineage.cut(triples.select(col("subj"), col("pred"), col("obj"))
      .filter(col("subj").isNotNull && col("pred").isNotNull && col("obj").isNotNull)
      .distinct())
    val sup = t.alias("l")
      .join(t.alias("r"),
        col("l.subj") === col("r.obj") && col("l.obj") === col("r.subj"))
      .groupBy(col("l.pred").as("pred"), col("r.pred").as("inv_pred"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val totals = t.groupBy(col("pred")).agg(count(lit(1)).as("n_pred_triples"))
    sup.join(totals, Seq("pred"))
      .select(col("pred"), col("inv_pred"), col("support"),
        col("n_pred_triples"),
        round(col("support").cast("double") / col("n_pred_triples"), 6)
          .as("confidence"))
  }
}
