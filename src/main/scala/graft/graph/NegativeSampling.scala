package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Deterministic FILTERED negative sampling over a canonical triple set —
 * the training-data op that turns a constructed KG into KG-embedding
 * examples (TransE family, Bordes et al. 2013 §3: corrupt one slot of
 * each positive, reject corruptions that reconstruct a true triple).
 * The reference stops at schema discovery (cs562_sdpg `Main.scala`
 * pipeline ends at the pattern tables); this is the downstream handoff a
 * production KG pipeline feeds.
 *
 * Determinism: candidate choice is a pure function of the triple and the
 * sample index — rank = md5-prefix(subj|pred|obj|j) mod |domain(pred)| —
 * so the sample is reproducible across runs, engines (the oracle
 * re-derives it in SQL), retries and repartitioning, exactly like
 * [[graft.textops.Sampling.hashSample]]. Corruption is TYPE-COMPATIBLE by
 * construction: candidates come from the corrupted slot's own per-predicate
 * object domain (the entities actually observed as objects of `pred`),
 * the standard "corrupt within the relation's range" regime — a negative
 * like (alice, works_at, Paris-the-city) teaches the model nothing.
 *
 * Scale shape (10^12-triple KG): the object-domain table is bounded by
 * distinct (pred, obj) — orders of magnitude below the triple count — and
 * is the ONLY thing ranked (one per-pred window over the domain, never the
 * corpus). Candidate generation is a pure projection (posexplode of a
 * k-element sequence); the rank lookup is an equi-join on (pred, rank)
 * against the bounded domain (broadcastable when vocabularies fit);
 * the false-negative filter is ONE left-anti shuffle on (subj, pred,
 * neg_obj) against the triple set — the same key cardinality as the KG
 * itself. No driver state, no RNG.
 */
object NegativeSampling {

  /** md5-prefix hash of a string column as a non-negative long in
    * [0, 2^32) — the repo's portable decision-key construction
    * (DuckDB: `CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT)`). */
  private def h32(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /**
   * @param triples canonical triple set with columns `subj`, `pred`, `obj`
   *                (distinct rows; duplicates would only repeat work).
   * @param k       corruptions attempted per positive (survivors can be
   *                fewer: self-corruptions and true triples are dropped).
   * @return (subj, pred, obj, sample_idx, neg_obj) — one row per surviving
   *         corruption; `neg_obj` replaces `obj`, with (subj, pred,
   *         neg_obj) guaranteed absent from `triples`.
   */
  def corruptObjects(triples: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // consumed four times (domain, domain sizes, candidates, the
    // false-negative anti-join): materialize once, cut the upstream
    // lineage — the [[Cooccurrence.pmi]] posture
    val t = Lineage.cut(triples.select(col("subj"), col("pred"), col("obj"))
      .filter(col("subj").isNotNull && col("pred").isNotNull && col("obj").isNotNull))

    // per-predicate object domain, ranked 0..n_p-1 by value (deterministic);
    // bounded by distinct (pred, obj), so the window is cheap by construction
    val domain = t.select(col("pred"), col("obj")).distinct()
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("pred")).orderBy(col("obj"))) - 1)
    val domSize = domain.groupBy(col("pred")).agg(count(lit(1)).as("n_dom"))

    // k candidate ranks per positive — pure projection over the triples
    val candidates = t
      .join(domSize, Seq("pred"))
      .select(col("subj"), col("pred"), col("obj"), col("n_dom"),
        explode(array((0 until k).map(lit): _*)).as("sample_idx"))
      .withColumn("rank",
        pmod(h32(concat_ws("|", col("subj"), col("pred"), col("obj"),
          col("sample_idx"))), col("n_dom")))
      .drop("n_dom")

    // resolve rank -> candidate entity, then reject self-corruptions and
    // corruptions that are themselves true triples (filtered sampling)
    candidates
      .join(domain.withColumnRenamed("obj", "neg_obj"), Seq("pred", "rank"))
      .filter(col("neg_obj") =!= col("obj"))
      .join(t.select(col("subj"), col("pred"), col("obj").as("neg_obj")),
        Seq("subj", "pred", "neg_obj"), "left_anti")
      .select(col("subj"), col("pred"), col("obj"), col("sample_idx"),
        col("neg_obj"))
  }
}
