package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Lineage
import graft.link.MinHashBlocking

/**
 * Bounded edit-distance similarity join — CHARACTER-level entity
 * resolution, the missing grain beside the token-set family
 * ([[Dedup.ngramJaccardPairs]]/`dd9`) and the embedding family
 * (`dd5`/`dd6`): typo'd names, aliases and near-identical short strings
 * ("Jon Smith" / "John Smith") that token Jaccard scores 0 on. Emits
 * every unordered pair with Levenshtein distance ≤ `maxDist`.
 *
 * Two LOSSLESS blocking schemes, dispatched on the bound:
 *
 *  - `maxDist ≤ 1`: DELETION-NEIGHBORHOOD keys (the SymSpell scheme) —
 *    a row's keys are the string itself plus every delete-one-char
 *    variant; any pair within edit distance 1 shares a key (substitution
 *    → the common deletion at the edited position; indel → the shorter
 *    string IS a deletion variant of the longer; equality → the string
 *    itself). Selectivity comes from CONTENT, not length: the first
 *    cut of this operator blocked on length buckets alone, which is
 *    degenerate on fixed-width corpora (TPC-H customer names are all 18
 *    chars → the join collapsed to all-pairs; measured 419 s on 15k
 *    names at sf0.1, vs ~seconds with deletion keys).
 *  - `maxDist ≥ 2`: length buckets of width `maxDist` (|len(x) − len(y)|
 *    lower-bounds edit distance; each row emits bucket and bucket+1) —
 *    the deletion neighborhood grows C(len, k), so past k=1 the length
 *    scheme plus the family caps is the practical path; its weakness on
 *    uniform-length corpora is documented here and bounded by
 *    `maxBlock`/`pairBudget`.
 *
 * In both schemes verify runs FIRST (the banded
 * `levenshtein(a, b, threshold)` built-in: O(maxDist·len) per pair with
 * early-exit −1 above the bound, never the full DP matrix), THEN the
 * dedup exchange carries only (id_a, id_b, dist) scalars — the dd4
 * ordering lesson. Keys are `xxhash64` longs; hash collisions and
 * same-key non-neighbors ("ab"/"ba" share deletion "a" at distance 2)
 * are exactly what the verify removes.
 *
 * 100 TB shape: one explode projection (fan-out len+1 for k≤1, 2 for
 * k≥2), ONE key-equi self-join, a scalar verify, one pair-dedup
 * exchange. The family-standard `maxBlock`/`pairBudget` caps
 * ([[MinHashBlocking.capBuckets]]) bound degenerate key occupancy
 * (default off = exact semantics — the oracle pins those). The domain
 * is short strings where character edits ARE the similarity signal; for
 * long documents use the token-set family instead.
 */
object EditDistance {

  /** All pairs (id_a, id_b, dist) with levenshtein ≤ maxDist, id_a < id_b.
    * Input needs `idCol` (unique) and `strCol`; null strings are dropped. */
  def similarPairs(df: DataFrame, idCol: String, strCol: String, maxDist: Int,
                   maxBlock: Int = Int.MaxValue,
                   pairBudget: Long = Long.MaxValue): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val rows0 = df
      .filter(col(strCol).isNotNull)
      .select(col(idCol).as("_id"), col(strCol).as("_s"))
    val keyed0 =
      if (maxDist == 1) {
        // native fused neighborhood+hash (one codegen'd pass; pinned
        // equal to the r5 interpreted substr/concat HOF chain in
        // ShingleCodegenSpec) — key values identical: xxhash64 of the
        // same variant strings
        rows0.select(col("_id"), col("_s"),
          explode(org.apache.spark.sql.graftfns.TextExpressions
            .deletion_variant_hashes(col("_s"))).as("_key"))
      } else if (maxDist == 0) {
        rows0.select(col("_id"), col("_s"), xxhash64(col("_s")).as("_key"))
      } else {
        val w = math.max(maxDist, 1)
        rows0.select(col("_id"), col("_s"),
          explode(array((length(col("_s")) / w).cast("long"),
            (length(col("_s")) / w).cast("long") + 1)).as("_key"))
      }
    // repartition on the join key, THEN cut lineage: the keyed table is a
    // pure projection of its input, so it inherits the input's split
    // count — a single-file corpus ran the whole candidate join + verify
    // in ONE task (dd10 measured wall ≈ total task time). The exchange
    // spreads it across spark.sql.shuffle.partitions (scale-adaptive) and
    // the cut stops the neighborhood explode replaying per join side.
    val keyed1 = Lineage.cut(keyed0.repartition(col("_key")))
    val keyed =
      if (maxBlock == Int.MaxValue && pairBudget == Long.MaxValue) keyed1
      else MinHashBlocking.capBuckets(keyed1, Seq("_key"), maxBlock, pairBudget)
    val a = keyed.select(col("_key"), col("_id").as("id_a"), col("_s").as("_s_a"))
    val b = keyed.select(col("_key"), col("_id").as("id_b"), col("_s").as("_s_b"))
    a.join(b, Seq("_key"))
      .filter(col("id_a") < col("id_b"))
      // lossless scalar prune before the DP verify
      .filter(abs(length(col("_s_a")) - length(col("_s_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("_s_a"), col("_s_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
      .dropDuplicates("id_a", "id_b")
  }
}
