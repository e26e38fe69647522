package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Exact-substring duplicate detection and removal — the "ExactSubstr"
 * pass of Lee et al. 2022 (Deduplicating Training Data Makes Language
 * Models Better): any token span that occurs verbatim more than once in
 * the corpus (across documents OR repeated within one) is duplicated
 * text; the dedup pass cuts it, keeping one surviving occurrence.
 *
 * The paper builds a corpus-wide suffix array — a single-machine
 * construction that cannot shard. The Spark-native equivalent used here:
 * positioned word k-gram shingles. A k-gram whose corpus-wide occurrence
 * count exceeds 1 marks k duplicated tokens; overlapping/adjacent
 * duplicated positions within a document merge (gaps-and-islands) into
 * maximal duplicated spans. This finds exactly the duplicated substrings
 * of length >= k tokens (the paper's threshold is 50 BPE tokens; `k` is
 * a parameter because the right width is tokenizer-dependent).
 *
 * 100 TB shape: one partial-agg shuffle keyed by the k-gram to count
 * occurrences (map-side combine collapses intra-partition repeats), one
 * AQE-decided join of positioned grams against the duplicated set (at
 * realistic dup rates a small fraction of the corpus), and one window
 * over DUPLICATED positions only, partitioned by document — never a
 * corpus-sized sort. Span membership is a pure function of the data:
 * repartition/retry-invariant, no RNG, no driver state.
 *
 * No reference analog (cs562_sdpg has no corpus-dedup pass); part of the
 * training-data operator family layered on the engine.
 */
object ExactSubstr {

  /** Positioned word k-grams, 64-bit hashed: one row per (id, pos, gram),
    * pos 0-based over the whitespace-token sequence. Documents shorter
    * than k tokens produce no grams (nothing shorter can be a duplicated
    * k-span). Gram keys are native xxhash64 values
    * ([[org.apache.spark.sql.graftfns.TextExpressions.positionedGramHashes]]
    * — one byte pass replacing the interpreted transform/slice/array_join
    * HOF chain): the gram strings were only ever count/join keys, so the
    * 8-byte key shrinks the rollup and join shuffles (the dc1/dc2 key
    * narrowing posture; cross-gram collision odds ~n²/2⁶⁵ are the
    * family's accepted posture). */
  private def positionedGrams(docs: DataFrame, idCol: String,
                              textCol: String, k: Int): DataFrame =
    docs.select(col(idCol), posexplode(
        org.apache.spark.sql.graftfns.TextExpressions
          .positioned_gram_hashes(col(textCol), k))
        .as(Seq("pos", "gram")))

  /** Per-document maximal duplicated spans: (id, span_start, span_end,
    * span_tokens) where [span_start, span_end] is a 0-based inclusive
    * token range covered by k-grams whose corpus occurrence count > 1.
    * Overlapping and adjacent duplicated grams merge: positions p, q
    * belong to one span iff q - p <= k for consecutive duplicated
    * positions (their token windows touch). */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    require(k >= 1, s"k $k")
    // lineage cut: grams feeds the corpus-wide dup rollup AND the position
    // join — without it the positioned-gram explode evaluates twice.
    // Repartition on the gram key BEFORE the cut (the dd5/dd10 posture):
    // a single-file corpus otherwise leaves the checkpoint single-split,
    // serializing the explode and both consumers' map sides; keying the
    // exchange by gram also pre-establishes the rollup/join partitioning.
    val grams = Lineage.cut(positionedGrams(docs, idCol, textCol, k)
      .repartition(col("gram")))
    // corpus-wide occurrence count (total, not per-doc: a gram repeated
    // inside one document is duplicated text too — paper semantics)
    val dup = grams.groupBy(col("gram")).count()
      .filter(col("count") > 1).select(col("gram"))
    val dupPos = grams.join(dup, "gram").select(col(idCol), col("pos"))
    // gaps-and-islands over duplicated positions only
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val brk = when(
      col("pos") - lag(col("pos"), 1).over(byDoc) <= k, lit(0)).otherwise(lit(1))
    dupPos
      .select(col(idCol), col("pos"), sum(brk).over(byDoc).as("_island"))
      .groupBy(col(idCol), col("_island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k - 1).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Per-document duplication report: span count, duplicated-token count
    * (union of span coverage), longest span, and the duplicated fraction
    * of the document. Clean documents do not appear (at scale the report
    * is small). */
  def duplicationReport(docs: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    val spans = duplicatedSpans(docs, idCol, textCol, k)
    val nTok = docs.select(col(idCol),
      size(split(col(textCol), " +")).as("_n"))
    spans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).as("dup_tokens"),
        max(col("span_tokens")).as("max_span_tokens"))
      .join(nTok, idCol)
      .select(col(idCol), col("n_spans"), col("dup_tokens"),
        col("max_span_tokens"),
        round(col("dup_tokens").cast("double") / col("_n"), 6)
          .as("dup_fraction"))
  }

  /**
   * Cut duplicated spans out of each document (keeping documents whose
   * every token is duplicated out of the result, C4-style). Unlike the
   * paper we cut EVERY occurrence rather than all-but-one — electing a
   * canonical survivor per substring requires a global order over
   * occurrences; `keepFirst` opts into that (survivor = lowest
   * (id, pos) across the corpus per gram, resolved with one extra
   * min-per-gram aggregate).
   *
   * The rewrite is a pure projection per document: spans arrive as a
   * collected array (few per doc by construction — they are maximal and
   * disjoint) and a higher-order filter drops covered token positions.
   */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame = {
    val spans = duplicatedSpans(docs, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("_spans"))
    val ws = split(col(textCol), " +")
    docs.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_spans").isNull, col(textCol))
          .otherwise(array_join(
            filter(ws, (w, i) => !exists(col("_spans"),
              sp => i >= sp("span_start") && i <= sp("span_end"))), " "))
          .as("clean_text"))
      .filter(length(col("clean_text")) > 0)
  }
}
