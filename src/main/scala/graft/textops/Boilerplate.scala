package graft.textops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Corpus-level boilerplate removal: drop SEGMENTS (lines, sentences, or
 * tokens — any fixed delimiter) whose exact text recurs across more than a
 * document-frequency threshold of the corpus, then reassemble each document
 * with its surviving segments in original order.
 *
 * This is the C4/RefinedWeb "line-level dedup" cleaning pass (navigation
 * chrome, cookie banners, and license footers repeat verbatim across sites;
 * prose does not), generalized over the segment delimiter so the same
 * operator does line dedup (`"\n"`), sentence dedup (`". "`), or
 * ubiquitous-token pruning (`" "`).
 *
 * 100 TB shape: one partial-agg shuffle keyed by segment text to compute
 * document frequency (the (seg, doc) dedup and the count are both
 * map-side-combinable), one left join of segments against the hot set (no
 * broadcast hint — the hot set is usually tiny but NOT guaranteed, AQE
 * decides at runtime), and one per-document shuffle to reassemble. Segment
 * membership is a pure function of the data — repartition/retry-invariant,
 * no RNG, no driver state beyond one scalar count. Documents whose every
 * segment is boilerplate drop out of the result (C4 semantics: an all-chrome
 * page carries no signal).
 *
 * No reference analog (cs562_sdpg has no corpus-cleaning pass); this is part
 * of the training-data operator family layered on the engine.
 */
object Boilerplate {

  /**
   * @param docs        input with one row per document
   * @param idCol       document id column (distinct per row)
   * @param textCol     text column to segment
   * @param delimiter   literal (non-regex) segment delimiter
   * @param maxDocFrac  segments present in MORE than this fraction of
   *                    documents are boilerplate and removed (0.5 = "appears
   *                    in over half the corpus")
   * @return (idCol, clean_text, n_kept, n_dropped) — one row per document
   *         that retains at least one segment, original segment order kept
   */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                        delimiter: String, maxDocFrac: Double): DataFrame = {
    // one scalar to scale the threshold to the corpus (same posture as the
    // LSH family's corpus-scaled bit widths); everything else is columnar
    val nDocs = docs.select(col(idCol)).distinct().count()
    val maxDf = (nDocs * maxDocFrac).toLong

    // lineage cut: segs feeds the document-frequency rollup AND the
    // reassembly aggregation — without it the segmentation explode
    // evaluates twice (cl1 measured 2 upstream scans per consumer)
    val segs = Lineage.cut(docs.select(
      col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(delimiter)))
        .as(Seq("pos", "seg"))))

    // document frequency per segment: dedup (seg, doc) first so the final
    // count is a plain count (two partial-agg stages, no count(distinct)
    // expansion), then keep only the hot tail
    val hot = segs.select(col("seg"), col(idCol))
      .distinct()
      .groupBy("seg").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("seg"), lit(true).as("_hot"))

    // one reassembly aggregation over ALL segments (kept + dropped) instead
    // of an anti-join plus a second per-document stats join: the hot flag
    // rides along and the aggregate splits kept/dropped — one exchange, not
    // two. The array HOFs here run once per DOCUMENT (agg output), not per
    // segment, so their CodegenFallback cost is off the hot path.
    segs.join(hot, Seq("seg"), "left")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            filter(array_sort(collect_list(struct(col("pos"), col("seg"), col("_hot")))),
              x => x.getField("_hot").isNull),
            x => x.getField("seg")),
          delimiter).as("clean_text"),
        sum(when(col("_hot").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("_hot").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
      .filter(col("n_kept") > 0)
  }
}
