package graft.textops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Byte-pair-encoding tokenizer TRAINING and application (Sennrich et al.
 * 2016, "Neural Machine Translation of Rare Words with Subword Units") —
 * the step between [[Vocab.topWords]] (word frequencies) and
 * [[TextAnalysis.tokenCountBpe]] (a fixed pre-tokenizer shape): learn the
 * merge table itself from the corpus.
 *
 * 100 TB shape — the two-scale split every production BPE trainer uses:
 * the CORPUS-sized work is exactly one partial-agg shuffle (word counts,
 * Zipf ⇒ enormous map-side combine), optionally capped to the top
 * `vocabCap` word forms (TakeOrdered — per-partition heap, no full sort).
 * The merge LOOP then runs over that bounded word table only: each
 * iteration is a pair-count aggregate of ≤ vocabCap short arrays and a
 * 1-row TakeOrdered — never a corpus pass. Application is likewise
 * computed once per DISTINCT word and joined back, never per occurrence.
 *
 * Symbols are held as `array<string>` (not a space-joined string), so a
 * merged symbol can never textually collide with the `</w>` end-of-word
 * marker or require regex quoting; one merge pass is a greedy
 * left-to-right `aggregate` fold over the symbol array — the exact
 * non-overlapping semantics of the reference algorithm.
 *
 * Determinism: merge choice ties break on (count desc, left asc, right
 * asc); word-table caps tie-break on the word; no RNG, no driver state
 * beyond the merge list itself (which IS the trained artifact).
 *
 * No reference analog (cs562_sdpg has no tokenizer surface); part of the
 * training-data operator family layered on the engine.
 */
object Bpe {

  /** Corpus word-frequency table (word, n), lowercased whitespace words,
    * capped to the `vocabCap` most frequent forms (ties on the word). */
  def wordCounts(docs: DataFrame, textCol: String, vocabCap: Int): DataFrame =
    docs.select(explode(split(lower(col(textCol)), " +")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc).limit(vocabCap)

  /** Initial symbol sequence of a word: its characters plus the `</w>`
    * end-of-word marker (so merges crossing word ends can't happen and
    * word-final subwords are distinct from word-internal ones). */
  def symbolize(wordCol: Column): Column =
    concat(regexp_extract_all(wordCol, lit("(?s)."), lit(0)),
      array(lit("</w>")))

  /** One greedy left-to-right merge pass of (l, r) → l+r over a symbol
    * array — the reference apply semantics: non-overlapping, a freshly
    * merged symbol does not re-pair within the same pass. */
  def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Adjacent symbol pairs as (l, r) structs (empty for 1-symbol words). */
  private def adjacentPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("l"), b.as("r")))

  /**
   * Train `numMerges` BPE merges. Returns the ordered merge list — the
   * trained artifact, inherently ≤ `numMerges` rows (driver-sized by
   * construction, like the IVF centroid table). Stops early when every
   * word has collapsed to a single symbol.
   *
   * Each iteration materializes the ≤ vocabCap-row symbol table (an eager
   * [[graft.operators.Lineage]] cut — the bounded-lineage pattern of
   * [[graft.link.ConnectedComponents]]), so iteration t never replays
   * merges 0..t-1 and the plan stays flat across hundreds of merges.
   */
  def trainMerges(docs: DataFrame, textCol: String, numMerges: Int,
                  vocabCap: Int = 50000): Seq[(Int, String, String)] = {
    require(numMerges >= 1, s"numMerges $numMerges")
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var syms = Lineage.cut(wordCounts(docs, textCol, vocabCap)
      .select(col("n"), symbolize(col("word")).as("syms")), eager = true)
    var t = 0
    var done = false
    while (t < numMerges && !done) {
      val top = syms
        .select(col("n"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges += ((t, l, r))
        // eager: the unpersist below must not drop the blocks this cut reads
        val next = Lineage.cut(
          syms.withColumn("syms", applyMerge(col("syms"), l, r)), t + 1, eager = true)
        syms.unpersist()
        syms = next
        t += 1
      }
    }
    syms.unpersist()
    merges.toSeq
  }

  /** The merge list as a (rank, left, right) DataFrame for persistence. */
  def mergesDF(spark: SparkSession, merges: Seq[(Int, String, String)]): DataFrame = {
    import spark.implicits._
    merges.toDF("rank", "left", "right")
  }

  /** Segment each DISTINCT word of `words(wordCol)` under the trained
    * merges (applied in rank order): adds `bpe` (array<string>). Folds one
    * merge per pass with periodic lineage cuts so the plan depth stays
    * bounded for large merge lists. */
  def segmentWords(words: DataFrame, wordCol: String,
                   merges: Seq[(Int, String, String)],
                   checkpointEvery: Int = 12): DataFrame = {
    var df = words.withColumn("bpe", symbolize(col(wordCol)))
    merges.sortBy(_._1).zipWithIndex.foreach { case ((_, l, r), i) =>
      df = df.withColumn("bpe", applyMerge(col("bpe"), l, r))
      if ((i + 1) % checkpointEvery == 0 && i + 1 < merges.size)
        df = Lineage.cut(df, (i + 1) / checkpointEvery, eager = true)
    }
    df
  }

  /**
   * Per-document BPE token counts under a trained merge list. The
   * segmentation runs once per DISTINCT word (the Zipf-bounded table),
   * then joins back to per-document word occurrences — at 100 TB the
   * expensive fold never touches the corpus, only the vocabulary.
   * Documents with no words count 0.
   */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(Int, String, String)]): DataFrame = {
    val occ = docs.select(col(idCol),
        explode(split(lower(col(textCol)), " +")).as("word"))
      .filter(length(col("word")) > 0)
    val seg = segmentWords(occ.select("word").distinct(), "word", merges)
      .select(col("word"), size(col("bpe")).as("_wtok"))
    docs.select(col(idCol))
      .join(occ.join(seg, "word")
          .groupBy(col(idCol)).agg(sum(col("_wtok")).as("n_bpe")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bpe"), lit(0L)).as("n_bpe"))
  }
}
