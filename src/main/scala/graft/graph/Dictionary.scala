package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Dense dictionary encoding of a string-keyed KG: deterministic
 * lexicographic long ids for entities and predicates, and the triple
 * table re-expressed over those ids. This is the standard width trick
 * for a 100 TB KG — every downstream self-join, connected-components
 * round, PageRank iteration, and sort shuffles 8-byte longs instead of
 * arbitrary-length entity strings, and the dictionaries themselves
 * become the (orders-of-magnitude smaller) lookup tables a serving
 * layer loads. The reference keeps strings end-to-end
 * (`schemadiscovery/src/main/scala/LSH.scala:29-30` hashes raw labels
 * per use); a dictionary pass amortizes that to one encode.
 *
 * Dense-rank-at-scale, NOT a global window: `row_number() OVER (ORDER
 * BY value)` plans as a single-partition sort — the one shape that
 * cannot survive 10^9 distinct entities. Instead: range-repartition the
 * distinct values (contiguous lexicographic ranges across partitions),
 * number rows locally per range partition, and add per-partition prefix
 * offsets. The only driver-side data is one (partition, count) row per
 * partition — #shuffle-partitions rows, tiny by construction. Ids equal
 * the global row_number exactly, whatever the sampled range boundaries
 * are, because ranges are contiguous and numbering is local-then-offset.
 *
 * The ranged distinct set is materialized once (lazy localCheckpoint —
 * the family lineage-cut posture, blocks GC-cleaned with the RDD) across
 * the two jobs (count job + the returned dict's own evaluation), so the
 * sampled range boundaries are computed exactly once and both jobs read
 * the same frozen partitioning.
 */
object Dictionary {

  /**
   * Dense ids for the distinct non-null values of `valueCol`:
   * (value, id) with id = 0-based rank in lexicographic order, LongType.
   *
   * @param partitions range-partition count; 0 = session
   *                   `spark.sql.shuffle.partitions`.
   */
  def build(values: DataFrame, valueCol: String, partitions: Int = 0): DataFrame = {
    val spark = values.sparkSession
    val np =
      if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = Lineage.cut(values
      .select(col(valueCol).as("value"))
      .filter(col("value").isNotNull)
      .distinct()
      .repartitionByRange(np, col("value"))
      .withColumn("_p", spark_partition_id()))
    // one tiny row per non-empty partition; prefix-sum on the driver
    val counts = ranged.groupBy("_p").agg(count(lit(1)).as("_n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (p, n) => val o = (p, acc); acc += n; o }
    val offDf = spark.createDataFrame(offsets.toIndexedSeq).toDF("_p", "_off")
    // the window exchanges on _p (each group is one contiguous lexicographic
    // range) and sorts by value WITHIN the group — never a global single
    // partition; the offset join is a broadcast of #partitions rows
    ranged
      .withColumn("_r", row_number().over(Window.partitionBy("_p").orderBy("value")))
      .join(broadcast(offDf), Seq("_p"))
      .select(col("value"), (col("_off") + col("_r") - 1).as("id"))
  }

  /**
   * Encode a triple table: returns (entityDict, predDict, encoded) where
   * entityDict ids cover subj ∪ obj, predDict ids cover pred, and
   * `encoded` is the input with `s_id`/`p_id`/`o_id` appended.
   *
   * Scale shape: the predicate dict is always tiny → broadcast-joined;
   * the entity dict joins are AQE-decided (broadcast while it fits, one
   * entity-keyed shuffle each when it doesn't — paid once, after which
   * every downstream op runs on longs).
   */
  def encodeTriples(triples: DataFrame, subjCol: String, predCol: String,
                    objCol: String): (DataFrame, DataFrame, DataFrame) = {
    val ents = triples.select(col(subjCol).as("value"))
      .unionByName(triples.select(col(objCol).as("value")))
    val dict = build(ents, "value")
    val pdict = build(triples.select(col(predCol).as("value")), "value")
    val encoded = triples
      .join(dict.select(col("value").as(subjCol), col("id").as("s_id")), Seq(subjCol))
      .join(dict.select(col("value").as(objCol), col("id").as("o_id")), Seq(objCol))
      .join(broadcast(pdict.select(col("value").as(predCol), col("id").as("p_id"))),
        Seq(predCol))
    (dict, pdict, encoded)
  }
}
