package kgbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Forcing and checking of the engine's output frames. */
object Outputs {

  /** Row count and order-insensitive sum of a per-row hash over EVERY
    * column. Hashing all columns keeps Catalyst from pruning any of them,
    * which `count()` would do. */
  final case class Digest(rows: Long, hash: BigDecimal)

  def digest(df: DataFrame): Digest = {
    val h = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(20,0)"))).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Names of the frames whose digests differ between two runs (a frame
    * missing on either side differs). */
  def mismatches(expected: Map[String, Digest], got: Map[String, Digest]): Seq[String] =
    (expected.keySet ++ got.keySet).toSeq.sorted.filter(k => expected.get(k) != got.get(k))

  final case class PR(precision: Double, recall: Double) {
    /** The paper's bar for the extracted triple set. */
    def passes: Boolean = precision >= 0.95 && recall >= 0.95
  }

  /** Precision and recall of a (subj, pred, obj) triple set against a golden set. */
  def triplePR(tripleSet: DataFrame, golden: Set[(String, String, String)]): PR = {
    val got = tripleSet.select("subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val tp = (got intersect golden).size.toDouble
    PR(if (got.isEmpty) 0.0 else tp / got.size, if (golden.isEmpty) 0.0 else tp / golden.size)
  }
}
