package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Deterministic GraphSAGE-style ego-net sampling over the constructed
 * KG — the GNN training-data prep step (Hamilton et al. 2017): for a
 * hash-sampled seed set, expand k hops over the symmetrized edge set
 * keeping at most `fanouts(h)` neighbors per (ego, node) at hop h,
 * neighbors chosen by an md5 decision key instead of an RNG so the
 * sample is engine-portable, retry/repartition-invariant, and replays
 * identically on an incremental rebuild — the [[graft.textops.Sampling]]
 * lineage posture applied to graphs.
 *
 * 100 TB shape: seeds bound the ego count (a pure pushdown-able hash
 * predicate, no RNG state); each hop is ONE frontier×edges equi-join
 * plus a per-(ego, node) top-F that Spark plans as WindowGroupLimit —
 * partial top-F runs map-side BEFORE the exchange, so hub nodes ship F
 * rows per ego, never their full degree. Output grows ≤ ∏fanouts per
 * seed by construction. The symmetrized edge set is materialized once
 * and reused across hops (lineage cut).
 *
 * @param edges    directed edges `src`, `dst`; symmetrized internally,
 *                 self-loops dropped
 * @param seedFraction hash-sampled fraction of nodes used as egos
 * @param fanouts  per-hop neighbor caps, e.g. Seq(3, 2) = 2-hop
 * @param salt     decision-key salt (seed-set and neighbor choice)
 * @return (seed, hop, src, dst): the sampled adjacency of each ego-net,
 *         hop numbered from 1
 */
object EgoNets {

  def sample(edges: DataFrame, seedFraction: Double, fanouts: Seq[Int],
             salt: String = "graft"): DataFrame = {
    require(fanouts.nonEmpty && fanouts.forall(_ > 0), "need positive fanouts")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull
        && col("src") =!= col("dst"))
    val und = Lineage.cut(
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    val nodes = und.select(col("src").as("node")).distinct()
    val seeds = graft.textops.Sampling.hashSample(nodes, "node", seedFraction, salt)
      .select(col("node").as("seed"))
    var frontier = seeds.withColumn("node", col("seed"))
    var out: Option[DataFrame] = None
    fanouts.zipWithIndex.foreach { case (f, i) =>
      // lineage cut per hop (the KHop posture): `picked` feeds both the
      // output union and the next frontier — without it the hop branches
      // re-evaluate the whole prior join chain
      val picked = Lineage.cut(hopFrame(frontier, und, salt, f, i + 1), i + 1)
      out = Some(out.fold(picked)(_.unionByName(picked)))
      frontier = picked.select(col("seed"), col("dst").as("node")).distinct()
    }
    out.get
  }

  /** One hop: expand each (seed, node) of `frontier` over `und`, keeping
    * at most `fanout` neighbors per (seed, src) by md5 decision key.
    * Returns (seed, hop, src, dst). */
  private[graft] def hopFrame(frontier: DataFrame, und: DataFrame, salt: String,
                              fanout: Int, hop: Int): DataFrame = {
    val key = md5(concat_ws("|", lit(salt), col("seed"), col("src"), col("dst")))
    frontier
      .join(und, frontier("node") === und("src"))
      .select(col("seed"), col("src"), col("dst"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("seed"), col("src")).orderBy(key)))
      .filter(col("_rn") <= fanout)
      .select(col("seed"), lit(hop).as("hop"), col("src"), col("dst"))
  }
}
