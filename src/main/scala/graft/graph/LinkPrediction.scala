package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Neighborhood-based link prediction over the materialized entity graph —
 * the KG-completion primitive (Liben-Nowell & Kleinberg, CIKM 2003): for
 * every NON-adjacent pair (a, b) that shares at least one neighbor,
 * score the missing edge by common-neighbor count, Adamic–Adar
 * (Σ_z 1/ln deg z) and resource allocation (Σ_z 1/deg z), and return the
 * top-k candidates. On the transcript KG this proposes the colleague /
 * co-location edges the predicate rules never assert directly (two
 * people sharing an employer + a city score high). The reference stops
 * at materializing the graph to Neo4j (`Main.scala:186-199`); a
 * Spark-resident KG needs completion signals in the engine, like
 * [[Triangles]] and [[PageRank]].
 *
 * Semantics: undirected simple graph (direction dropped, parallel edges
 * collapsed, self-loops ignored). A shared neighbor z of distinct a, b
 * always has deg z ≥ 2, so 1/ln deg z is finite by construction.
 *
 * Cross-engine determinism: the per-witness weights are EXACT BIGINT
 * micro-units (round(1e6/ln d), round(1e6/d) — the [[graft.textops.TextAnalysis.wordEntropy]]
 * construction), so the per-pair sums are order-independent integer
 * arithmetic and the single float chain (÷1e6, 6dp round) replays
 * bit-identically in any engine; a raw double Σ would be
 * summation-order-dependent. Ties at the top-k boundary break on
 * (score desc, a, b) — a pure function of the edge SET.
 *
 * 100 TB shape: one degree partial agg, one z-keyed witness self-join,
 * one (a,b) partial agg, one anti-join against the edge set, TakeOrdered
 * top-k (per-partition heaps, never a full sort). The witness self-join
 * fans out deg(z)² per shared neighbor — on power-law graphs the hubs
 * dominate that cost while contributing asymptotically nothing to the
 * scores (1/ln deg → 0), so `maxDegree` drops hub witnesses BEFORE the
 * self-join (the [[graft.textops.Dedup]] `maxBlock` posture: default off
 * = exact semantics, the cap is the documented production knob and part
 * of the declared semantics when set — the oracle replicates it).
 */
object LinkPrediction {

  /** Top-k predicted links: (a, b, common_neighbors, adamic_adar,
    * resource_alloc), highest Adamic–Adar first. Input `edges` needs
    * `src`/`dst` columns; nulls dropped. `maxDegree` > 0 excludes
    * witnesses with larger degree from the evidence (hub guard). */
  def topCandidates(edges: DataFrame, k: Int, maxDegree: Long = 0L): DataFrame = {
    // lineage cuts: und feeds the dictionary + encode joins; undE feeds
    // the degree agg, the adjacency AND the anti-join; w feeds the
    // self-join twice (the Triangles posture)
    val und = Lineage.cut(edges
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct())
    // Dense LEXICOGRAPHIC entity ids (the kg34 width trick, applied inside
    // the operator per guide §2.3): the witness self-join's deg²-sized pair
    // stream and its (a, b) partial agg then carry 8-byte longs instead of
    // entity strings. The dictionary is an order-preserving bijection, so
    // a < b, the groupBy grain, the anti-join, and the
    // (score desc, a, b) tie-break are all EXACTLY the string semantics;
    // only the final k rows are decoded back (and re-sorted — the decode
    // joins do not preserve the TakeOrdered order).
    val dict = Lineage.cut(Dictionary.build(
      und.select(col("a").as("value")).unionAll(und.select(col("b").as("value"))),
      "value")) // 2 encode + 2 decode consumers
    val undE = Lineage.cut(und
      .join(dict.select(col("value").as("a"), col("id").as("_ia")), "a")
      .join(dict.select(col("value").as("b"), col("id").as("_ib")), "b")
      .select(col("_ia").as("a"), col("_ib").as("b")))
    val deg = undE.select(col("a").as("node"))
      .unionAll(undE.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val annotated = undE.select(col("a").as("z"), col("b").as("n"))
      .unionAll(undE.select(col("b").as("z"), col("a").as("n")))
      .join(deg.withColumnRenamed("node", "z"), "z")
    val kept =
      if (maxDegree > 0L) annotated.filter(col("degree") <= maxDegree) else annotated
    // a degree-1 node can never witness a pair (it has one neighbor), and
    // ln 1 = 0 would trap the weight projection under ANSI — drop before
    // the weights, which also shrinks the self-join input
    val w = Lineage.cut(kept.filter(col("degree") >= 2).select(col("z"), col("n"),
      round(lit(1e6) / log(col("degree"))).cast("long").as("aa_u"),
      round(lit(1e6) / col("degree")).cast("long").as("ra_u")))
    val w1 = w.select(col("z"), col("n").as("a"), col("aa_u"), col("ra_u"))
    val w2 = w.select(col("z"), col("n").as("b"))
    // salted witness self-join (row-identical to w1 ⋈ w2 on z): a hub
    // witness z hashes every one of its deg² output pairs onto ONE
    // sort-merge reducer — AQE's skew split never fires below its byte
    // threshold, so the whole pair stream ran as a single task (measured
    // wall ≈ total task time on the sf0.1 KG's dominant org). The
    // structural salt spreads each hot z across 16 reducers; w1 rows are
    // distinct by construction ((z, n) unique), so the per-row salt
    // cannot collapse (the SaltedJoin duplicate-row caveat)
    val pairs = graft.operators.SaltedJoin.inner(w1, w2, Seq("z"), saltFactor = 16)
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("aa_u")).as("aa_micro"),
        sum(col("ra_u")).as("ra_micro"))
    pairs.join(undE, Seq("a", "b"), "left_anti")
      .orderBy(col("aa_micro").desc, col("a"), col("b"))
      .limit(k)
      // decode the k winners back to entity strings (two broadcast-sized
      // joins over k rows) and restore the order the joins dropped —
      // identical to ordering on ids because the dictionary is monotone
      .join(dict.select(col("id").as("a"), col("value").as("_va")), "a")
      .join(dict.select(col("id").as("b"), col("value").as("_vb")), "b")
      .orderBy(col("aa_micro").desc, col("_va"), col("_vb"))
      .select(col("_va").as("a"), col("_vb").as("b"), col("common_neighbors"),
        round(col("aa_micro") / 1e6, 6).as("adamic_adar"),
        round(col("ra_micro") / 1e6, 6).as("resource_alloc"))
  }
}
