package graft

import org.apache.spark.sql.functions._
import graft.graph.PageRank

/** PageRank vs a driver-side brute-force power iteration. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Reference implementation: dense power iteration over Maps. */
  private def brute(edges: Seq[(String, String)], iters: Int,
                    d: Double): Map[String, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val out = e.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val dangling = nodes.filterNot(out.contains).map(pr).sum
      val contrib = e.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => pr(u) / out(u) }.sum).toMap
      pr = nodes.map(v => v ->
        ((1 - d) / n + d * (contrib.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    pr.map { case (k, v) => k -> BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
  }

  private def run(edges: Seq[(String, String)], iters: Int = 10,
                  d: Double = 0.85): Map[String, Double] =
    PageRank.run(edges.toDF("src", "dst"), iters, d)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("matches brute force on a graph with a dangling node and a self-loop") {
    // d is dangling; c has a self-loop; a->b duplicated (must collapse)
    val edges = Seq("a" -> "b", "a" -> "b", "b" -> "c", "c" -> "c",
      "c" -> "a", "a" -> "d")
    val got = run(edges)
    val exp = brute(edges, 10, 0.85)
    assert(got.keySet == exp.keySet)
    for (k <- exp.keySet)
      assert(math.abs(got(k) - exp(k)) <= 1e-6, s"$k: ${got(k)} vs ${exp(k)}")
  }

  test("mass is conserved: ranks sum to 1 every run") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a", "e" -> "a")
    val total = run(edges).values.sum
    assert(math.abs(total - 1.0) < 1e-4, total)
  }

  test("zero iterations returns the uniform vector") {
    val got = run(Seq("x" -> "y", "y" -> "z"), iters = 0)
    assert(got == Map("x" -> 0.333333, "y" -> 0.333333, "z" -> 0.333333))
  }

  test("a sink hub outranks its spokes") {
    val got = run((1 to 8).map(i => s"leaf$i" -> "hub"))
    assert(got("hub") > got("leaf1") * 3, got)
  }

  test("repartition-invariant") {
    val edges = (1 to 40).map(i => s"n${i % 7}" -> s"n${(i * 3) % 7}")
    val df = edges.toDF("src", "dst")
    val a = PageRank.run(df, 5).collect().map(_.toSeq).toSet
    val b = PageRank.run(df.repartition(13), 5).collect().map(_.toSeq).toSet
    assert(a == b)
  }

}
