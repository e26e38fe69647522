package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.link.ConnectedComponents

/** Property-based checks: CC vs a trivial in-memory union-find oracle on
  * random graphs, and algebraic invariants of the text/vector ops.
  * (Replaces the reference's noise-matrix-only validation, SURVEY §5.)
  * ScalaCheck generators sampled with explicit seeds (the scalatest
  * bridge artifact is not in the offline cache). */
class PropertySpec extends SparkSpec {
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(1000L + i)))
  import spark.implicits._

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n.toLong).map(v => v -> find(v)).toMap
  }

  // test-name suffix -> limit for a graph on v vertices: the default
  // union-find finish, star rounds only, and v - 1. The star fixpoint has
  // v - #components <= v - 1 edges, so a graph that starts above v - 1
  // edges switches to union-find after one or more rounds, before the
  // round that would confirm the fixpoint.
  Seq[(String, Int => Long)](
    "" -> (_ => ConnectedComponents.LocalFinishEdges),
    " (star rounds)" -> (_ => 0L),
    " (switch after some star rounds)" -> (v => v - 1L)).foreach { case (path, limitFor) =>
    test(s"connected components == union-find oracle on random graphs$path") {
      val genGraph = for {
        n <- Gen.choose(2, 40)
        m <- Gen.choose(0, 60)
        edges <- Gen.listOfN(m, for {
          a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
        } yield (a, b))
      } yield (n, edges.filter(e => e._1 != e._2))

      samples(genGraph, 15).foreach { case (n, edges) =>
        if (edges.nonEmpty) {
          // CC reports each vertex that appears in edges exactly once
          val verts = edges.flatMap(e => Seq(e._1, e._2)).toSet
          val rows = ConnectedComponents.run(edges.toDF("src", "dst"),
            localFinishEdges = limitFor(verts.size)).as[(Long, Long)].collect()
          val got = rows.toMap
          val oracle = unionFind(n, edges)
          assert(rows.length == verts.size && got.keySet == verts, s"graph(n=$n, edges=$edges)")
          verts.foreach { v =>
            // canonical id must be the component MINIMUM per the contract
            val comp = verts.filter(u => oracle(u) == oracle(v))
            assert(got(v) == comp.min, s"vertex $v in graph(n=$n, edges=$edges)")
          }
        }
      }
    }
  }

  test("normalize is idempotent and case/space-insensitive") {
    val gen = Gen.listOfN(30, Gen.oneOf(Gen.alphaNumChar, Gen.const(' '),
      Gen.oneOf('.', ',', '-', '!'))).map(_.mkString)
    samples(Gen.listOfN(20, gen), 5).foreach { strs =>
      val df = strs.toDF("s")
      val once = df.select(graft.extract.Extraction.normalize(col("s")).as("n"))
      val twice = once.select(graft.extract.Extraction.normalize(col("n")).as("n"))
      assert(once.exceptAll(twice).isEmpty, s"not idempotent on $strs")
    }
  }

  test("noise sweep matrix 10-100%: precision holds, recall degrades ~ (1-p)") {
    // full corruption matrix mirroring the reference's run_tale_ldbc.sh
    // 10-100% sweep (BASELINE.md tables), including the high-noise regime
    // where the reference's pattern census collapses
    val tr = graft.fixtures.TranscriptGen.transcripts(spark, 150).cache()
    val golden = graft.fixtures.TranscriptGen.goldenTriples(spark, 150).cache()
    Seq(0.1, 0.2, 0.4, 0.6, 0.8, 1.0).foreach { p =>
      val noisy = graft.noise.Noise.addNoise(tr, p, seed = 17L)
        .filter(col("text").isNotNull)
      val result = graft.pipeline.KGPipeline.run(spark, noisy)
      val pr = graft.eval.Metrics.triplePR(result.tripleSet, golden)
      val patterns = result.nodeSchema.count()
      info(f"noise=$p: P=${pr.precision}%.4f R=${pr.recall}%.4f " +
        f"triples=${pr.tp + pr.fp} schema_rows=$patterns")
      if (p >= 1.0) {
        assert(pr.tp + pr.fp == 0, "100% cell noise nulls every text -> no triples")
      } else {
        // nulled cells remove turns but never corrupt surviving text, so
        // precision holds at every level; recall tracks surviving turns
        assert(pr.precision >= 0.95, s"precision at noise $p: ${pr.precision}")
        assert(pr.recall >= 1.0 - p - 0.15, s"recall at noise $p: ${pr.recall}")
        assert(pr.recall <= 1.0 - p + 0.15, s"recall should track 1-p at $p: ${pr.recall}")
      }
    }
  }
}
