package graft

import java.io.File
import org.apache.spark.sql.DataFrame
import graft.graph.{EgoNets, Hits, KHop, LabelPropagation, PageRank, RandomWalks}
import graft.link.ConnectedComponents
import graft.operators.Lineage

/** The lineage-cut policy: local cuts by default, durable Parquet round
  * files under `<checkpointDir>/_lineage` when `spark.graft.checkpointDir`
  * is set — with output identical either way. The session is shared, so
  * every test sets and unsets the conf in try/finally. */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  private val key = "spark.graft.checkpointDir"

  /** Runs `f` with the conf pointing at a fresh directory. */
  private def durable[A](f: => A): (A, File) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lineage").toFile
    spark.conf.set(key, dir.toString)
    try (f, dir) finally spark.conf.unset(key)
  }

  private def lineageFiles(dir: File): Seq[String] =
    Option(new File(dir, "_lineage").list()).map(_.toSeq).getOrElse(Nil)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private val rnd = new scala.util.Random(7)
  private val edgeSeq: Seq[(Long, Long)] =
    (1 to 90).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
  private def edges: DataFrame = edgeSeq.toDF("src", "dst")

  // ≥ 6 rounds, so the fixed-round loops also reach durable round 5; CC
  // runs star rounds only (these graphs are far below its union-find limit)
  private val operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "ConnectedComponents" -> (e => ConnectedComponents.run(e, localFinishEdges = 0)),
    "PageRank" -> (e => PageRank.run(e, 6)),
    "Hits" -> (e => Hits.run(e, 6)),
    "LabelPropagation" -> (e => LabelPropagation.run(e, 6)),
    "KHop" -> (e => KHop.distances(e, Seq(1L, 2L).toDF("node"), 6)),
    "RandomWalks" -> (e => RandomWalks.walks(e, 0.5, 2, 6)),
    "EgoNets" -> (e => EgoNets.sample(e, 0.3, Seq(3, 2, 2, 2, 2))))

  operators.foreach { case (name, op) =>
    test(s"$name: durable cuts give the local output and write under _lineage") {
      val local = rows(op(edges))
      val (got, dir) = durable(rows(op(edges)))
      assert(got == local)
      val written = lineageFiles(dir)
      assert(written.nonEmpty, "expected durable round files")
      // conf unset again: a rerun writes nothing
      rows(op(edges))
      assert(lineageFiles(dir) == written)
    }
  }

  test("cut: local without the conf, durable only on every DurableEvery-th round") {
    val df = (1 to 20).toDF("x")
    def scansParquet(d: DataFrame) =
      d.queryExecution.executedPlan.toString.toLowerCase.contains("parquet")
    assert(!scansParquet(Lineage.cut(df)))
    val (_, dir) = durable {
      (1 until Lineage.DurableEvery).foreach { r =>
        assert(!scansParquet(Lineage.cut(df, r)), s"round $r must stay local")
      }
      assert(lineageFiles(new File(spark.conf.get(key))).isEmpty)
      val cut0 = Lineage.cut(df)
      val cut5 = Lineage.cut(df, Lineage.DurableEvery, eager = true)
      assert(scansParquet(cut0) && scansParquet(cut5))
      assert(rows(cut0) == rows(df) && rows(cut5) == rows(df))
    }
    assert(lineageFiles(dir).size == 2, "each durable cut gets its own directory")
  }

  test("CC with durable cuts == union-find oracle") {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edgeSeq.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val (got, _) = durable(
      ConnectedComponents.run(edges).as[(Long, Long)].collect().toMap)
    val verts = edgeSeq.flatMap(e => Seq(e._1, e._2)).toSet
    verts.foreach { v =>
      val comp = verts.filter(u => find(u) == find(v))
      assert(got(v) == comp.min, s"vertex $v")
    }
  }

  test("two CC runs on one dir keep their own rounds; the first collected last") {
    // a 16-node path converges in exactly 5 star rounds, so each result
    // reads its last (durable) round lazily
    def path(from: Long) = (from until from + 15).map(i => (i, i + 1)).toDF("src", "dst")
    def cc(from: Long) = ConnectedComponents.run(path(from), localFinishEdges = 0)
    val ((a, b), _) = durable((cc(1L), cc(101L)))
    assert(a.queryExecution.executedPlan.toString.toLowerCase.contains("parquet"),
      "the first result should read a durable round")
    assert(rows(b) == (101L to 116L).map(i => Seq[Any](i, 101L)).toSet)
    assert(rows(a) == (1L to 16L).map(i => Seq[Any](i, 1L)).toSet)
  }

  test("CC union-find finish under the conf reads the durable round-0 cut") {
    val local = rows(ConnectedComponents.run(edges))
    val (res, dir) = durable(ConnectedComponents.run(edges))
    assert(res.queryExecution.executedPlan.toString.toLowerCase.contains("parquet"),
      "the union-find task should read the durable input cut")
    assert(lineageFiles(dir).size == 1, "only the input cut is written")
    assert(rows(res) == local)
  }
}
