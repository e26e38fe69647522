package kgbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def params(seed: Long) = Gen.Params(seed, turns = 600L, entities = 60,
    aliasDepth = 3, hotShare = 0.05, replyChars = 80)

  test("generator: the same seed gives identical tables, another seed different ones") {
    val (t1, g1) = Gen.tables(spark, params(11))
    val (a, ga) = (Outputs.digest(t1), Outputs.digest(g1))
    spark.catalog.clearCache()
    val (t2, g2) = Gen.tables(spark, params(11))
    assert(Outputs.digest(t2) == a && Outputs.digest(g2) == ga)
    spark.catalog.clearCache()
    val (t3, g3) = Gen.tables(spark, params(12))
    assert(Outputs.digest(t3) != a && Outputs.digest(g3) != ga)
    spark.catalog.clearCache()
  }

  test("generator: contract schema, re-delivered turns, alias chains in the vocabulary") {
    val (t, _) = Gen.tables(spark, params(3))
    assert(t.columns.toSeq == Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    val dup = t.groupBy("conv_id", "turn_idx").count().filter(col("count") > 1).count()
    assert(dup > 0, "some turns are delivered twice")
    spark.catalog.clearCache()
    val v = Gen.vocabulary(params(3))
    val chain = v.filter(x => x._1 == "person" && x._2 == 0).sortBy(_._3).map(_._4)
    assert(chain.length == 4 && chain.sliding(2).forall { case Seq(x, y) => y.length == x.length + 1 })
  }

  test("the all-column digest evaluates a column that count() prunes") {
    val boom = udf((x: Long) => if (x == 7L) throw new IllegalStateException("boom") else x)
    val df = spark.range(10).select(col("id"), boom(col("id")).as("x"))
    assert(df.count() == 10L, "count() never evaluates the pruned column")
    val e = intercept[Exception](Outputs.digest(df))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")))
  }

  test("a wrong output is caught: changed value, dropped row, wrong triple") {
    import spark.implicits._
    val good = Seq(("a", "works_at", "b"), ("c", "lives_in", "d")).toDF("subj", "pred", "obj")
    val ref = Map("triple_set" -> Outputs.digest(good))
    val changed = Seq(("a", "works_at", "x"), ("c", "lives_in", "d")).toDF("subj", "pred", "obj")
    val dropped = good.limit(1)
    assert(Outputs.mismatches(ref, Map("triple_set" -> Outputs.digest(good))).isEmpty)
    assert(Outputs.mismatches(ref, Map("triple_set" -> Outputs.digest(changed))) == Seq("triple_set"))
    assert(Outputs.mismatches(ref, Map("triple_set" -> Outputs.digest(dropped))) == Seq("triple_set"))
    assert(Outputs.mismatches(ref, Map.empty) == Seq("triple_set"))
    val golden = Set(("a", "works_at", "b"), ("c", "lives_in", "d"))
    assert(Outputs.triplePR(good, golden).passes)
    assert(!Outputs.triplePR(changed, golden).passes)
  }

  test("the engine reproduces the golden triples of a generated table") {
    val (t, g) = Gen.tables(spark, params(5))
    val golden = Workloads.collectTriples(g)
    val r = graft.pipeline.KGPipeline.run(spark, t)
    val pr = Outputs.triplePR(r.tripleSet, golden)
    assert(pr.passes, s"P=${pr.precision} R=${pr.recall}")
    spark.catalog.clearCache()
  }
}
