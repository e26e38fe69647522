package graft

import org.apache.spark.sql.DataFrame
import graft.eval.Metrics

class BlockingQualitySpec extends SparkSpec {
  import spark.implicits._

  private val docs = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
  private def pairs(ps: (Long, Long)*) = ps.toDF("id_a", "id_b")

  private def row(truth: Seq[(Long, Long)], found: Seq[(Long, Long)], docs: DataFrame = docs) =
    Metrics.blockingQuality(docs, "doc_id", pairs(truth: _*), pairs(found: _*))
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq

  test("hand-computed completeness and reduction ratio") {
    // truth {12, 34}, found {12, 15, 25}: caught 1/2, reduction 1 - 3/10
    assert(row(Seq((1L, 2L), (3L, 4L)), Seq((1L, 2L), (1L, 5L), (2L, 5L))) ==
      Seq((5L, 2L, 3L, 1L, 0.5, 0.7)))
  }

  test("perfect blocker: found == truth") {
    assert(row(Seq((1L, 2L)), Seq((1L, 2L))) ==
      Seq((5L, 1L, 1L, 1L, 1.0, 0.9)))
  }

  test("empty truth set: completeness 1.0 by convention") {
    assert(row(Seq.empty, Seq((1L, 2L))) == Seq((5L, 0L, 1L, 0L, 1.0, 0.9)))
  }

  test("empty found set: zero caught, reduction 1.0") {
    assert(row(Seq((1L, 2L)), Seq.empty) == Seq((5L, 1L, 0L, 0L, 0.0, 1.0)))
  }

  for (n <- Seq(0, 1); ansi <- Seq(true, false))
    test(s"$n docs, ANSI ${if (ansi) "on" else "off"}: named error, not a division by zero") {
      val few = docs.limit(n)
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      val err = try intercept[Exception](row(Seq.empty, Seq.empty, few))
        finally spark.conf.set("spark.sql.ansi.enabled", prev)
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toSeq
      assert(chain.exists(_.contains(Metrics.TooFewDocs)), chain.mkString("\n"))
    }
}
