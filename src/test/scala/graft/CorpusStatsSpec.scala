package graft

import org.apache.spark.sql.functions._
import graft.textops.{ExactSubstr, Importance, Vocab}

/** ExactSubstr span dedup, vocabulary building, importance scoring. */
class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  // doc 1 and 2 share the 5-token run "one two three four five" (a single
  // maximal span from two overlapping duplicated 4-grams); doc 3 repeats a
  // 4-gram INSIDE itself; doc 4 is clean; doc 5 is too short to carry a gram.
  private val docs = Seq(
    (1L, "one two three four five alpha beta gamma"),
    (2L, "xx one two three four five yy zz ww"),
    (3L, "p q r s mid p q r s"),
    (4L, "totally unique words nothing shared here"),
    (5L, "tiny doc")
  ).toDF("doc_id", "text")

  test("exactsubstr: overlapping duplicated grams merge into one maximal span") {
    val spans = ExactSubstr.duplicatedSpans(docs, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // doc 1: positions 0..4 ("one two three four five"); doc 2: 1..5;
    // doc 3: "p q r s" at 0..3 and 5..8 — gap 5-0=5 > k=4 -> two spans
    assert(spans == Set((1L, 0, 4), (2L, 1, 5), (3L, 0, 3), (3L, 5, 8)), spans)
  }

  test("exactsubstr: report counts, max span, fraction") {
    val rep = ExactSubstr.duplicationReport(docs, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))).toMap
    assert(rep.keySet == Set(1L, 2L, 3L), rep)
    assert(rep(1L) == ((1L, 5L, 5, 0.625)))       // 5 of 8 tokens
    assert(rep(2L) == ((1L, 5L, 5, 0.555556)))    // 5 of 9
    assert(rep(3L) == ((2L, 8L, 4, 0.888889)))    // 8 of 9
  }

  test("exactsubstr: removal cuts every occurrence, drops emptied docs, keeps clean text") {
    val planted = Seq(
      (1L, "dup dup dup dup"),                  // all duplicated -> vanishes
      (2L, "keep me dup dup dup dup and this"),
      (3L, "dup dup dup dup tail words here xx")
    ).toDF("doc_id", "text")
    val out = ExactSubstr.removeDuplicatedSpans(planted, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(2L -> "keep me and this", 3L -> "tail words here xx"), out)
  }

  test("exactsubstr: repartition-invariant") {
    val a = ExactSubstr.duplicationReport(docs, "doc_id", "text", 4)
      .collect().map(_.toSeq).toSet
    val b = ExactSubstr.duplicationReport(docs.repartition(7), "doc_id", "text", 4)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("vocab: counts, deterministic tie order, coverage sums to 1 at full k") {
    val d = Seq((1L, "b a a"), (2L, "c b A")).toDF("doc_id", "text")
    val rows = Vocab.topWords(d, "text", k = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // normalized: a=3, b=2, c=1; ties impossible here; ranks 1..3
    assert(rows.toSeq == Seq(
      (1L, "a", 3L, 0.5, 0.5),
      (2L, "b", 2L, 0.333333, 0.833333),
      (3L, "c", 1L, 0.166667, 1.0)), rows.toSeq)
  }

  test("vocab: k truncates after ordering") {
    val d = Seq((1L, "z z z y y x")).toDF("doc_id", "text")
    val rows = Vocab.topWords(d, "text", k = 2).collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("z", "y"))
  }

  test("vocab: per-group heavy hitters rank within each group, null groups dropped") {
    val d = Seq(
      ("en", "the the the cat"), ("en", "the dog"),
      ("de", "der der hund"), (null: String, "ignored words here"))
      .toDF("lang", "text")
    val rows = Vocab.topWordsPerGroup(d, "lang", "text", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // en: the=4, cat=1/dog=1 tie -> "cat" wins rank 2; de: der=2, hund=1
    assert(rows.toSet == Set(
      ("en", 1L, "the", 4L), ("en", 2L, "cat", 1L),
      ("de", 1L, "der", 2L), ("de", 2L, "hund", 1L)), rows.toSet)
  }

  test("importance: target-like docs outscore raw-like docs") {
    // target = lang 'en'; its vocabulary is disjoint from the rest, so en
    // tokens map to buckets with positive weight, de tokens negative
    val d = Seq(
      (1L, "apple banana cherry apple banana", "en"),
      (2L, "apple cherry banana banana apple", "en"),
      (3L, "zug blitz krampf zug blitz", "de"),
      (4L, "blitz krampf zug krampf zug", "de"),
      (5L, "apple banana zug cherry apple", "xx")   // mixed, mostly target-like
    ).toDF("doc_id", "text", "lang")
    val rep = Importance.importanceReport(d, "doc_id", "text", col("lang") === "en")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rep.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(rep(1L)._1 == 5L)
    val (en1, en2, de1, de2, mix) =
      (rep(1L)._2, rep(2L)._2, rep(3L)._2, rep(4L)._2, rep(5L)._2)
    assert(en1 > 0 && en2 > 0, s"target docs must score positive: $en1 $en2")
    assert(de1 < 0 && de2 < 0, s"off-target docs must score negative: $de1 $de2")
    assert(mix > de1 && mix < en1, s"mixed doc lands between: $mix")
  }

  test("importance: a target predicate matching no document fails loudly") {
    val d = Seq((1L, "apple banana", "en"), (2L, "zug blitz", "de"))
      .toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException] {
      Importance.importanceReport(d, "doc_id", "text", col("lang") === "fr")
    }
    assert(e.getMessage.contains("empty target sample"))
  }

  test("importance: scoreDocs is repartition-invariant and unseen buckets score 0") {
    val d = Seq((1L, "only new words here")).toDF("doc_id", "text")
    val w = Map("zz" -> 5.0) // no md5 prefix collides with a real 2-hex bucket of these words? use empty-effect map
    val row = Importance.scoreDocs(d, "doc_id", "text", w).head()
    // none of the 4 tokens hashes to literal bucket "zz" ('z' is not a hex digit)
    assert(row.getLong(1) == 4L && row.getDouble(2) == 0.0)
    val big = Seq.tabulate(100)(i => (i.toLong, s"w$i common token")).toDF("doc_id", "text")
    val weights = Importance
      .bucketWeights(big, big.filter(col("doc_id") % 2 === 0), "text")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val a = Importance.scoreDocs(big, "doc_id", "text", weights)
      .collect().map(_.toSeq).toSet
    val b = Importance.scoreDocs(big.repartition(9), "doc_id", "text", weights)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }
}
