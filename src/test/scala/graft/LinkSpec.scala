package graft

import org.apache.spark.sql.functions._
import graft.link.{ConnectedComponents, MinHashBlocking}

class LinkSpec extends SparkSpec {
  import spark.implicits._

  test("LSH sizing formula matches reference semantics (Clustering.scala:13-28,39-54)") {
    // base = ceil(ln(1-0.9)/ln(1-0.8)) = ceil(2.302/1.609) = 2
    assert(MinHashBlocking.numHashTables(0.8, 0.9) == 2)
    // scaled by log10(size), floored at base
    assert(MinHashBlocking.numHashTables(0.8, 0.9, 1000000L) == 12)
    assert(MinHashBlocking.numHashTables(0.8, 0.9, 1L) >= 2)
  }

  test("shingles: char n-grams, distinct, no truncation, short-string pad") {
    val df = Seq("abcd", "ab", "aaaa").toDF("s")
      .select(MinHashBlocking.shingles(col("s"), 3).as("sh"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) == Seq("abc", "bcd"))
    assert(got(1) == Seq("ab#"))
    assert(got(2) == Seq("aaa")) // distinct
  }

  test("candidate pairs: aliases pair up, distinct entities do not") {
    val mentions = Seq(
      (1L, "alice johnson", "person"),
      (2L, "alice johnsonn", "person"), // typo alias
      (3L, "bob smith", "person"),
      (4L, "acme corp", "org"),
      (5L, "acme corpp", "org") // typo alias
    ).toDF("id", "norm", "mtype")
      .withColumn("shingles", MinHashBlocking.shingles(col("norm"), 3))
    val pairs = MinHashBlocking.candidatePairs(
      mentions, "id", "shingles", threshold = 0.6, extraKey = Seq("mtype"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((4L, 5L)))
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(1L, 3L) || Set(a, b) == Set(2L, 3L) })
    // cross-type never pairs even if similar
    assert(!pairs.exists { case (a, b) => (a <= 3) != (b <= 3) })
  }

  // test-name suffix -> limit. Default: one union-find task; 0: star
  // rounds to the fixpoint
  private val ccPaths = Seq(
    "" -> ConnectedComponents.LocalFinishEdges, " (star rounds)" -> 0L)

  ccPaths.foreach { case (path, limit) =>
    test(s"connected components: chain, separate component, isolated vertex$path") {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
      val cc = ConnectedComponents.run(edges, localFinishEdges = limit)
        .as[(Long, Long)].collect().toMap
      assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
      assert(Seq(10L, 11L).forall(cc(_) == 10L))
      val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("id")
      val comp = ConnectedComponents.components(verts, "id", edges)
        .select("id", "component").as[(Long, Long)].collect().toMap
      assert(comp(99L) == 99L) // isolated -> own singleton
      assert(comp(4L) == 1L)
    }

    test(s"connected components: star and cycle converge$path") {
      val star = (2L to 20L).map(i => (1L, i)).toDF("src", "dst")
      val ccStar = ConnectedComponents.run(star, localFinishEdges = limit)
        .as[(Long, Long)].collect()
      assert(ccStar.length == 20 && ccStar.forall(_._2 == 1L))
      val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (7L, 7L)).toDF("src", "dst")
      val ccCycle = ConnectedComponents.run(cycle, localFinishEdges = limit)
        .as[(Long, Long)].collect().toMap
      assert(ccCycle.keySet == Set(1L, 2L, 3L, 4L) && ccCycle.values.forall(_ == 1L))
    }
  }

  test("connected components: same (id, component) set at 3 and 17 shuffle partitions") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 400).map(_ => (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .toDF("src", "dst")
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    def at(n: Int, limit: Long) = {
      spark.conf.set(key, n.toString)
      try ConnectedComponents.run(edges, localFinishEdges = limit)
        .as[(Long, Long)].collect().toSet
      finally spark.conf.set(key, before)
    }
    ccPaths.foreach { case (path, limit) =>
      val a = at(3, limit)
      assert(a.nonEmpty)
      assert(at(17, limit) == a, s"limit $limit")
    }
  }

  test("connected components: the union-find finish launches at most half the star jobs") {
    // a 16-node path takes 5 star rounds
    val path16 = (1L until 16L).map(i => (i, i + 1)).toDF("src", "dst")
    def jobs(limit: Long): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.testhooks.Listeners.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try {
        val got = ConnectedComponents.run(path16, localFinishEdges = limit).collect()
        assert(got.length == 16)
        org.apache.spark.testhooks.Listeners.drain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    val (finish, star) = (jobs(ConnectedComponents.LocalFinishEdges), jobs(0L))
    info(s"jobs: union-find finish $finish, star rounds $star")
    assert(finish * 2 <= star, s"union-find finish $finish jobs vs star rounds $star")
  }

  test("numBits: corpus-scaled signature width holds expected bucket size flat") {
    assert(MinHashBlocking.numBits(500L) == 4) // floor
    assert(MinHashBlocking.numBits(1024L * 1024) == 10)
    assert(MinHashBlocking.numBits(1000000000L) == 20) // 10^9 -> ~10^6 buckets
    assert(MinHashBlocking.numBits(0L) == 4)
  }

  test("capBuckets: hot buckets dropped entirely, cold buckets intact") {
    val rows = ((1 to 100).map(i => ("hot", i.toLong)) ++
      Seq(("cold", 200L), ("cold", 201L), ("solo", 300L))).toDF("b", "id")
    val capped = MinHashBlocking.capBuckets(rows, Seq("b"), maxBucket = 10)
      .select("b", "id").as[(String, Long)].collect()
    assert(!capped.exists(_._1 == "hot"))
    assert(capped.count(_._1 == "cold") == 2 && capped.count(_._1 == "solo") == 1)
  }

}
