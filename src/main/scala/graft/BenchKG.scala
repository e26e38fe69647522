package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.KGPipeline

/** Diagnostic: per-stage wall breakdown of the KG pipeline.
  * args: <threads> <fixtureDir> [cache|nocache|pipeline] [shufflePartitions] [trials] */
object BenchKG {
  def main(args: Array[String]): Unit = {
    val threads = args(0).toInt
    val fixture = args(1)
    val mode = if (args.length < 3) "cache" else args(2)
    val useCache = mode == "cache"
    val parts = if (args.length > 3) args(3).toInt else 64
    val trials = if (args.length > 4) args(4).toInt else 3
    val builder = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-bench-kg")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    if (sys.env.contains("GRAFT_NO_INFER_GEN"))
      builder.config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "probe") {
      // workload-representative hardware probe: string materialization +
      // regex + shuffle-free agg, same op mix as extraction (memory-bandwidth
      // bound, unlike a cache-resident hash loop)
      for (i <- 1 to trials) {
        val t0 = System.nanoTime()
        spark.range(0, 6000000L, 1, threads * 4)
          .select(concat(lit("conv_"), lpad((col("id") % 1000000).cast("string"), 8, "0"),
            lit(" works at Acme Corp in Springfield today.")).as("s"))
          .select(sum(length(regexp_replace(lower(col("s")), "[^a-z0-9 ]", ""))).as("n"))
          .head()
        println(f"[probe] threads=$threads trial=$i wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      spark.stop()
      return
    }
    if (mode == "pipeline") {
      // exactly what Bench's scaling pair times: full pipeline count
      val tr = spark.read.parquet(s"$fixture/transcripts")
      tr.count()
      val cfg = KGPipeline.Config.fromSession(spark)
      // per-trial executor-side totals (spill is the first thing to check
      // when a 10x fixture runs superlinear): reset at trial start
      val mSpillMem = new java.util.concurrent.atomic.AtomicLong
      val mSpillDisk = new java.util.concurrent.atomic.AtomicLong
      val mShufWrite = new java.util.concurrent.atomic.AtomicLong
      val mGcMs = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            mSpillMem.addAndGet(m.memoryBytesSpilled)
            mSpillDisk.addAndGet(m.diskBytesSpilled)
            mShufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            mGcMs.addAndGet(m.jvmGCTime)
          }
        }
      })
      for (i <- 1 to trials) {
        mSpillMem.set(0); mSpillDisk.set(0); mShufWrite.set(0); mGcMs.set(0)
        val t0 = System.nanoTime()
        val result = KGPipeline.run(spark, tr, cfg)
        val t1 = System.nanoTime()
        val triples = result.canonicalTriples.count()
        val t2 = System.nanoTime()
        // peak executor memory (local mode: executor == this JVM) — max of
        // per-pool peak heap usage since last reset, the endurance-run metric
        import scala.jdk.CollectionConverters._
        val peakHeap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
          .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum
        println(f"[pipeline] threads=$threads parts=$parts trial=$i " +
          f"wall=${(t2 - t0) / 1e9}%.2f s triples=$triples " +
          f"(construct+cc=${(t1 - t0) / 1e9}%.2f canonical=${(t2 - t1) / 1e9}%.2f) " +
          f"peakHeapGiB=${peakHeap / 1073741824.0}%.2f " +
          f"spillMemGiB=${mSpillMem.get / 1073741824.0}%.2f " +
          f"spillDiskGiB=${mSpillDisk.get / 1073741824.0}%.2f " +
          f"shufWriteGiB=${mShufWrite.get / 1073741824.0}%.2f " +
          f"gcSec=${mGcMs.get / 1000.0}%.1f")
        java.lang.management.ManagementFactory.getMemoryPoolMXBeans
          .asScala.foreach(p => try p.resetPeakUsage() catch { case _: Throwable => () })
        if (i == trials && sys.env.contains("GRAFT_EXPLAIN"))
          println(result.canonicalTriples.queryExecution.executedPlan.toString.take(6000))
      }
      spark.stop()
      return
    }
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[stage] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val tr = spark.read.parquet(s"$fixture/transcripts")
    t("count-input") { tr.count() }
    val turns = graft.ingest.Transcripts.stableTurns(tr)
    def force(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(length(col("text"))) + sum(length(col("role")))).head().getLong(0)
    t("stableTurns") { force(turns) }
    t("extract-no-dedup") { graft.extract.Extraction.triplesRaw(tr).count() }
    t("extract-composed-nocache") { graft.extract.Extraction.triplesRaw(turns).count() }
    val raw0 = graft.extract.Extraction.triplesRaw(turns)
    val raw = if (useCache) raw0.cache() else raw0
    t("extract+count") { raw.count() }
    val mentions0 = graft.extract.Extraction.mentions(raw)
      .withColumn("shingles", graft.link.MinHashBlocking.shingles(col("norm"), 3))
    val mentions = if (useCache) mentions0.cache() else mentions0
    t("mentions") { mentions.count() }
    val pairs = t("pairs") {
      val p = graft.link.MinHashBlocking.candidatePairs(
        mentions, "mention_id", "shingles", 0.6, extraKey = Seq("mention_type"))
      p.count(); p
    }
    val entities0 = graft.link.Canonicalize.entities(mentions.drop("shingles"), pairs)
    val entities = if (useCache) entities0.cache() else entities0
    t("entities(cc)") { entities.count() }
    val canon = graft.link.Canonicalize.canonicalTriples(raw, entities)
    t("canonical-join+count") { canon.count() }
    spark.stop()
  }
}
