package kgbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.checkpoint.Checkpoint
import graft.extract.Extraction
import graft.ingest.Transcripts
import graft.link.{Canonicalize, MinHashBlocking}
import graft.graph.Materialize
import graft.pipeline.{Incremental, KGPipeline}
import graft.schemadisc.SchemaDiscovery
import Outputs.Digest

/** What one iteration produced: a digest per output frame, the triple set for
  * the golden check, and any failed in-iteration check. */
final case class Iteration(digests: Map[String, Digest], tripleSet: DataFrame,
                           failures: Seq[String])

trait Workload {
  def name: String
  def params: Gen.Params
  /** Generate the inputs; not part of set-up time. */
  def prepare(spark: SparkSession): Unit
  /** Input rows one iteration reads. */
  def inputRows: Long
  /** Golden triple set of the generated inputs. */
  def golden: Set[(String, String, String)]
  /** Digests every iteration must reproduce, computed without the code path
    * the iterations time. Called once, after the measured iterations. */
  def reference(spark: SparkSession): Option[Map[String, Digest]] = None
  /** Untimed preparation of one iteration. */
  def before(): Unit = ()
  def run(s: SparkSession, trace: Option[Trace]): Iteration
  /** Per-layer counts of the last traced iteration that are not task metrics. */
  def layerCounts: Map[String, Double] = Map.empty
  /** Untimed end of one iteration: record its storage counts, then clean up. */
  def after(): Unit = ()
}

object Workloads {
  val Names: Seq[String] = Seq("kg_entities", "kg_incremental")

  def apply(name: String, seed: Long, work: String): Workload = name match {
    // linking: many distinct mentions in alias chains, few turns each
    case "kg_entities" => new KgBuild(name, Gen.Params(seed, turns = 1500L,
      entities = 2500, aliasDepth = 4, hotShare = 0.02, replyChars = 60), work)
    // checkpointing: a small vocabulary, so linking is a small share
    case "kg_incremental" => new KgIncremental(Gen.Params(seed, turns = 2500L,
      entities = 300, aliasDepth = 2, hotShare = 0.02, replyChars = 200), work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  def collectTriples(df: DataFrame): Set[(String, String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from).iterator().asScala.toSeq
    all.foreach { src =>
      val dst = to.resolve(from.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def parquetFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .count(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toLong

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** The engine's output frames, in the order the benchmark forces them. */
  def frames(r: KGPipeline.Result): Seq[(String, DataFrame)] = Seq(
    "triples_raw" -> r.triplesRaw, "mentions" -> r.mentions, "pairs" -> r.pairs,
    "entities" -> r.entities, "canonical_triples" -> r.canonicalTriples,
    "nodes" -> r.nodes, "edges" -> r.edges, "node_schema" -> r.nodeSchema,
    "edge_schema" -> r.edgeSchema, "triple_set" -> r.tripleSet)

  def digests(r: KGPipeline.Result): Map[String, Digest] =
    frames(r).map { case (n, df) => n -> Outputs.digest(df) }.toMap

  val FrameNames: Set[String] = Set("triples_raw", "mentions", "pairs", "entities",
    "canonical_triples", "nodes", "edges", "node_schema", "edge_schema", "triple_set")

  /** The KG stages, in pipeline order, as the traced run names its spans. */
  val KgStages: Seq[String] = Seq("ingest.turns", "extract.triples", "extract.mentions",
    "link.pairs", "link.entities", "link.canon", "graph.materialize", "schemadisc.schema")
}

/**
 * The stage runner of a traced iteration. Each call opens a span, caches and
 * forces every frame it computes (so the span's self time is that layer's
 * work alone), records the frames' digests and rows, and hands each forced
 * frame to `write`, which runs inside the span.
 */
final class Stages(t: Trace, counts: mutable.Map[String, Double]) {
  val digests = mutable.Map.empty[String, Digest]

  def apply(span: String, write: (String, DataFrame) => DataFrame = (_, df) => df)
           (outs: => Seq[(String, DataFrame)]): Seq[DataFrame] = t.span(span) {
    val forced = outs.map { case (n, df) =>
      val c = df.cache()
      digests(n) = Outputs.digest(c)
      n -> c
    }
    val rows = s"$span.rows"
    counts(rows) = counts.getOrElse(rows, 0.0) + forced.map(o => digests(o._1).rows).sum
    if (span == "link.pairs")
      counts("link.pairs.yield") = Plans.pairsYield(forced.head._2, digests("pairs").rows)
    forced.map { case (n, c) => write(n, c) }
  }

  /** Digests of the engine's output frames. */
  def outputs: Map[String, Digest] = digests.filter(d => Workloads.FrameNames(d._1)).toMap
}

/** `KGPipeline.run` over one generated transcript table. */
final class KgBuild(val name: String, val params: Gen.Params, work: String) extends Workload {
  private val input = s"$work/input"
  private var rows = 0L
  private var gold = Set.empty[(String, String, String)]
  private val counts = mutable.Map.empty[String, Double]

  def inputRows: Long = rows
  def golden: Set[(String, String, String)] = gold
  override def layerCounts: Map[String, Double] = counts.toMap

  def prepare(spark: SparkSession): Unit = {
    val (turns, goldDf) = Gen.tables(spark, params)
    turns.write.mode("overwrite").parquet(input)
    gold = Workloads.collectTriples(goldDf)
    spark.catalog.clearCache()
    rows = spark.read.parquet(input).count()
  }

  def run(s: SparkSession, trace: Option[Trace]): Iteration = {
    val in = s.read.parquet(input)
    trace match {
      case None =>
        val r = KGPipeline.run(s, in)
        Iteration(Workloads.digests(r), r.tripleSet, Nil)
      case Some(t) => traced(s, t, in)
    }
  }

  /** The composition of `KGPipeline.run` with default config, one span per
    * layer call. The digests must equal the untraced run's. */
  private def traced(s: SparkSession, t: Trace, in: DataFrame): Iteration = {
    val cfg = KGPipeline.Config()
    counts.clear()
    val stage = new Stages(t, counts)
    val Seq(turns) = stage("ingest.turns")(Seq("turns" -> Transcripts.stableTurns(in)))
    val Seq(raw) = stage("extract.triples")(Seq("triples_raw" -> Extraction.triplesRaw(turns)))
    val Seq(mentions) = stage("extract.mentions")(Seq("mentions" ->
      Extraction.mentions(raw)
        .withColumn("shingles", MinHashBlocking.shingles(col("norm"), cfg.shingleSize))))
    val Seq(pairs) = stage("link.pairs")(Seq("pairs" ->
      MinHashBlocking.candidatePairs(mentions, "mention_id", "shingles",
        threshold = cfg.jaccardThreshold, extraKey = Seq("mention_type"),
        maxBucket = cfg.maxBucket)))
    val Seq(entities) = stage("link.entities")(Seq("entities" ->
      Canonicalize.entities(mentions.drop("shingles"), pairs)))
    val Seq(canon) = stage("link.canon")(Seq("canonical_triples" ->
      Canonicalize.canonicalTriples(raw, entities)))
    val Seq(_, _, tripleSet) = stage("graph.materialize")(Seq(
      "nodes" -> Materialize.nodes(canon, entities), "edges" -> Materialize.edges(canon),
      "triple_set" -> Materialize.tripleSet(canon)))
    stage("schemadisc.schema")(Seq(
      "node_schema" -> SchemaDiscovery.nodeTypeSchema(canon),
      "edge_schema" -> SchemaDiscovery.edgeTypes(canon)))
    Iteration(stage.outputs, tripleSet, Nil)
  }
}

/**
 * Incremental ingest over a committed base state: fresh increments and one
 * replay through `Incremental.ingest`, then `finalizeGraph` with stage
 * checkpoints, then a resume that reads every stage back.
 */
final class KgIncremental(val params: Gen.Params, work: String) extends Workload {
  val name = "kg_incremental"
  private val Increments = 2
  private val Replayed = 1
  private val StateKey = Seq("conv_id", "turn_idx", "subj_norm", "pred", "obj_norm")
  private val input = s"$work/input"
  private val baseState = Paths.get(s"$work/base_state")
  private val state = Paths.get(s"$work/state")
  private val ckpt = Paths.get(s"$work/stages")
  private var rows = 0L
  private var gold = Set.empty[(String, String, String)]
  private val counts = mutable.Map.empty[String, Double]

  def inputRows: Long = rows
  def golden: Set[(String, String, String)] = gold
  override def layerCounts: Map[String, Double] = counts.toMap

  private def part(s: SparkSession, k: Int): DataFrame = s.read.parquet(s"$input/part=$k")

  def prepare(spark: SparkSession): Unit = {
    // 70% of the turns form the base state, the rest spread evenly over the
    // increments, in a seeded order. Splitting turns, not conversations, keeps
    // the part sizes the same for every seed (a hot conversation holds 20x
    // the turns) and keeps every delivery of a turn in one part;
    // conversations continue across increments.
    val (turns, goldDf) = Gen.tables(spark, params)
    val key = Seq("conv_id", "turn_idx")
    val pct = (row_number().over(Window.orderBy(xxhash64(col("conv_id"), col("turn_idx"),
      lit(params.seed)))) - 1) * 100 / count(lit(1)).over()
    val parts = turns.select(key.map(col): _*).distinct()
      .withColumn("part", when(pct < 70, lit(0)).otherwise(pmod(pct.cast("int"), lit(Increments)) + 1))
    turns.join(parts, key)
      .write.mode("overwrite").partitionBy("part").parquet(input)
    gold = Workloads.collectTriples(goldDf)
    spark.catalog.clearCache()
    val perPart = spark.read.parquet(input).groupBy("part").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows = (1 to Increments).map(perPart).sum + perPart(Replayed)
    Workloads.rmrf(baseState)
    Incremental.ingest(spark, baseState.toString, part(spark, 0))
  }

  /** A batch `KGPipeline.run` over the union of base and increments: no
    * merge, no stage checkpoint. */
  override def reference(spark: SparkSession): Option[Map[String, Digest]] = {
    val r = Workloads.digests(KGPipeline.run(spark, spark.read.parquet(input).drop("part")))
    spark.catalog.clearCache()
    Some(r)
  }

  override def before(): Unit = {
    Workloads.rmrf(state); Workloads.rmrf(ckpt)
    Workloads.copyTree(baseState, state)
  }

  override def after(): Unit = {
    counts("checkpoint.merge.files") = Workloads.parquetFiles(state).toDouble
    counts("checkpoint.write.files") = Workloads.parquetFiles(ckpt).toDouble
    counts("checkpoint.read.files") = counts("checkpoint.write.files")
    counts("checkpoint.stored_mb") = (Workloads.bytesUnder(state) + Workloads.bytesUnder(ckpt)) / 1e6
    Workloads.rmrf(state); Workloads.rmrf(ckpt)
  }

  def run(s: SparkSession, trace: Option[Trace]): Iteration = {
    def span[A](n: String)(body: => A): A = trace.fold(body)(_.span(n)(body))
    val stages = trace.map { t => counts.clear(); new Stages(t, counts) }
    val failures = mutable.ArrayBuffer.empty[String]
    val st = state.toString
    def ingest(k: Int): Unit = stages match {
      case None => Incremental.ingest(s, st, part(s, k))
      case Some(stage) =>
        // `Incremental.ingest`, one span per layer
        val Seq(turns) = stage("ingest.turns")(Seq("inc_turns" -> Transcripts.stableTurns(part(s, k))))
        val Seq(raw) = stage("extract.triples")(Seq("inc_triples" -> Extraction.triplesRaw(turns)))
        span("checkpoint.merge") { Checkpoint.mergeIncrement(s, st, "inc_triples", raw, StateKey) }
    }
    for (k <- 1 to Increments) ingest(k)
    val before = Checkpoint.recordedRows(s, st, "inc_triples")
    ingest(Replayed)
    val after = Checkpoint.recordedRows(s, st, "inc_triples")
    if (before.isEmpty || before != after)
      failures += s"replayed increment changed the state rows: $before -> $after"
    val cfg = KGPipeline.Config(checkpointDir = Some(ckpt.toString))
    val written = stages match {
      case None => Workloads.digests(Incremental.finalizeGraph(s, st, cfg))
      case Some(stage) => finalizeTraced(s, trace.get, stage, st, cfg)
    }
    // the resume finds every stage complete and reads it back
    val (resumed, read) = span("checkpoint.read") {
      val r = Incremental.finalizeGraph(s, st, cfg)
      (r, Workloads.digests(r))
    }
    val diff = Outputs.mismatches(written, read)
    if (diff.nonEmpty) failures += s"resume read back different frames: ${diff.mkString(",")}"
    Iteration(written, resumed.tripleSet, failures.toSeq)
  }

  /** `Incremental.finalizeGraph` with stage checkpoints, one span per layer:
    * each stage is computed and forced in its KG span, then written by
    * `Checkpoint.stage` in a `checkpoint.write` child span, and the next
    * stage reads the written parquet, as the engine's checkpointed run does. */
  private def finalizeTraced(s: SparkSession, t: Trace, stage: Stages, st: String,
                             cfg: KGPipeline.Config): Map[String, Digest] = {
    val dir = cfg.checkpointDir.get
    val write: (String, DataFrame) => DataFrame =
      (n, df) => t.span("checkpoint.write") { Checkpoint.stage(s, dir, n)(df) }
    val raw = Checkpoint.readMerged(s, st, "inc_triples")
    t.span("checkpoint.read") { stage.digests("triples_raw") = Outputs.digest(raw) }
    val Seq(mentions) = stage("extract.mentions", write)(Seq("mentions" ->
      Extraction.mentions(raw)
        .withColumn("shingles", MinHashBlocking.shingles(col("norm"), cfg.shingleSize))))
    val Seq(pairs) = stage("link.pairs", write)(Seq("pairs" ->
      MinHashBlocking.candidatePairs(mentions, "mention_id", "shingles",
        threshold = cfg.jaccardThreshold, extraKey = Seq("mention_type"),
        maxBucket = cfg.maxBucket)))
    val Seq(entities) = stage("link.entities", write)(Seq("entities" ->
      Canonicalize.entities(mentions.drop("shingles"), pairs)))
    val Seq(canon) = stage("link.canon", write)(Seq("canonical_triples" ->
      Canonicalize.canonicalTriples(raw, entities)))
    stage("graph.materialize", write)(Seq(
      "nodes" -> Materialize.nodes(canon, entities), "edges" -> Materialize.edges(canon),
      "triple_set" -> Materialize.tripleSet(canon)))
    stage("schemadisc.schema", write)(Seq(
      "node_schema" -> SchemaDiscovery.nodeTypeSchema(canon),
      "edge_schema" -> SchemaDiscovery.edgeTypes(canon)))
    stage.outputs
  }
}
