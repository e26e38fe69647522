package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.Checkpoint
import graft.extract.Extraction
import graft.graph.Materialize
import graft.ingest.Transcripts
import graft.link.{Canonicalize, MinHashBlocking}
import graft.operators.Lineage
import graft.schemadisc.SchemaDiscovery

/**
 * End-to-end knowledge-graph construction pipeline (BASELINE north_rule):
 *
 *   transcripts → stable turns → triple extraction → mention table →
 *   MinHash-LSH blocking → connected-components canonicalization →
 *   canonical triples → schema discovery → node/edge tables
 *
 * Every stage optionally checkpoints to partitioned Parquet with a
 * `_metrics.json` lineage sidecar ([[Checkpoint]]), so a killed run resumes
 * at the stage it died in — the distributed rebuild of cs562_sdpg's
 * serialized-HashMap resume loop (`src2/main/scala/Main.scala:37-50`).
 *
 * Sharing: the five stages that more than one later stage reads
 * (`triples_raw`, `mentions`, `pairs`, `entities`, `canonical_triples`)
 * are computed once — read back from their stage Parquet when
 * `checkpointDir` is set, else cut with [[Lineage.cut]]; the input of
 * [[runFromTriples]] is the caller's and is not cut. Cut blocks are freed
 * once the [[Result]] is unreachable (hold it to keep them) and die with
 * their executor; `spark.graft.checkpointDir` ([[Config.fromSession]])
 * gives the Parquet-backed, fault-tolerant posture.
 */
object KGPipeline {

  final case class Config(
      jaccardThreshold: Double = 0.6,
      checkpointDir: Option[String] = None,
      shingleSize: Int = 3,
      maxBucket: Int = 10000,
      /** Salted range repartitioning of the input before extraction
        * ([[Transcripts.repartitionForScale]]): spreads hot conversations
        * (a single 10^6-turn conv would otherwise serialize one task) while
        * keeping conv-locality. Off by default — only worth an exchange when
        * the input's own file partitioning is skewed. */
      repartitionInput: Option[Int] = None)

  object Config {
    /** Build a Config from `spark.graft.*` session confs — the
      * spark-submit deployment surface for every pipeline knob, e.g.
      *
      *   spark-submit --conf spark.graft.checkpointDir=s3a://bucket/state ...
      *
      * Unset keys keep the code defaults. The same `checkpointDir` conf
      * also makes lineage cuts durable ([[graft.operators.Lineage]]). */
    def fromSession(spark: SparkSession): Config = {
      def opt(k: String): Option[String] = spark.conf.getOption(s"spark.graft.$k")
      Config(
        jaccardThreshold = opt("jaccardThreshold").map(_.toDouble).getOrElse(0.6),
        checkpointDir = opt("checkpointDir"),
        shingleSize = opt("shingleSize").map(_.toInt).getOrElse(3),
        maxBucket = opt("maxBucket").map(_.toInt).getOrElse(10000),
        repartitionInput = opt("repartitionInput").map(_.toInt))
    }
  }

  final case class Result(
      triplesRaw: DataFrame,
      mentions: DataFrame,
      pairs: DataFrame,
      entities: DataFrame,
      canonicalTriples: DataFrame,
      nodes: DataFrame,
      edges: DataFrame,
      nodeSchema: DataFrame,
      edgeSchema: DataFrame,
      tripleSet: DataFrame)

  /** One stage: Parquet-backed under `checkpointDir`, else lazy; a `shared`
    * stage (read by more than one later stage) is then lineage-cut. */
  private def stage(spark: SparkSession, cfg: Config, name: String, shared: Boolean = false)
                   (f: => DataFrame): DataFrame =
    cfg.checkpointDir match {
      case Some(d) => Checkpoint.stage(spark, d, name)(f)
      case None if shared => Lineage.cut(f)
      case None => f
    }

  def run(spark: SparkSession, transcripts: DataFrame,
          cfg: Config = Config()): Result = {
    val input = cfg.repartitionInput match {
      case Some(n) => Transcripts.repartitionForScale(transcripts, n)
      case None => transcripts
    }
    val turns = Transcripts.stableTurns(input)
    runFromTriples(spark,
      stage(spark, cfg, "triples_raw", shared = true) { Extraction.triplesRaw(turns) }, cfg)
  }

  /** Downstream stages over an already-extracted raw-triple table (entry
    * point for the incremental path, [[Incremental.finalizeGraph]]). */
  def runFromTriples(spark: SparkSession, triplesRaw: DataFrame,
                     cfg: Config = Config()): Result = {
    def shared(name: String)(f: => DataFrame) = stage(spark, cfg, name, shared = true)(f)
    def single(name: String)(f: => DataFrame) = stage(spark, cfg, name)(f)

    val mentions = shared("mentions") {
      Extraction.mentions(triplesRaw)
        .withColumn("shingles", MinHashBlocking.shingles(col("norm"), cfg.shingleSize))
    }

    val pairs = shared("pairs") {
      MinHashBlocking.candidatePairs(
        mentions, "mention_id", "shingles",
        threshold = cfg.jaccardThreshold,
        extraKey = Seq("mention_type"),
        maxBucket = cfg.maxBucket)
    }

    val entities = shared("entities") {
      Canonicalize.entities(mentions.drop("shingles"), pairs)
    }

    val canonicalTriples = shared("canonical_triples") {
      Canonicalize.canonicalTriples(triplesRaw, entities)
    }

    val nodes = single("nodes") { Materialize.nodes(canonicalTriples, entities) }
    val edges = single("edges") { Materialize.edges(canonicalTriples) }
    val nodeSchema = single("node_schema") { SchemaDiscovery.nodeTypeSchema(canonicalTriples) }
    val edgeSchema = single("edge_schema") { SchemaDiscovery.edgeTypes(canonicalTriples) }
    val tripleSet = single("triple_set") { Materialize.tripleSet(canonicalTriples) }

    Result(triplesRaw, mentions, pairs, entities, canonicalTriples,
      nodes, edges, nodeSchema, edgeSchema, tripleSet)
  }
}
