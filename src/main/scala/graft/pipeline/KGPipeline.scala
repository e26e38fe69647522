package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.Checkpoint
import graft.extract.Extraction
import graft.graph.Materialize
import graft.ingest.Transcripts
import graft.link.{Canonicalize, MinHashBlocking}
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
      repartitionInput: Option[Int] = None,
      /** Cache the SMALL multi-consumer stages (mentions, entities — a few
        * rows per distinct normalized mention). Checkpointed runs get the
        * same effect from the stage parquet. */
      cacheIntermediate: Boolean = true,
      /** Also cache the LARGE stages (triples_raw, canonical_triples).
        * Measured: the columnar cache build of an 8M-row triple table costs
        * more than recomputing its (codegen) extraction DAG twice — so this
        * is off by default and only worth it when MANY consumers follow
        * (e.g. the driver-contract kg4/kg5/kg6/kg7 query family). */
      cacheLarge: Boolean = false)

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
        repartitionInput = opt("repartitionInput").map(_.toInt),
        cacheIntermediate = opt("cacheIntermediate").forall(_.toBoolean),
        cacheLarge = opt("cacheLarge").exists(_.toBoolean))
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

  def run(spark: SparkSession, transcripts: DataFrame,
          cfg: Config = Config()): Result = {
    def stage(name: String, parts: Seq[String] = Nil)(f: => DataFrame): DataFrame =
      cfg.checkpointDir match {
        case Some(d) => Checkpoint.stage(spark, d, name, parts)(f)
        case None => f
      }
    val input = cfg.repartitionInput match {
      case Some(n) => Transcripts.repartitionForScale(transcripts, n)
      case None => transcripts
    }
    val turns = Transcripts.stableTurns(input)
    runFromTriples(spark, stage("triples_raw") { Extraction.triplesRaw(turns) }, cfg)
  }

  /** Downstream stages over an already-extracted raw-triple table (entry
    * point for the incremental path, [[Incremental.finalizeGraph]]). */
  def runFromTriples(spark: SparkSession, triplesRawIn: DataFrame,
                     cfg: Config = Config()): Result = {

    def stage(name: String, parts: Seq[String] = Nil)(f: => DataFrame): DataFrame =
      cfg.checkpointDir match {
        case Some(d) => Checkpoint.stage(spark, d, name, parts)(f)
        case None => f
      }
    // multi-consumer stages: cache only when not already parquet-backed
    def shared(df: DataFrame): DataFrame =
      if (cfg.cacheIntermediate && cfg.checkpointDir.isEmpty) df.cache() else df
    def sharedLarge(df: DataFrame): DataFrame =
      if (cfg.cacheLarge && cfg.checkpointDir.isEmpty) df.cache() else df

    val triplesRaw = sharedLarge(triplesRawIn)

    val mentions = shared(stage("mentions") {
      Extraction.mentions(triplesRaw)
        .withColumn("shingles", MinHashBlocking.shingles(col("norm"), cfg.shingleSize))
    })

    val pairs = stage("pairs") {
      MinHashBlocking.candidatePairs(
        mentions, "mention_id", "shingles",
        threshold = cfg.jaccardThreshold,
        extraKey = Seq("mention_type"),
        maxBucket = cfg.maxBucket)
    }

    val entities = shared(stage("entities") {
      Canonicalize.entities(mentions.drop("shingles"), pairs)
    })

    val canonicalTriples = sharedLarge(stage("canonical_triples") {
      Canonicalize.canonicalTriples(triplesRaw, entities)
    })

    val nodes = stage("nodes") { Materialize.nodes(canonicalTriples, entities) }
    val edges = stage("edges") { Materialize.edges(canonicalTriples) }
    val nodeSchema = stage("node_schema") { SchemaDiscovery.nodeTypeSchema(canonicalTriples) }
    val edgeSchema = stage("edge_schema") { SchemaDiscovery.edgeTypes(canonicalTriples) }
    val tripleSet = stage("triple_set") { Materialize.tripleSet(canonicalTriples) }

    Result(triplesRaw, mentions, pairs, entities, canonicalTriples,
      nodes, edges, nodeSchema, edgeSchema, tripleSet)
  }
}
