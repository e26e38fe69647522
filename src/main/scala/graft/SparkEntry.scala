package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Lineage
import org.apache.spark.sql.expressions.Window
import graft.extract.Extraction
import graft.fixtures.TranscriptGen
import graft.pipeline.KGPipeline
import graft.schemadisc.SchemaDiscovery
import graft.sources.EventTranscripts

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator family from SURVEY.md §2 (or a
  * training-data-pipeline extension); `oracleSql` gives the DuckDB-equivalent
  * SQL over the same parquet tables. Double aggregations go through
  * DECIMAL(18,2) before the final double cast so both engines aggregate
  * exactly (order-independent) — raw double sums are not associative.
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Flagship: full KG-construction pipeline on synthetic transcripts. */
  def entry(spark: SparkSession): DataFrame = {
    val tr = TranscriptGen.transcripts(spark, nConvs = 300)
    // spark.graft.* session confs (e.g. checkpointDir, jaccardThreshold)
    // flow into the pipeline — the spark-submit deployment surface
    KGPipeline.run(spark, tr, KGPipeline.Config.fromSession(spark)).tripleSet
  }

  // shared-stage memo ([[memoDF]]): the stable turns table is the input
  // every kg-family query reads; built + lineage-cut by its first consumer
  private def eventsTranscripts(s: SparkSession, dir: String): DataFrame =
    memoDF(s, dir, "turns") {
      EventTranscripts.fromEvents(tbl(s, dir, "events"))
    }

  // er3 Fellegi–Sunter field parameters: (agreement col, m = P(agree |
  // match), u = P(agree | non-match)) — fixed (offline-estimated in a
  // real deployment); the SAME Scala doubles feed the Spark literals and
  // the oracle SQL (shortest round-trip repr parses to identical bits)
  private val er3Fields = Seq(
    ("agree_lang", 0.95, 0.30),
    ("agree_source", 0.90, 0.20),
    ("agree_len", 0.90, 0.25),
    ("agree_tokens", 0.85, 0.05))

  private def er3WeightSql: String = er3Fields.map { case (f, m, u) =>
    s"CASE WHEN $f THEN ${math.log(m / u)} ELSE ${math.log((1 - m) / (1 - u))} END"
  }.mkString(" + ")

  // shared er3/er4 oracle blocks: sorted-neighborhood candidates, per-pair
  // agreement booleans, and the Fellegi–Sunter `scored` table
  private def er3OracleCtes: String =
    s"""k AS (SELECT doc_id, substring(lower(text), 1, 24) AS key
       |  FROM documents),
       |s AS (SELECT doc_id, key, substring(key, 1, 2) AS b,
       |    row_number() OVER (PARTITION BY substring(key, 1, 2)
       |      ORDER BY key, doc_id) AS rn
       |  FROM k),
       |p AS (SELECT least(a.doc_id, c.doc_id) AS id_a,
       |    greatest(a.doc_id, c.doc_id) AS id_b
       |  FROM s a JOIN s c ON a.b = c.b AND c.rn - a.rn BETWEEN 1 AND 3),
       |d AS (SELECT doc_id, lang, source,
       |    list_distinct(string_split(text, ' ')) AS w,
       |    length(text) AS n
       |  FROM documents),
       |j AS (SELECT p.id_a, p.id_b,
       |    da.lang = db.lang AS agree_lang,
       |    da.source = db.source AS agree_source,
       |    least(da.n, db.n) * 10 >= greatest(da.n, db.n) * 8 AS agree_len,
       |    2 * len(list_intersect(da.w, db.w))
       |      >= len(da.w) + len(db.w) - len(list_intersect(da.w, db.w))
       |      AS agree_tokens
       |  FROM p JOIN d da ON p.id_a = da.doc_id
       |         JOIN d db ON p.id_b = db.doc_id),
       |scored AS (SELECT id_a, id_b, agree_lang, agree_source, agree_len,
       |    agree_tokens, round($er3WeightSql, 6) AS score
       |  FROM j)""".stripMargin

  /** er3/er4 shared stage: Fellegi–Sunter-scored er2 candidate pairs
    * (session-memoized — er4 clusters exactly the er3 score table). */
  private def er3Scored(s: SparkSession, dir: String): DataFrame =
    memoDF(s, dir, "er3") { er3ScoredBuild(s, dir) }
  private def er3ScoredBuild(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val key = substring(lower(col("text")), 1, 24)
    val pairs = graft.link.SortedNeighborhood.pairs(docs, "doc_id",
      sortKey = key, bucketKey = substring(key, 1, 2), windowSize = 4)
    def side(sfx: String) = docs.select(col("doc_id").as(s"id_$sfx"),
      col("lang").as(s"_l$sfx"), col("source").as(s"_s$sfx"),
      array_distinct(split(col("text"), " ")).as(s"_w$sfx"),
      length(col("text")).as(s"_n$sfx"))
    val j = pairs.join(side("a"), Seq("id_a")).join(side("b"), Seq("id_b"))
    val inter = size(array_intersect(col("_wa"), col("_wb")))
    val withAgree = j
      .withColumn("agree_lang", col("_la") === col("_lb"))
      .withColumn("agree_source", col("_sa") === col("_sb"))
      .withColumn("agree_len", least(col("_na"), col("_nb")) * 10
        >= greatest(col("_na"), col("_nb")) * 8)
      .withColumn("agree_tokens",
        inter * 2 >= size(col("_wa")) + size(col("_wb")) - inter)
    graft.link.MatchScoring.score(withAgree, er3Fields)
      .select("id_a", "id_b", "agree_lang", "agree_source", "agree_len",
        "agree_tokens", "score")
  }

  /** Shared stage for the raw-extraction query family (kg2/kg3/kg14/
    * kg15/kg19/kg20/kg22/kg32/kg34/kg36): the full-width per-turn triple
    * extraction over the memoized turns table. Session-memoized: every
    * consumer is a projection of this ONE frame, so row identity is
    * trivial; previously each query re-ran the extraction chain. */
  private def rawTriples(s: SparkSession, dir: String): DataFrame =
    memoDF(s, dir, "triples_raw") {
      Extraction.triplesRaw(eventsTranscripts(s, dir))
    }

  /** kg11/kg12 shared stage: the 5-round label-propagation assignment
    * (session-memoized — kg12's modularity scores kg11's exact labels). */
  private def kgCommunities(s: SparkSession, dir: String): DataFrame =
    memoDF(s, dir, "communities") {
      graft.graph.LabelPropagation.run(
        eventsPipeline(s, dir).tripleSet
          .select(col("subj").as("src"), col("obj").as("dst")),
        rounds = 5)
    }

  /** dd2/er1 shared stage: the verified MinHash near-dup pair table over
    * the documents corpus (session-memoized — er1 is the blocking-quality
    * audit OF the dd2 blocker, so it reads the same pair table). */
  private def docMinhashPairs(s: SparkSession, dir: String): DataFrame =
    memoDF(s, dir, "minhash_pairs") {
      graft.textops.Dedup.minhashPairs(tbl(s, dir, "documents"),
        "doc_id", "text", 0.8)
    }

  /** kg39/kg40 shared stage: the DeepWalk walk corpus over the KG
    * (session-memoized — kg40's skip-grams consume kg39's exact corpus). */
  private def kgWalks(s: SparkSession, dir: String): DataFrame =
    memoDF(s, dir, "walks") {
      graft.graph.RandomWalks.walks(
        eventsPipeline(s, dir).tripleSet
          .select(col("subj").as("src"), col("obj").as("dst")),
        startFraction = 0.25, walksPerNode = 2, length = 4, salt = "walk")
    }

  /** kg32/kg33/kg37 shared stage: per-triple observation days -> validity
    * intervals (gap > 3 days splits). Triples re-join their turn's `ts`
    * on (conv_id, turn_idx) — the kg27 oracle precedent. Session-memoized:
    * the three temporal queries are views over ONE interval table. */
  private def validityIntervals(s: SparkSession, dir: String): DataFrame =
    memoDF(s, dir, "validity") { validityIntervalsBuild(s, dir) }
  private def validityIntervalsBuild(s: SparkSession, dir: String): DataFrame = {
    // the memoized turns + raw-triple frames are already lineage-cut, so
    // the extraction and the ts re-join share one build each
    val t = eventsTranscripts(s, dir)
    val tr = rawTriples(s, dir)
      .select(col("conv_id"), col("turn_idx"),
        col("subj_raw").as("subj"), col("pred"), col("obj_raw").as("obj"))
    val obs = tr
      .join(t.select(col("conv_id"), col("turn_idx"), col("ts")),
        Seq("conv_id", "turn_idx"))
      .select(col("subj"), col("pred"), col("obj"),
        floor(unix_timestamp(col("ts")) / 86400).cast("bigint").as("day"))
    graft.graph.TemporalValidity.intervals(
      obs, Seq("subj", "pred", "obj"), "day", maxGap = 3)
  }

  // kg4/kg5/kg6 are views over ONE pipeline execution — memoized per
  // (session, sfDir) so the harness timing reflects shared stages the way a
  // real deployment runs them. Single-session memo: cached Results hold
  // DataFrames, which strongly reference their SparkSession, so a
  // Weak/SoftHashMap keyed by session could never evict (the value pins the
  // key — round-2 ADVICE finding). Instead we keep AT MOST ONE (session,
  // sfDir)'s results and drop them the moment another arrives — bounded
  // retention without pretending to be GC-driven.
  //
  // The SAME posture extends to every other declared shared stage
  // ([[memoDF]]): the turns table (the pipeline input every kg query
  // reads), the kg39/kg40 walk corpus, the kg32/kg33/kg37 validity
  // intervals, and the er3/er4 scored pairs. Each is built (and its
  // lineage cut) by the FIRST consumer inside the timed run — nothing is
  // precomputed or persisted across runs; a deployment computes each of
  // these tables once and serves every downstream query from it.
  private val memoLock = new Object
  private var memoSession: java.lang.ref.WeakReference[SparkSession] =
    new java.lang.ref.WeakReference(null)
  private var memoDir: String = null
  private var memoResults: Map[String, KGPipeline.Result] = Map.empty
  private var memoFrames: Map[(String, String), DataFrame] = Map.empty
  private def ensureMemo(s: SparkSession, dir: String): Unit =
    if (!(memoSession.get eq s) || memoDir != dir) {
      memoSession = new java.lang.ref.WeakReference(s)
      memoDir = dir
      memoResults = Map.empty
      memoFrames = Map.empty
    }
  /** The sfDirs that hold memo entries. */
  private[graft] def memoDirs: Set[String] =
    memoLock.synchronized(memoResults.keySet ++ memoFrames.keySet.map(_._2))
  /** Session-scoped shared-stage memo: build once, lazy lineage cut
    * (first consumer materializes, later consumers reuse the cut). */
  private def memoDF(s: SparkSession, dir: String, key: String)
                    (build: => DataFrame): DataFrame =
    memoLock.synchronized {
      ensureMemo(s, dir)
      memoFrames.get((key, dir)) match {
        case Some(df) => df
        case None =>
          val df = Lineage.cut(build)
          memoFrames += ((key, dir) -> df)
          df
      }
    }
  private def eventsPipeline(s: SparkSession, dir: String): KGPipeline.Result =
    memoLock.synchronized {
      ensureMemo(s, dir)
      memoResults.get(dir) match {
        case Some(r) => r
        case None =>
          val r = KGPipeline.run(s, eventsTranscripts(s, dir),
            KGPipeline.Config(jaccardThreshold = 0.95))
          memoResults += dir -> r
          r
      }
    }

  /** Exact decimal-backed double sum (associative on both engines). */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational operator coverage (SURVEY §2.2-2.8) ----

    // A1/A3: hash aggregation with multiple measures (TPC-H Q1 shape)
    "q1_agg" -> ((s, dir) => tbl(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_rows"))),

    // J1/J4: two equi-joins, small dims broadcast (reference's manual
    // broadcast map, Clustering.scala:152-181, done declaratively)
    "q2_join_broadcast" -> ((s, dir) => tbl(s, dir, "orders")
      .join(broadcast(tbl(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(dsum(col("o_totalprice")).as("total_price"), count(lit(1)).as("n_orders"))),

    // W1/O1: top-1-per-group via row_number (ClusteringEvaluation.scala:17-22)
    "q3_window_top1" -> ((s, dir) => tbl(s, dir, "orders")
      .withColumn("rn", row_number().over(
        Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("top_order"),
        col("o_totalprice").as("top_price"))),

    // J3 + anti-join (the FN-set computation the reference hand-rolls with
    // left_outer + coalesce, ClusteringEvaluation.scala:48-55)
    "q4_anti_join" -> ((s, dir) => tbl(s, dir, "customer")
      .join(tbl(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_customers_no_orders"))),

    // P1+A2+A10: binary presence matrix -> required/optional property
    // discovery in one agg pass (Clustering.scala:89-134, Main.scala:268-295)
    "q5_required_props" -> ((s, dir) => {
      val bags = tbl(s, dir, "orders").select(
        col("o_orderstatus"),
        when(col("o_totalprice") > 100, lit("x")).as("p_high_value"),
        when(pmod(col("o_orderkey"), lit(10)) < 9, lit("y")).as("p_mostly"),
        lit("z").as("p_always"))
      SchemaDiscovery.requiredProperties(bags, "o_orderstatus",
        Seq("p_high_value", "p_mostly", "p_always"))
    }),

    // E1: union + value-dedup (idempotent resume merge, Main.scala:103-113)
    "q6_union_dedup" -> ((s, dir) => {
      val a = tbl(s, dir, "orders").select("o_custkey", "o_orderstatus")
      a.unionByName(a).distinct()
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n_distinct"))
    }),

    // J2 shape + left-outer + coalesce(lit(0)) (F2)
    "q7_left_outer_coalesce" -> ((s, dir) => {
      val perCust = tbl(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"))
      tbl(s, dir, "customer")
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_mktsegment")
        .agg(sum(coalesce(col("cnt"), lit(0L))).as("total_orders"),
          count(lit(1)).as("n_customers"))
    }),

    // ---- KG pipeline (BASELINE north_rule), oracle-checkable slice ----

    // stable turn ordering (input contract invariant)
    "kg1_transcripts" -> ((s, dir) =>
      eventsTranscripts(s, dir).select("conv_id", "turn_idx", "role", "text", "tool")),

    // per-turn triple extraction (DataToPattern.scala:11-73 analog)
    "kg2_triples_raw" -> ((s, dir) =>
      rawTriples(s, dir)
        .select(col("conv_id"), col("turn_idx"), col("subj_raw").as("subj"),
          col("pred"), col("obj_raw").as("obj"))),

    // mention table (distinct normalized mentions with occurrence counts)
    "kg3_mentions" -> ((s, dir) =>
      Extraction.mentions(rawTriples(s, dir))
        .select("mention_type", "norm", "n_occurrences")),

    // FULL pipeline end-to-end: extraction -> LSH blocking -> connected
    // components -> canonical triples. On clean templated input the linker
    // must produce the identity clustering (precision check), so the final
    // triple set is SQL-derivable.
    "kg4_triple_set" -> ((s, dir) => eventsPipeline(s, dir).tripleSet),

    // schema discovery over canonical triples (required/optional predicates)
    "kg5_node_schema" -> ((s, dir) => eventsPipeline(s, dir)
      .nodeSchema.select("label", "predicate", "n_with", "n_entities", "rate",
        "required", "optional")),

    // typed edge discovery with same-type self-edges dropped
    // (Clustering.scala:169 rule)
    "kg6_edge_types" -> ((s, dir) => eventsPipeline(s, dir)
      .edgeSchema.select("src_label", "predicate", "dst_label", "n_edges",
        "n_distinct_pairs")),

    // per-entity pattern strings + distinct pattern census (Pipeline-B
    // pattern merge, Main.scala:174-176 / M10)
    "kg7_patterns" -> ((s, dir) =>
      graft.schemadisc.SchemaDiscovery.entityPatterns(
        eventsPipeline(s, dir).canonicalTriples)
        .groupBy("pattern").agg(count(lit(1)).as("n_entities"))),

    // generalized schemaless pattern extraction (DataToPattern.scala:11-79):
    // two derived "unknown tables" — one header-labeled with an edge column,
    // one value-labeled with an UnknownNodeLabel tail — through the
    // dictionary scan + per-row (label, props, edges) census
    "kg8_untyped_patterns" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val partA = d.select(
        col("doc_id").cast("string").as("id"),
        col("source").as("title"),
        when(pmod(col("doc_id"), lit(7)) =!= 0, col("n_chars")).as("n_chars"),
        when(pmod(col("doc_id"), lit(5)) < 2,
          concat(lit("u"), pmod(col("doc_id"), lit(7)))).as("person_ref"))
      val partB = d.select(
        col("doc_id").cast("string").as("id"),
        when(pmod(col("doc_id"), lit(4)) === 0, lit("a Person entry"))
          .when(pmod(col("doc_id"), lit(4)) === 1, lit("some organization"))
          .when(pmod(col("doc_id"), lit(4)) === 2, col("lang")).as("kind"),
        col("n_chars").as("size"))
      import graft.schemadisc.PatternExtraction
      PatternExtraction.census(
        PatternExtraction.rowPatterns(partA)
          .unionByName(PatternExtraction.rowPatterns(partB)))
    }),

    // entity importance over the constructed KG: fixed-iteration damped
    // PageRank on the distinct (subj -> obj) edge set of the canonical
    // triples; the oracle unrolls the identical 10 power steps
    "kg9_pagerank" -> ((s, dir) => graft.graph.PageRank.run(
      eventsPipeline(s, dir).tripleSet
        .filter(col("subj").isNotNull && col("obj").isNotNull)
        .select(col("subj").as("src"), col("obj").as("dst")),
      iterations = 10, damping = 0.85)),

    // triangle census of the constructed KG: per-node triangle counts +
    // local clustering coefficient via degree-oriented wedge closure
    // (the O(m^1.5)-bounded MapReduce algorithm, skew-safe on hubs)
    "kg10_triangles" -> ((s, dir) => graft.graph.Triangles.perNode(
      eventsPipeline(s, dir).tripleSet
        .select(col("subj").as("src"), col("obj").as("dst")))),

    // community detection: 5 rounds of deterministic synchronous label
    // propagation (plurality label, smallest-label tie-break); the
    // oracle replays the identical rounds unrolled. Shared stage: kg12
    // scores exactly this assignment (memoDF — kg11 builds, kg12 reuses)
    "kg11_communities" -> ((s, dir) => kgCommunities(s, dir)),

    // community quality: Newman-Girvan modularity of the kg11 assignment
    // (exact integer e_c/d_c/m aggregates; one float chain, 6dp)
    "kg12_modularity" -> ((s, dir) => {
      val e = eventsPipeline(s, dir).tripleSet
        .select(col("subj").as("src"), col("obj").as("dst"))
      graft.graph.Modularity.perCommunity(e, kgCommunities(s, dir))
    }),

    // k-hop neighborhood extraction: minimum forward distance (<= 3) from
    // the 10 lexicographically-first employment subjects — the
    // retrieval-time subgraph primitive (user -> org -> city gives real
    // 2-hop expansion on this fixture); frontier BFS, one equi-join/round
    "kg13_khop" -> ((s, dir) => {
      val t = eventsPipeline(s, dir).tripleSet
      val e = t.filter(col("subj").isNotNull && col("obj").isNotNull)
        .select(col("subj").as("src"), col("obj").as("dst")).distinct()
      val seeds = t.filter(col("pred") === "works_at")
        .select(col("subj").as("node")).distinct().orderBy("node").limit(10)
      graft.graph.KHop.distances(e, seeds, k = 3)
    }),

    // PMI-weighted entity co-occurrence within conversations — the second
    // edge source for KG construction (association edges the predicate
    // rules have no pattern for); pair fan-out bounded per conversation
    "kg14_pmi" -> ((s, dir) => {
      val t = rawTriples(s, dir)
      val m = t.select(col("conv_id"), col("subj_norm").as("ent"))
        .unionByName(t.select(col("conv_id"), col("obj_norm").as("ent")))
      graft.graph.Cooccurrence.pmi(m, "conv_id", "ent")
    }),

    // triple provenance + temporal scoping: per (subj, pred, obj) the
    // observation count, conversation spread, and first/last observing
    // turn — the confidence/recency evidence a production KG carries on
    // every edge; one partial-agg groupBy over raw extractions
    "kg15_provenance" -> ((s, dir) =>
      rawTriples(s, dir)
        .groupBy(col("subj_norm").as("subj"), col("pred"),
          col("obj_norm").as("obj"))
        .agg(count(lit(1)).as("n_observations"),
          countDistinct(col("conv_id")).as("n_convs"),
          min(col("turn_idx")).as("first_turn"),
          max(col("turn_idx")).as("last_turn"))),

    // deterministic filtered negative sampling over the canonical triple
    // set — the KG-embedding training handoff (TransE corruption regime):
    // type-compatible candidates from the per-predicate object domain,
    // md5-rank candidate choice (reproducible across engines/retries),
    // true triples rejected by one anti-join
    "kg16_negatives" -> ((s, dir) =>
      graft.graph.NegativeSampling.corruptObjects(
        eventsPipeline(s, dir).tripleSet, k = 3)),

    // AMIE-style per-predicate functionality report — the schema-quality
    // signal that drives conflict detection and canonicalization QA
    // (a functional predicate asserting two objects for one subject is
    // either a linking error or a temporal conflict)
    "kg17_functionality" -> ((s, dir) =>
      graft.graph.RuleMining.functionality(eventsPipeline(s, dir).tripleSet)),

    // inverse-predicate discovery over the triple set augmented with the
    // materialized inverse edges a production KG carries (manages =
    // reports_to^-1) — AMIE-lite rule mining; finds the (p, q) pairs whose
    // edges mirror each other, with support + confidence
    "kg18_inverse" -> ((s, dir) => {
      val t = eventsPipeline(s, dir).tripleSet
      val withInv = t.unionByName(
        t.filter(col("pred") === "reports_to")
          .select(col("obj").as("subj"), lit("manages").as("pred"),
            col("subj").as("obj")))
      graft.graph.RuleMining.inversePairs(withInv, minSupport = 2L)
    }),

    // temporal conflict resolution — belief revision over the kg15
    // provenance: functional predicates keep the most recent assertion
    // (tie-break observation weight, then object), others pass through;
    // the winner is a partial-aggregable arg-min, not a window
    "kg19_resolved" -> ((s, dir) => {
      import s.implicits._
      val prov = rawTriples(s, dir)
        .groupBy(col("subj_norm").as("subj"), col("pred"),
          col("obj_norm").as("obj"))
        .agg(count(lit(1)).as("n_observations"),
          max(col("turn_idx")).as("last_turn"))
      graft.graph.ConflictResolution.resolveMostRecent(prov,
        Seq("works_at", "lives_in").toDF("pred"))
    }),

    // per-entity serving cards — degree, predicate diversity, dominant
    // outgoing predicate (arg-min struct, no window), first/last seen in
    // any slot; the entity-grain rollup a KG front-end reads
    "kg20_entity_cards" -> ((s, dir) => {
      val prov = rawTriples(s, dir)
        .groupBy(col("subj_norm").as("subj"), col("pred"),
          col("obj_norm").as("obj"))
        .agg(min(col("turn_idx")).as("first_turn"),
          max(col("turn_idx")).as("last_turn"))
      graft.graph.EntityCards.cards(prov)
    }),

    // AMIE composition-rule mining: p(x,z) ∧ q(z,y) ⇒ r(x,y) with CWA
    // confidence over distinct endpoint pairs — finds works_at ∧ based_in
    // ⇒ lives_in on this KG; one middle-keyed self-join + head join
    "kg23_composition" -> ((s, dir) => graft.graph.RuleMining
      .compositionRules(eventsPipeline(s, dir).tripleSet, minSupport = 2L)),

    // SPARQL-style basic-graph-pattern query over the constructed KG:
    // the cyclic 3-pattern "colleagues" conjunction (employee and their
    // manager share an employer — the kg23 composition rule's instances)
    // — each pattern a filtered projection (constant pred pushed to the
    // scan), every join an equi join on shared variables
    "kg24_bgp" -> ((s, dir) => graft.graph.Bgp.matchPatterns(
      eventsPipeline(s, dir).tripleSet,
      Seq(("?emp", "reports_to", "?mgr"),
        ("?mgr", "works_at", "?org"),
        ("?emp", "works_at", "?org")))),

    // graph QA telemetry: in/out/total degree histograms of the KG edge
    // set — the post-construction hub/under-link alarm; all partial
    // aggregates, output bounded by #distinct degrees
    "kg25_degrees" -> ((s, dir) => graft.graph.GraphTelemetry
      .degreeHistogram(eventsPipeline(s, dir).tripleSet
        .select(col("subj").as("src"), col("obj").as("dst")))),

    // SHACL-style schema enforcement: typed entities missing predicates
    // their label requires (discovery closes the loop by VALIDATING) —
    // object-only entities (the top manager, object-only orgs) are
    // exactly who fails subject-profile requirements
    "kg26_violations" -> ((s, dir) => {
      val r = eventsPipeline(s, dir)
      val t = r.tripleSet
      val subjT = Extraction.rules.foldLeft(lit(null).cast("string")) {
        (acc, rl) => when(col("pred") === rl.pred, lit(rl.subjType)).otherwise(acc)
      }
      val objT = Extraction.rules.foldLeft(lit(null).cast("string")) {
        (acc, rl) => when(col("pred") === rl.pred, lit(rl.objType)).otherwise(acc)
      }
      val mentions = t.select(col("subj").as("entity"), subjT.as("etype"))
        .unionByName(t.select(col("obj").as("entity"), objT.as("etype")))
      // lineage cuts: types (entity-grain, small) and the schema
      // (#labels × #preds) each drag the full cached-pipeline plan tree
      // into the validation join — cut, the kg26 static plan collapses
      // from ~13k printed lines / 341 scans to the anti-join itself
      val types = Lineage.cut(
        graft.graph.EntityTyping.plurality(mentions, "entity", "etype"))
      graft.schemadisc.Validation.requiredViolations(t, types,
        Lineage.cut(r.nodeSchema))
    }),

    // entity-type induction: plurality vote over the typed mention slots
    // the extraction rules fill (subj of works_at votes person, ...);
    // purity < 1 is the cross-type-merge alarm for canonicalization —
    // winner is an arg-min partial aggregate, never a window
    // discourse focus tracking: per turn, the most recently mentioned
    // subject at or before it — the anaphora/coreference substrate for
    // dialogue KG construction (chatter turns inherit the running focus);
    // the operator adds ONE conv-keyed Exchange + Sort + fused Window over
    // its input (PlanSpec pins it at the operator level; the extra shuffle
    // visible here belongs to the eventsTranscripts fixture adapter's
    // row_number derivation of turn_idx)
    "kg27_focus" -> ((s, dir) =>
      graft.extract.Discourse.focusTrack(eventsTranscripts(s, dir))),

    // anaphora-resolved extraction: chatter turns are deterministically
    // rewritten into pronoun-subject sentences (the planted-construction
    // pattern — the oracle replays the rewrite), then pronoun subjects
    // resolve to the most recent non-pronoun subject strictly before the
    // turn; same one-conv-window operator shape as kg27 (PlanSpec pins the
    // operator over a plain input)
    "kg28_coref" -> ((s, dir) => {
      val pron = element_at(
        array(lit("He"), lit("She"), lit("It"), lit("They")),
        (pmod(col("turn_idx"), lit(4)) + 1).cast("int"))
      val dial = eventsTranscripts(s, dir).withColumn("text",
        when(col("text").startsWith("Please"),
          concat(pron, lit(" works at org "),
            pmod(col("turn_idx"), lit(20)).cast("string"), lit(".")))
          .otherwise(col("text")))
      graft.extract.Discourse.resolveAnaphora(dial)
    }),

    // entity->tool affinity: which tools run while an entity is the
    // conversation's focus — the KG edge agent transcripts have and
    // document corpora don't; focus window + one (entity, tool) count agg
    "kg29_entity_tools" -> ((s, dir) =>
      graft.extract.Discourse.toolAffinity(eventsTranscripts(s, dir))),

    // KG snapshot delta: triples added/removed/kept between an early
    // transcript window (turn_idx < 10) and the rest — the incremental
    // maintenance primitive (export deltas, not full graphs, at 10^10
    // triples); one flag-union + one agg, no join (PlanSpec)
    "kg30_delta" -> ((s, dir) => {
      val t = eventsTranscripts(s, dir)
      def tr(d: org.apache.spark.sql.DataFrame) = Extraction.triplesRaw(d)
        .select(col("subj_raw").as("subj"), col("pred"),
          col("obj_raw").as("obj"))
      graft.graph.KGDelta.diff(
        tr(t.filter(col("turn_idx") < 10)),
        tr(t.filter(col("turn_idx") >= 10)))
    }),

    // hubs & authorities over the constructed KG: 5 fixed L1-normalized
    // HITS iterations on the distinct (subj -> obj) edge set — separates
    // referrer entities from referent entities, the link-analysis
    // complement of kg9's PageRank; the oracle unrolls the identical
    // half-steps (normalizers are one-row SUM aggregates, broadcast)
    "kg31_hits" -> ((s, dir) => graft.graph.Hits.run(
      eventsPipeline(s, dir).tripleSet
        .filter(col("subj").isNotNull && col("obj").isNotNull)
        .select(col("subj").as("src"), col("obj").as("dst")),
      iterations = 5)),

    // temporal validity intervals: per-triple observation days coalesce
    // into maximal runs with gaps > 3 days splitting intervals — the
    // temporal-KG materialization downstream of kg15 provenance; distinct
    // (triple, day) FIRST (map-side combine kills raw multiplicity), then
    // one window exchange; the final agg reuses the window partitioning
    "kg32_validity" -> ((s, dir) => validityIntervals(s, dir)),

    // temporal contradictions: same (subj, pred), different obj, validity
    // windows overlapping — what kg19's most-recent-wins revision
    // overruled, and for how long; one equi self-join of the (small)
    // kg32 interval table on the fact identity
    "kg33_contradictions" -> ((s, dir) =>
      graft.graph.TemporalValidity.contradictions(
        validityIntervals(s, dir), Seq("subj", "pred"), "obj")),

    // same-direction implication mining p(x,y) ⇒ q(x,y), completing the
    // AMIE family (kg17 functionality, kg18 inverse, kg23 composition):
    // the fixture's predicates have disjoint type signatures, so the body
    // `colleague` (shared employer: works_at ⋈ works_at on the org, the
    // AMIE body-materialization step) is mined against reports_to —
    // reports_to ⇒ colleague holds at ~0.93 ("managers work where their
    // reports do"), the reverse direction is weak, and that directional
    // gap is the subsumption signal a schema curator reads.
    // COST POSTURE (r6 rework): implicationRules itself is linear, but the
    // colleague BODY (works_at ⋈ works_at on the org) is group-quadratic
    // on hub orgs — the r5 form materialized, deduplicated, checkpointed
    // and re-self-joined 2.25M body facts from ONE dominant org at sf0.1
    // (~10^14 at 100×). implicationRulesWithCoMemberBody computes the
    // IDENTICAL output (RuleMiningSpec pins the equality) without ever
    // storing the pair set: supports come from two linear membership
    // joins; the one quadratic quantity left (the distinct body-pair
    // count) streams through a partial-agg count_distinct — an aggregate
    // pass, not a materialized table. Salting would not help here either
    // way: the cost was output volume, not reducer skew.
    "kg35_implications" -> ((s, dir) =>
      graft.graph.RuleMining.implicationRulesWithCoMemberBody(
        eventsPipeline(s, dir).tripleSet,
        eventsPipeline(s, dir).tripleSet.filter(col("pred") === "works_at")
          .select(col("subj"), col("obj")),
        bodyPred = "colleague", minSupport = 2L)),

    // GraphSAGE-style ego-net sampling — GNN training-data prep over the
    // constructed KG: hash-sampled egos (sm1's pushdown-able predicate on
    // nodes), then per hop ONE frontier×edges join + a per-(ego, node)
    // top-F the planner runs as WindowGroupLimit (hub nodes ship F rows
    // per ego map-side, never their degree); md5 decision keys make the
    // sample engine-portable and retry/repartition-invariant
    "kg38_egonets" -> ((s, dir) => graft.graph.EgoNets.sample(
      eventsPipeline(s, dir).tripleSet
        .select(col("subj").as("src"), col("obj").as("dst")),
      seedFraction = 0.25, fanouts = Seq(3, 2), salt = "ego")),

    // DeepWalk-style deterministic random-walk corpus — the skip-gram
    // training-sentence generator beside kg38's GraphSAGE sampling: each
    // step is one frontier×edges equi-join + a per-walk md5-arg-min
    // PARTIAL aggregate (map-side combine beats a window on hubs); the
    // walk is a pure function of (salt, start, walk_idx, step) —
    // replayable on retries and incremental rebuilds, no RNG state
    "kg39_walks" -> ((s, dir) => kgWalks(s, dir)),

    // skip-gram pair extraction over the kg39 walk corpus — the
    // (center, context) count table word2vec-style embedding training
    // consumes; one walk-keyed self-join (group size = walk length + 1,
    // a constant) + a partial-agg count
    "kg40_skipgrams" -> ((s, dir) =>
      graft.graph.RandomWalks.skipGrams(kgWalks(s, dir), window = 2)),

    // SHACL shape synthesis — the generator half of the schema loop whose
    // enforcement half is kg26: per (label, predicate) the constraint row
    // a curator publishes (target object class, min_count 1 when every
    // entity of the label carries the predicate, max_count = observed
    // per-subject fan-out ceiling; 1 = functional at this label)
    "kg36_shapes" -> ((s, dir) => {
      val td = rawTriples(s, dir)
        .select(col("subj_raw").as("subj"), col("pred"),
          col("obj_raw").as("obj"), col("subj_type"), col("obj_type"))
      graft.schemadisc.ShapeSynthesis.shapes(td)
    }),

    // current-KG snapshot: the facts valid at the corpus horizon — kg32
    // intervals whose last observation is within the 3-day gap tolerance
    // of the global max day; a one-row broadcast horizon into a pure
    // filter, THE query a serving layer runs against the temporal KG
    "kg37_snapshot" -> ((s, dir) =>
      graft.graph.TemporalValidity.asOf(
        validityIntervals(s, dir), asOfDay = None, grace = 3L)),

    // dictionary-encoded KG: dense lexicographic long ids for entities
    // (subj ∪ obj) and predicates, the triple set re-expressed as
    // (s_id, p_id, o_id) with its observation count — the 8-bytes-per-key
    // width trick every downstream shuffle inherits at 100 TB. Dense rank
    // at scale: range partition + local row_number + prefix offsets,
    // never a single-partition global window
    "kg34_encoded" -> ((s, dir) => {
      // lineage cut: encodeTriples reads its input four ways (subj ∪ obj
      // entity dict, predicate dict, and the encoded join probe) — without
      // the cut the extraction chain replays per consumer
      val tr = Lineage.cut(rawTriples(s, dir)
        .select(col("subj_raw").as("subj"), col("pred"), col("obj_raw").as("obj")))
      val (_, _, enc) = graft.graph.Dictionary.encodeTriples(
        tr, "subj", "pred", "obj")
      enc.groupBy("s_id", "p_id", "o_id").agg(count(lit(1)).as("n_obs"))
    }),

    "kg22_entity_types" -> ((s, dir) => {
      val t = rawTriples(s, dir)
      val m = t.select(col("subj_norm").as("entity"), col("subj_type").as("etype"))
        .unionByName(t.select(col("obj_norm").as("entity"), col("obj_type").as("etype")))
      graft.graph.EntityTyping.plurality(m, "entity", "etype")
    }),

    // link prediction over the constructed KG: top-30 non-adjacent pairs
    // by Adamic-Adar (+ common-neighbor and resource-allocation scores) —
    // KG completion's neighborhood baseline; witness weights are exact
    // BIGINT micro-units so the sums replay bit-identically in the oracle
    "kg21_linkpred" -> ((s, dir) => graft.graph.LinkPrediction.topCandidates(
      eventsPipeline(s, dir).tripleSet
        .select(col("subj").as("src"), col("obj").as("dst")),
      k = 30)),

    // cluster-majority evaluation — the reference's most relational plan
    // (ClusteringEvaluation.scala:8-65; SURVEY §3.3): agg + window +
    // inner/left-outer joins + coalesce, as one DataFrame
    "q8_eval_majority" -> ((s, dir) => {
      val assignments = tbl(s, dir, "customer").select(
        col("c_custkey").as("id"),
        col("c_mktsegment").as("predicted"),
        col("c_nationkey").cast("string").as("actual"))
      graft.eval.Metrics.clusterMajorityCounts(assignments)
    }),

    // multi-level aggregation (rollup): per (status, priority) with
    // subtotals — beyond the reference's flat groupBys (SURVEY §2.4 notes
    // grouping sets absent there)
    "q9_rollup" -> ((s, dir) => tbl(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total_price"))),

    // full grouping-sets lattice (cube): every (status, priority) subtotal
    // combination — the companion to q9's rollup, rounding out multi-level
    // aggregation (absent in the reference, SURVEY §2.4)
    "q11_cube" -> ((s, dir) => tbl(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total_price"))),

    // sessionization: gap-based session windows over the events stream
    // (lag + cumulative sum of gap flags), the standard telemetry shape
    "q10_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val tsUs = unix_micros(col("ts").cast("timestamp_ltz"))
      tbl(s, dir, "events")
        .withColumn("_us", tsUs)
        .withColumn("_prev", lag("_us", 1).over(w))
        .withColumn("_new", when(col("_prev").isNull ||
          col("_us") - col("_prev") > 1800L * 1000000L, 1).otherwise(0))
        .withColumn("session_idx", sum("_new").over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("session_value"),
          (max(col("_us")) - min(col("_us"))).as("duration_us"))
    }),

    // majority-vote column type inference (A11, src2/main/scala/Main.scala:
    // 299-318 — there a driver take(1000) loop; here one distributed
    // classify + groupBy + window-top-1 pass). Input poses as a schemaless
    // all-string ingest: every events column stringified, so the engine must
    // re-discover LONG/DOUBLE/BOOLEAN/TIMESTAMP/STRING from the values.
    "q12_infer_types" -> ((s, dir) => {
      val asStrings = tbl(s, dir, "events").select(
        col("event_id").cast("string").as("event_id_s"),
        col("value").cast("string").as("value_s"),
        col("ts").cast("string").as("ts_s"),
        (col("value") > 50).cast("string").as("flag_s"),
        col("event_type"),
        col("props"))
      SchemaDiscovery.inferColumnTypes(asStrings,
        Seq("event_id_s", "value_s", "ts_s", "flag_s", "event_type", "props"),
        sampleFraction = 1.0)
    }),

    // ---- training-data pipeline: deduplication ----

    // exact dedup: survivor per normalized text (input = two "snapshots")
    "dd1_exact_dedup" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val snapshot2 = d.withColumn("doc_id", col("doc_id") + 100000L)
      graft.textops.Dedup.exact(d.unionByName(snapshot2), "doc_id", "text")
    }),

    // MinHash+LSH near-dup pairs, exact-Jaccard verified (shared stage:
    // er1 audits exactly this pair table — memoDF, dd2 builds first)
    "dd2_minhash_pairs" -> ((s, dir) => docMinhashPairs(s, dir)),

    // blocking-quality audit of the dd2 MinHash blocker: pairs
    // completeness vs the exact-duplicate ground truth (identical text,
    // md5-digest self-join — 32-byte digests shuffle, never documents)
    // and reduction ratio vs the all-pairs space; identical docs share
    // every band bucket, so completeness is 1.0 unless a cap bites
    "er1_blocking_quality" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val h = docs.select(col("doc_id"), md5(col("text")).as("_h"))
      val truth = h.as("a").join(h.as("b"),
          col("a._h") === col("b._h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      val found = docMinhashPairs(s, dir)
        .select(col("id_a"), col("id_b"))
      graft.eval.Metrics.blockingQuality(docs, "doc_id", truth, found)
    }),

    // sorted-neighborhood blocking (Hernández-Stolfo): pair each doc with
    // its next 3 neighbors in (key, id) order within a 2-char key-prefix
    // bucket — the structural-pair-budget blocker beside dd2's LSH; the
    // pair list is ONE window + lead projection, no self-join (PlanSpec)
    "er2_sorted_neighborhood" -> ((s, dir) => {
      val key = substring(lower(col("text")), 1, 24)
      graft.link.SortedNeighborhood.pairs(
        tbl(s, dir, "documents"), "doc_id",
        sortKey = key, bucketKey = substring(key, 1, 2), windowSize = 4)
    }),

    // Fellegi–Sunter match scoring over the er2 candidate pairs — the ER
    // decision layer the reference's bucket-only linking lacks: per-field
    // agreement booleans (integer-arithmetic thresholds, no float
    // compares) weighed by fixed ln(m/u) log-likelihood ratios; a pure
    // projection over the blocked pair table, zero extra shuffle
    "er3_match_scores" -> ((s, dir) => er3Scored(s, dir)),

    // end-to-end ER capstone: er3 scores ≥ τ become links, links become
    // clusters via the same connected components the KG canonicalization
    // runs (large/small-star rounds with a one-task union-find finish);
    // output is the doc→cluster assignment table with cluster sizes —
    // block → score → threshold → cluster, the full Fellegi–Sunter
    // pipeline as one query (oracle CC = recursive CTE)
    "er4_er_clusters" -> ((s, dir) => {
      val links = er3Scored(s, dir).filter(col("score") >= 2.0)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val cc = graft.link.ConnectedComponents.run(links)
      val sizes = cc.groupBy("component").agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, Seq("component"))
        .select(col("id").as("doc_id"), col("component").as("cluster_id"),
          col("cluster_size"))
    }),

    // SimHash near-dup pairs (banded 64-bit, Hamming<=3). FULLY oracle-backed:
    // token hashes are md5-hex-digit-derived (portable — DuckDB re-derives
    // the 64 bit-sums), and the 4x16-bit banding is LOSSLESS for Hamming<=3
    // by pigeonhole, so the output equals the exact all-pairs Hamming filter
    // the oracle computes (bucket caps never bind at fixture scale).
    "dd3_simhash_pairs" -> ((s, dir) =>
      graft.textops.Dedup.simhashPairs(tbl(s, dir, "documents"), "doc_id", "text", 3)),

    // exact n-gram Jaccard within (lang, length-bucket) blocks; each doc
    // also probes the adjacent bucket so near-dups straddling a boundary
    // still pair (sorted-neighborhood-style blocking: pairs ~ O(n*k), not
    // O(n^2))
    "dd4_ngram_jaccard" -> ((s, dir) => {
      val blocked = tbl(s, dir, "documents")
        .withColumn("_bkt", floor(length(col("text")) / 8))
        .withColumn("_blk", explode(array(
          concat_ws("_", col("lang"), col("_bkt")),
          concat_ws("_", col("lang"), col("_bkt") + 1))))
      graft.textops.Dedup.ngramJaccardPairs(blocked, "doc_id", "text", "_blk", 0.5)
    }),

    // corpus-wide EXACT Jaccard join, NO blocks: AllPairs prefix filtering
    // (rare-first global token order), lossless size prune, exact verify.
    // The oracle brute-forces every pair — any recall loss would hash-fail
    "dd9_jaccard_join" -> ((s, dir) => graft.textops.Dedup
      .jaccardJoinExact(tbl(s, dir, "documents"), "doc_id", "text", 0.5)),

    // asymmetric containment join — the quote-inclusion / subset-duplicate
    // detector Jaccard is blind to (Broder's containment): a's shingles
    // mostly inside b; prefix-filtered exactly like dd9 but a-prefix
    // against b's FULL token index (ordered pairs, both directions)
    "dd11_containment" -> ((s, dir) => graft.textops.Dedup
      .containmentJoinExact(tbl(s, dir, "documents"), "doc_id", "text", 0.8)),

    // character-level edit-distance similarity join — the ER grain token
    // Jaccard misses (typos/aliases); every third customer name loses its
    // last character so the pair set exercises substitutions AND indels
    // across length buckets; lossless length blocking + banded verify
    "dd10_editdist" -> ((s, dir) => graft.textops.EditDistance.similarPairs(
      tbl(s, dir, "customer").select(col("c_custkey").as("id"),
        when(pmod(col("c_custkey"), lit(3)) === 0,
          expr("substring(c_name, 1, length(c_name) - 1)"))
          .otherwise(col("c_name")).as("name")),
      "id", "name", maxDist = 1)),

    // embedding-cosine near-dup via multi-table hyperplane-LSH. Oracle-backed
    // by construction: the corpus is the embeddings plus 1.001-scaled copies
    // of the first 50 vectors — positive scaling preserves every hyperplane
    // sign, so each copy lands in its original's bucket in EVERY table and
    // LSH recall on the planted pairs is deterministically 1.0; no natural
    // pair reaches cosine 0.999 (fixture max < 0.9), so the verified output
    // equals the exact >=0.999 pair set DuckDB computes all-pairs.
    "dd5_embed_pairs" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val planted = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("v"), x => x * 1.001).as("v"))
      graft.textops.Dedup.embeddingPairs(
        e.unionByName(planted), "vec_id", "v", 0.999)
    }),

    // Euclidean (bucketed-random-projection) near-neighbor pairs over the
    // embeddings plus planted 1.001-scaled copies (dist = 0.001 per pair;
    // no natural pair is within 0.01 of another). LSH blocks, exact-L2
    // verify; oracle re-derives the exact pair set via norm-band blocking
    // (reverse triangle inequality: |dist|<=0.01 forces ||a|-|b||<=0.01).
    "dd6_euclid_pairs" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val planted = e.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("v"), x => x * 1.001).as("v"))
      graft.ann.Similarity.euclideanPairs(e.unionByName(planted), "vec_id", "v", 0.01)
    }),

    // SemDeDup-style semantic dedup: cluster-assign (zero-exchange native
    // NearestCentroid projection), then greedy min-id prune within each
    // cell at cosine >= 0.999. Oracle-backed with DETERMINISTIC centroids
    // (the first 8 embeddings) so DuckDB re-derives the assignment; the
    // production path swaps in Similarity.ivfCentroids (Lloyd-refined) —
    // same mechanics, pinned here. Corpus plants 1.001-scaled copies of
    // the first 50 vectors (cosine 1.0 with their originals).
    "dd7_semantic_dedup" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val planted = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("v"), x => x * 1.001).as("v"))
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"), col("v").as("cvec"))
      graft.textops.Dedup.semanticDedup(
        e.unionByName(planted), "vec_id", "v", cents, 0.999)
    }),

    // incremental dedup: a new batch against accumulated corpus state —
    // (new x state) + (new x lower-id new) candidates only, state never
    // re-paired against itself. Increment = exact copies of state docs
    // (dropped via new-x-state), salted unique docs (survive; their words
    // appear nowhere in state so cross-jaccard is 0), and second copies of
    // ten salted docs at higher ids (dropped via new-x-lower-new). The
    // oracle re-derives the same greedy drop rule with exact all-pairs
    // jaccard over the reconstructed increment.
    "dd8_incremental_dedup" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val salted = concat_ws(" ",
        concat(lit("ua"), col("doc_id")), concat(lit("ub"), col("doc_id")),
        concat(lit("uc"), col("doc_id")), concat(lit("ud"), col("doc_id")),
        concat(lit("ue"), col("doc_id")))
      val copies = d.filter(col("doc_id") < 30)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val fresh = d.filter(col("doc_id") >= 30 && col("doc_id") < 70)
        .select((col("doc_id") + 100000L).as("doc_id"), salted.as("text"))
      val freshDup = d.filter(col("doc_id") >= 30 && col("doc_id") < 40)
        .select((col("doc_id") + 200000L).as("doc_id"), salted.as("text"))
      graft.textops.Dedup.minhashIncrement(
        copies.unionByName(fresh).unionByName(freshDup), d, "doc_id", "text", 0.8)
    }),

    // ---- training-data pipeline: similarity search ----

    "ann1_brute_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.ann.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 10)
    }),

    // LSH-bucketed ANN (scale path). Oracle-backed by construction: the
    // corpus adds, per query vector, ten scaled copies (x * (1 + m/1000),
    // m=1..10) — scaling preserves hyperplane signs, so every copy shares
    // the query's bucket in every table and is found deterministically; all
    // ten score cosine 1.0 (rounded), above any natural neighbor (< 0.9),
    // so the approximate top-10 EQUALS the exact top-10 DuckDB computes
    // brute-force (ties broken by neighbor_id on both engines).
    "ann2_lsh_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = emb.filter(col("vec_id") < 5)
      val copies = queries
        .select(col("vec_id"), col("v"), explode(sequence(lit(1), lit(10))).as("m"))
        .select((col("m").cast("long") * 100000L + col("vec_id")).as("vec_id"),
          transform(col("v"), x => x * (lit(1.0) + col("m") / lit(1000.0))).as("v"))
      graft.ann.Similarity.lshTopK(
        queries, emb.unionByName(copies), "vec_id", "v", 10)
    }),

    // IVF-Flat ANN (inverted-file coarse quantizer — the third ANN path
    // beside brute force and LSH). Probing ALL nLists cells makes the
    // result exactly the brute-force top-10 (each corpus vector lives in
    // exactly one cell), so the full index-build + probe machinery is
    // oracle-checked end-to-end; recall at partial probe (the approximate
    // regime) is asserted in AnnAndTextSpec.
    "ann3_ivf_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      graft.ann.Similarity.ivfTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "v", 10,
        nLists = 16, nProbe = 16)
    }),

    // int8-quantized brute-force top-k — the 4x memory/shuffle-footprint
    // index posture (FAISS SQ8 analog). Truncation-toward-zero codes and
    // exact small-integer dot products make the quantized cosine
    // bit-portable, so the oracle re-derives the EXACT result (not a
    // recall bound — that is asserted separately in AnnAndTextSpec).
    "ann4_quant_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.ann.Similarity.quantizedTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 10)
    }),

    // ---- training-data pipeline: text analysis ----

    "tx1_langid" -> ((s, dir) => tbl(s, dir, "documents")
      .select(col("doc_id"), graft.textops.TextAnalysis.langId(col("text")).as("lang_pred"))),

    "tx2_quality" -> ((s, dir) =>
      graft.textops.TextAnalysis.qualityFeatures(tbl(s, dir, "documents"), "doc_id", "text")),

    "tx3_tokens" -> ((s, dir) => tbl(s, dir, "documents").select(
      col("doc_id"),
      graft.textops.TextAnalysis.tokenCountWs(col("text")).as("n_ws_tokens"),
      graft.textops.TextAnalysis.tokenCountBpe(col("text")).as("n_bpe_tokens"))),

    "tx4_fingerprints" -> ((s, dir) =>
      graft.textops.TextAnalysis.fingerprints(tbl(s, dir, "documents"), "doc_id", "text")),

    // Gopher-style intra-doc repetition stats — pure per-row expressions
    "tx5_repetition" -> ((s, dir) =>
      graft.textops.TextAnalysis.repetitionStats(tbl(s, dir, "documents"), "doc_id", "text")),

    // TF-IDF keyphrases: top-3 most characteristic terms per document —
    // vocab-sized df broadcasts into the tf join, top-k plans as
    // WindowGroupLimit (PlanSpec); ln/multiply replay bit-identically in
    // the oracle (the kg14 PMI precedent); the persisted-tf scale path is
    // Keyphrases.tfidfTopKFromTf
    "tx11_keyphrases" -> ((s, dir) => graft.textops.Keyphrases
      .tfidfTopK(tbl(s, dir, "documents"), "doc_id", "text", k = 3)),

    // Flesch reading ease per doc (deterministic vowel-run syllables) —
    // the difficulty/curriculum signal beside tx2's quality score; a pure
    // per-row projection, plan-pinned exchange-free
    "tx12_readability" -> ((s, dir) => graft.textops.Readability
      .flesch(tbl(s, dir, "documents"), "doc_id", "text")),

    // ---- training-data pipeline: deterministic sampling ----
    // hash sampling = the 100 TB sampling method: the keep set is a pure
    // function of (seed, id) — stable under repartitioning/retries/engines
    // (df.sample() is none of those) — and the md5-hex decision key makes
    // the EXACT set independently derivable by the DuckDB oracle.

    "sm1_hash_sample" -> ((s, dir) => graft.textops.Sampling
      .hashSample(tbl(s, dir, "documents"), "doc_id", 0.25, seed = "s1")
      .select(col("doc_id"), col("lang"), col("source"))),

    "sm2_stratified_sample" -> ((s, dir) => graft.textops.Sampling
      .stratifiedSample(tbl(s, dir, "documents"), Seq("lang", "source"), "doc_id", 3, seed = "s2")
      .select(col("doc_id"), col("lang"), col("source"))),

    // deterministic sequence packing: per-shard seeded order, running token
    // total, quota pack ids — every assignment reproducible by the oracle
    "sm3_pack_docs" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.textops.Packing.packDocuments(d, "doc_id",
          graft.textops.TextAnalysis.tokenCountWs(col("text")),
          budgetTokens = 200L, shardCol = pmod(col("doc_id"), lit(8L)),
          seed = "p1")
        .select(col("doc_id"), col("shard"), col("pack_id"), col("pack_pos"))
    }),

    // domain-mixture downsample: largest subset hitting the exact en/de/es
    // 5:3:2 ratio, chosen by the same md5 decision key (lineage-stable)
    "sm4_mixture" -> ((s, dir) => graft.textops.Sampling
      .mixtureSample(tbl(s, dir, "documents"), "lang",
        Map("en" -> 0.5, "de" -> 0.3, "es" -> 0.2), "doc_id", seed = "m1")
      .select(col("doc_id"), col("lang"))),

    // A-ES weighted sampling without replacement: 150 docs, inclusion
    // probability ~ n_chars, keys hash-derived (deterministic lineage)
    "sm5_weighted" -> ((s, dir) => graft.textops.Sampling
      .weightedSample(tbl(s, dir, "documents"), "doc_id", "n_chars",
        k = 150, seed = "w1")
      .select(col("doc_id"), col("lang"), col("n_chars"))),

    // deterministic corpus shuffle + sharding: the pretraining pipeline's
    // final stage — seeded permutation as (shard, pos), pure f(seed, id)
    "sm6_shard" -> ((s, dir) => graft.textops.Sampling
      .shardShuffle(tbl(s, dir, "documents"), "doc_id", numShards = 8,
        seed = "sh1")
      .select(col("doc_id"), col("shard"), col("pos"))),

    // ---- training-data pipeline: benchmark decontamination ----
    // eval set = every 97th doc; flag training docs sharing any normalized
    // word 4-gram with it (GPT-3-style rule; n parameterized, 13 at prod).
    // Corpus side: scan -> explode grams -> BROADCAST join -> tiny agg;
    // zero corpus shuffles.

    // sliding context-window chunking (chunk=12 words, stride=8 -> 4-word
    // overlap): the RAG / long-doc pretraining splitter. Pure projection +
    // explode, zero shuffle; the window rule (final window always reaches
    // the last token, none starts past it) is closed-form, so the oracle
    // recomputes every chunk boundary and text verbatim.
    "sm7_chunks" -> ((s, dir) => graft.textops.Packing
      .chunkWords(tbl(s, dir, "documents"), "doc_id", "text", 12, 8)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("n_tokens").cast("long").as("n_tokens"), col("chunk_text"))),

    // temperature rebalancing (mT5/XLM-R, alpha=0.5): flatten the language
    // mix toward the tail — weights sqrt(n) from observed counts, largest
    // exact-ratio subset, md5-decision-key lineage
    "sm8_temperature" -> ((s, dir) => graft.textops.Sampling
      .temperatureSample(tbl(s, dir, "documents"), "lang", "doc_id",
        seed = "t1")
      .select(col("doc_id"), col("lang"))),

    // deterministic train/val/test split: hash-range assignment, pure
    // projection, membership stable under corpus append/delete
    "sm9_splits" -> ((s, dir) => graft.textops.Sampling
      .assignSplits(tbl(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "sp1")
      .select(col("doc_id"), col("split"))),

    // per-language heavy hitters: top-10 words per lang (WindowGroupLimit
    // partial top-k before the group exchange)
    "tx6_heavy_hitters" -> ((s, dir) => graft.textops.Vocab
      .topWordsPerGroup(tbl(s, dir, "documents"), "lang", "text", k = 10)),

    // per-source corpus telemetry: docs, token volume, exact distinct
    // tokens, mean doc length (the pipeline-monitoring table)
    "tx7_telemetry" -> ((s, dir) => graft.textops.TextAnalysis
      .corpusTelemetry(tbl(s, dir, "documents"), "source", "text")),

    // per-language length distribution: exact lower p50/p90 by integer
    // rank (portable; interpolated percentile conventions are not)
    "tx8_length_quantiles" -> ((s, dir) => graft.textops.TextAnalysis
      .lengthQuantiles(tbl(s, dir, "documents"), "lang", "text")),

    // per-doc word entropy (CCNet-family gibberish signal) — exact
    // integer micro-log-unit sum, one float chain at the end
    "tx10_entropy" -> ((s, dir) => graft.textops.TextAnalysis
      .wordEntropy(tbl(s, dir, "documents"), "doc_id", "text")),

    // per-language distinct-token cardinality via the KMV sketch —
    // engine-portable (md5 fractions), unlike HLL++ registers, so it gets
    // a full hash-green instead of rows-only
    "tx9_kmv_distinct" -> ((s, dir) => graft.textops.Sketches.kmvDistinct(
      tbl(s, dir, "documents").select(col("lang"),
        explode(split(lower(col("text")), " +")).as("tok")),
      Seq("lang"), col("tok"), k = 64)),

    "dc1_decontaminate" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.textops.Decontaminate.overlapReport(
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 4)
    }),

    "dc2_clean_corpus" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.textops.Decontaminate.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 4)
        .select(col("doc_id"), col("lang"))
    }),

    // ---- training-data pipeline: corpus cleaning ----
    // C4-style boilerplate removal, token-delimited here (the documents
    // fixture is single-line): drop segments present in >60% of documents,
    // reassemble survivors in order, drop docs left empty
    "cl1_boilerplate" -> ((s, dir) => graft.textops.Boilerplate
      .removeBoilerplate(tbl(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", delimiter = " ", maxDocFrac = 0.6)),

    // PII redaction: counts + placeholder rewrite, zero-shuffle projection.
    // The fixture corpus has no PII, so the query plants a deterministic
    // email/phone (+ SSN-shaped id on every 3rd doc) per document first —
    // the oracle plants the identical strings
    "cl2_pii_redact" -> ((s, dir) => {
      val planted = tbl(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" call 415-555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
          when(pmod(col("doc_id"), lit(3L)) === 0,
            concat(lit(" id 123-45-"),
              lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("text"))
      graft.textops.Pii.redact(planted, "doc_id", "text")
        .select(col("doc_id"), col("clean_text"),
          col("n_email").cast("long").as("n_email"),
          col("n_ssn").cast("long").as("n_ssn"),
          col("n_phone").cast("long").as("n_phone"))
    }),

    // ExactSubstr-style duplicated-span report (Lee et al. 2022): word
    // 4-gram spans occurring >1x corpus-wide, merged into maximal spans
    "es1_dup_spans" -> ((s, dir) => graft.textops.ExactSubstr
      .duplicationReport(tbl(s, dir, "documents"), "doc_id", "text", k = 4)
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
        col("max_span_tokens").cast("long").as("max_span_tokens"),
        col("dup_fraction"))),

    // corpus vocabulary: top-100 words with rank + cumulative coverage
    "vb1_vocab" -> ((s, dir) => graft.textops.Vocab
      .topWords(tbl(s, dir, "documents"), "text", k = 100)),

    // DSIR-style importance scores vs an in-corpus target (lang = 'en');
    // hashed md5-prefix buckets make the weights oracle-derivable
    "qf1_importance" -> ((s, dir) => graft.textops.Importance
      .importanceReport(tbl(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en")),

    // CCNet-style perplexity quality gate: hashed-bigram LM trained on the
    // corpus itself, scored as a zero-shuffle projection
    "qf2_perplexity" -> ((s, dir) => graft.textops.LanguageModel
      .perplexityReport(tbl(s, dir, "documents"), "doc_id", "text")),

    // FineWeb-Edu-style model-based filter: linear classifier on hashed
    // unigram micro-tf features, trained by 8 damped-Jacobi GD steps on
    // a seed-keyword weak label (the "seed heuristic -> model
    // generalizes" pattern), then scored corpus-wide; the oracle replays
    // the whole trainer as unrolled SQL. On this fixture: acc 0.71 vs
    // base rate 0.51 (8 vs 12 iterations is a 0.704-vs-0.714
    // accuracy wash; per-iteration cost at small scale is Catalyst
    // planning, so the shorter schedule wins)
    "qf3_classifier" -> ((s, dir) => graft.textops.Classifier
      .classifyReport(tbl(s, dir, "documents"), "doc_id", "text",
        col("text").contains("spark") && col("text").contains("join") &&
          col("text").contains("hash"))),

    // Gopher-style fixed-threshold rule battery: per-rule verdicts +
    // conjunction keep flag; bounds tuned to the fixture's word-count
    // quartiles so every rule discriminates
    "qf4_gopher" -> ((s, dir) => graft.textops.TextAnalysis.gopherRules(
      tbl(s, dir, "documents"), "doc_id", "text",
      minWords = 30, maxWords = 90)),

    // BM25 ranked retrieval: three query terms with spread document
    // frequencies; term stats collect (tiny by definition), scoring is a
    // zero-shuffle projection + TakeOrdered
    "ir1_bm25" -> ((s, dir) => graft.textops.Bm25.search(
      tbl(s, dir, "documents"), "doc_id", "text",
      Seq("spark", "vector", "dup"), k = 100)),

    // as-of (temporal) join: each click joined to the user's most recent
    // at-or-before purchase — union+window formulation, ONE shuffle, no
    // join operator; oracle is DuckDB's native ASOF LEFT JOIN. Purchases
    // pre-aggregated per (user, ts) for tie determinism; timestamps leave
    // the result as epoch micros (engine-portable rendering)
    "ev1_asof" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("p_ts"))
        .agg(max(col("value")).as("p_val"))
      graft.operators.AsOfJoin.asOf(clicks, purchases,
        Seq("user_id"), "ts", "p_ts")
        .select(col("event_id"), col("user_id"),
          col("p_val").as("last_purchase_value"),
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("p_ts").cast("timestamp")))
            .as("usec_since_purchase"))
    }),

    // range (interval) join: purchases attributed to the click windows
    // [click_ts, click_ts + 30 min] they fall into — bin-bucketed
    // point-in-interval join (one equi-join on (user, bin), exact
    // containment re-check; W = the window length, so each interval is
    // replicated at most twice)
    "ev2_range_join" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val win = 1800000000L // 30 min in micros
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id"),
          unix_micros(col("ts").cast("timestamp_ltz")).as("w_start"),
          (unix_micros(col("ts").cast("timestamp_ltz")) + win).as("w_end"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp_ltz")).as("p_us"))
      graft.operators.RangeJoin.pointInInterval(
          purchases, clicks, Seq("user_id"), "p_us", "w_start", "w_end", win)
        .select(col("event_id"), col("user_id"), col("click_id"),
          (col("p_us") - col("w_start")).as("delay_usec"))
    }),

    // ordered-funnel analysis (view -> click -> purchase): per-user step
    // counts + first-occurrence times and the strictly-time-ordered depth
    // reached; ONE partial aggregate, no window/join/explode
    "ev4_funnel" -> ((s, dir) => graft.eval.Funnel.analyze(
      tbl(s, dir, "events"), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))),

    // weekly cohort retention matrix: users cohorted by first-event week
    // (absolute integer weeks — pure epoch arithmetic, engine-portable),
    // count(*) per cell (no count-distinct expand), no windows
    "ev5_retention" -> ((s, dir) => graft.eval.Retention.cohorts(
      tbl(s, dir, "events"), "user_id", "ts")),

    // per-type event-RATE anomaly days: a pure COMPOSITION (brief
    // preference (a)) — daily counts fed through the ev3 median/MAD
    // Hampel gate, no new operator; the ingest-volume spike/outage alarm
    "ev6_rate_anomalies" -> ((s, dir) => {
      val counts = tbl(s, dir, "events")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      graft.eval.Outliers.robustOutliers(counts, "day", "event_type", "n",
        cutoff = 2.0)
    }),

    // robust per-type outlier detection (Hampel / median-MAD gate) — the
    // ingest-monitoring alarm a mean/stddev gate misses on heavy tails;
    // both medians are the exact type-1 rank statistic (tx8 convention)
    "ev3_outliers" -> ((s, dir) => graft.eval.Outliers.robustOutliers(
      tbl(s, dir, "events"), "event_id", "event_type", "value", cutoff = 3.0)),

    // ---- training-data pipeline: multimodal plumbing (decode STUBBED) ----

    "mm1_assets" -> ((s, dir) => graft.multimodal.Multimodal
      .assets(tbl(s, dir, "documents"))
      .select(col("asset_id"), col("modality"),
        length(col("payload")).as("payload_bytes"), col("meta.tag").as("tag"))),

    "mm2_frames" -> ((s, dir) => graft.multimodal.Multimodal
      .sampleFrames(graft.multimodal.Multimodal.assets(tbl(s, dir, "documents")))
      .select(col("asset_id"), col("frame_idx"),
        length(col("frame_payload")).as("frame_bytes"))),

    // stub feature extraction, exploded to oracle-comparable scalars
    // (asset_id, modality, payload_bytes, dim, value): the md5-derived stub
    // is re-derivable in DuckDB, so this is a FULL rows+schema+hash check
    "mm3_features" -> ((s, dir) => graft.multimodal.Multimodal
      .extractFeatures(graft.multimodal.Multimodal.assets(tbl(s, dir, "documents")))
      .select(col("asset_id"), col("modality"), col("payload_bytes"),
        posexplode(col("features")).as(Seq("dim", "value")))
      .withColumn("value", round(col("value").cast("double"), 3)))
  )

  // DuckDB oracles. The KG oracles re-derive expected outputs directly from
  // the event columns (independent of the Spark mechanism), so they validate
  // extraction/linking semantics, not just regex parity.
  private val T = EventTranscripts.sqlCte

  /** dd3 oracle, generated: re-derives the portable md5-based simhash
    * bit-sums per document (bit j of a token = bit (3 - j%4) of hex digit
    * j/4 of md5(token)), then computes Hamming distance all-pairs — the
    * exact semantics the banded Spark path equals (pigeonhole: any pair at
    * Hamming <= 3 shares one of four 16-bit bands). */
  private val dd3Oracle: String = {
    val digits = (0 until 16).map(k =>
      s"strpos('0123456789abcdef', substr(m, ${k + 1}, 1)) - 1 AS d$k").mkString(", ")
    val sums = (0 until 64).map(i =>
      s"SUM(CASE WHEN (d${i / 4} >> ${3 - i % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(", ")
    val ham = (0 until 64).map(i =>
      s"CASE WHEN (a.b$i > 0) <> (b.b$i > 0) THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (SELECT doc_id, md5(tok) AS m FROM toks),
       |d AS (SELECT doc_id, $digits FROM h),
       |s AS (SELECT doc_id, $sums FROM d GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |            CAST($ham AS INT) AS hamming
       |          FROM s a JOIN s b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin
  }

  private val triplesCte =
    s"""WITH transcripts AS ($T),
       |triples AS (
       |  SELECT conv_id, turn_idx,
       |    CASE WHEN text LIKE '% works at %' OR text LIKE '% lives in %' OR text LIKE '% reports to %'
       |         THEN regexp_extract(text, '^(.*) (?:works at|lives in|reports to|is based in) (.*)\\.$$', 1)
       |         WHEN text LIKE '% is based in %'
       |         THEN regexp_extract(text, '^(.*) is based in (.*)\\.$$', 1)
       |    END AS subj,
       |    CASE WHEN text LIKE '% works at %' THEN 'works_at'
       |         WHEN text LIKE '% lives in %' THEN 'lives_in'
       |         WHEN text LIKE '% reports to %' THEN 'reports_to'
       |         WHEN text LIKE '% is based in %' THEN 'based_in' END AS pred,
       |    regexp_extract(text, '^(.*) (?:works at|lives in|reports to|is based in) (.*)\\.$$', 2) AS obj,
       |    CASE WHEN text LIKE '% is based in %' THEN 'org' ELSE 'person' END AS subj_type,
       |    CASE WHEN text LIKE '% works at %' THEN 'org'
       |         WHEN text LIKE '% reports to %' THEN 'person' ELSE 'city' END AS obj_type
       |  FROM transcripts WHERE text NOT LIKE 'Please%')""".stripMargin

  // shared LPA oracle blocks (kg11 + kg12): undirected simple KG edges,
  // symmetric neighbor list, identity labels, and the 5 unrolled
  // synchronous plurality rounds
  // shared kg32/kg33 oracle blocks: distinct per-triple observation days
  // (triples re-join their turn's ts) -> islands-and-gaps (>3-day split)
  // -> the `iv` validity-interval table
  private val validityCtes =
    s"""$triplesCte,
       |obs AS (SELECT DISTINCT tr.subj, tr.pred, tr.obj,
       |    CAST(floor(epoch(t.ts) / 86400) AS BIGINT) AS day
       |  FROM triples tr JOIN transcripts t
       |    ON tr.conv_id = t.conv_id AND tr.turn_idx = t.turn_idx
       |  WHERE tr.subj IS NOT NULL),
       |flagged AS (SELECT subj, pred, obj, day,
       |    CASE WHEN day - lag(day) OVER w > 3 THEN 1 ELSE 0 END AS brk
       |  FROM obs WINDOW w AS (PARTITION BY subj, pred, obj ORDER BY day)),
       |isl AS (SELECT subj, pred, obj, day,
       |    CAST(sum(brk) OVER (PARTITION BY subj, pred, obj ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
       |      AS interval_idx
       |  FROM flagged),
       |iv AS MATERIALIZED (SELECT subj, pred, obj, interval_idx,
       |    min(day) AS from_day, max(day) AS to_day,
       |    CAST(count(*) AS INT) AS n_active_days
       |  FROM isl GROUP BY 1, 2, 3, 4)""".stripMargin

  // shared kg39/kg40 oracle blocks: symmetrized KG edges, hash-sampled
  // walk starts x 2 walk indices, the 4 md5-arg-min steps unrolled, and
  // the `wk` walk-corpus union (start, widx, step, node)
  private val walkCtes =
    (s"""$triplesCte,
       |base AS (SELECT DISTINCT subj, pred, obj FROM triples
       |  WHERE subj IS NOT NULL AND obj IS NOT NULL),
       |e0 AS (SELECT DISTINCT subj AS src, obj AS dst FROM base
       |  WHERE subj <> obj),
       |und AS MATERIALIZED (SELECT src, dst FROM e0
       |  UNION SELECT dst, src FROM e0),
       |starts AS (SELECT n.src AS start, w.widx FROM
       |  (SELECT DISTINCT src FROM und
       |   WHERE md5(concat('walk', ':', src)) < '40000000""".stripMargin
      + "0" * 24 +
      """') n
       |  CROSS JOIN (SELECT 0 AS widx UNION ALL SELECT 1) w),
       |s0 AS (SELECT start, widx, start AS node FROM starts),
       |s1 AS (SELECT s.start, s.widx, arg_min(u.dst, md5(concat_ws('|',
       |    'walk', s.start, s.widx, 1, u.src, u.dst))) AS node
       |  FROM s0 s JOIN und u ON u.src = s.node GROUP BY 1, 2),
       |s2 AS (SELECT s.start, s.widx, arg_min(u.dst, md5(concat_ws('|',
       |    'walk', s.start, s.widx, 2, u.src, u.dst))) AS node
       |  FROM s1 s JOIN und u ON u.src = s.node GROUP BY 1, 2),
       |s3 AS (SELECT s.start, s.widx, arg_min(u.dst, md5(concat_ws('|',
       |    'walk', s.start, s.widx, 3, u.src, u.dst))) AS node
       |  FROM s2 s JOIN und u ON u.src = s.node GROUP BY 1, 2),
       |s4 AS (SELECT s.start, s.widx, arg_min(u.dst, md5(concat_ws('|',
       |    'walk', s.start, s.widx, 4, u.src, u.dst))) AS node
       |  FROM s3 s JOIN und u ON u.src = s.node GROUP BY 1, 2),
       |wk AS MATERIALIZED (
       |  SELECT start, widx, 0 AS step, node FROM s0
       |  UNION ALL SELECT start, widx, 1, node FROM s1
       |  UNION ALL SELECT start, widx, 2, node FROM s2
       |  UNION ALL SELECT start, widx, 3, node FROM s3
       |  UNION ALL SELECT start, widx, 4, node FROM s4)""".stripMargin)

  private val lpaCtes =
    s"""$triplesCte,
       |e AS MATERIALIZED (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
       |  FROM triples WHERE subj IS NOT NULL AND obj IS NOT NULL AND subj <> obj),
       |nbr AS MATERIALIZED (SELECT a AS v, b AS u FROM e UNION ALL SELECT b, a FROM e),
       |l0 AS MATERIALIZED (SELECT v AS node, v AS label FROM (SELECT DISTINCT v FROM nbr))""".stripMargin

  private val lpaSteps = (1 to 5).map { k =>
    s"""l$k AS MATERIALIZED (SELECT v AS node, label FROM (
       |  SELECT v, label, row_number() OVER (PARTITION BY v ORDER BY c DESC, label ASC) AS rn
       |  FROM (SELECT nbr.v, l.label, count(*) AS c
       |        FROM nbr JOIN l${k - 1} l ON l.node = nbr.u GROUP BY 1, 2))
       |  WHERE rn = 1)""".stripMargin
  }.mkString(",\n")

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |COUNT(*) AS n_rows FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q2_join_broadcast" ->
      """SELECT n_name,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey GROUP BY 1""".stripMargin,
    "q3_window_top1" ->
      """SELECT o_custkey, o_orderkey AS top_order, o_totalprice AS top_price FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "q4_anti_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers_no_orders FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_totalprice > 300000)
        |GROUP BY 1""".stripMargin,
    "q5_required_props" ->
      """WITH bags AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_totalprice > 100 THEN 'x' END AS p_high_value,
        |    CASE WHEN o_orderkey % 10 < 9 THEN 'y' END AS p_mostly,
        |    'z' AS p_always
        |  FROM orders),
        |agg AS (
        |  SELECT o_orderstatus, COUNT(*) AS n,
        |    SUM(CASE WHEN p_high_value IS NOT NULL THEN 1 ELSE 0 END) AS c1,
        |    SUM(CASE WHEN p_mostly IS NOT NULL THEN 1 ELSE 0 END) AS c2,
        |    SUM(CASE WHEN p_always IS NOT NULL THEN 1 ELSE 0 END) AS c3
        |  FROM bags GROUP BY 1)
        |SELECT o_orderstatus, n AS cluster_size, 'p_high_value' AS property,
        |  c1 = n AS required, CAST(c1 AS DOUBLE) / n AS rate FROM agg WHERE c1 > 0
        |UNION ALL
        |SELECT o_orderstatus, n, 'p_mostly', c2 = n, CAST(c2 AS DOUBLE) / n FROM agg WHERE c2 > 0
        |UNION ALL
        |SELECT o_orderstatus, n, 'p_always', c3 = n, CAST(c3 AS DOUBLE) / n FROM agg WHERE c3 > 0""".stripMargin,
    "q6_union_dedup" ->
      """SELECT o_orderstatus, COUNT(*) AS n_distinct FROM (
        |  SELECT DISTINCT o_custkey, o_orderstatus FROM (
        |    SELECT o_custkey, o_orderstatus FROM orders
        |    UNION ALL SELECT o_custkey, o_orderstatus FROM orders))
        |GROUP BY 1""".stripMargin,
    "q7_left_outer_coalesce" ->
      """WITH per_cust AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1)
        |SELECT c_mktsegment, CAST(SUM(COALESCE(cnt, 0)) AS BIGINT) AS total_orders,
        |COUNT(*) AS n_customers
        |FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey GROUP BY 1""".stripMargin,
    "kg1_transcripts" ->
      s"WITH transcripts AS ($T) SELECT conv_id, turn_idx, role, text, tool FROM transcripts",
    "kg2_triples_raw" ->
      s"$triplesCte SELECT conv_id, turn_idx, subj, pred, obj FROM triples",
    "kg3_mentions" ->
      s"""$triplesCte,
         |slots AS (
         |  SELECT subj_type AS mention_type, subj AS raw FROM triples
         |  UNION ALL SELECT obj_type, obj FROM triples)
         |SELECT mention_type, raw AS norm, COUNT(*) AS n_occurrences
         |FROM slots GROUP BY 1, 2""".stripMargin,
    "kg4_triple_set" ->
      s"$triplesCte SELECT DISTINCT subj, pred, obj FROM triples",
    "kg5_node_schema" ->
      s"""$triplesCte,
         |ec AS (SELECT subj_type AS label, COUNT(DISTINCT subj) AS n_entities FROM triples GROUP BY 1),
         |pc AS (SELECT subj_type AS label, pred AS predicate, COUNT(DISTINCT subj) AS n_with FROM triples GROUP BY 1, 2)
         |SELECT pc.label, pc.predicate, pc.n_with, ec.n_entities,
         |  CAST(pc.n_with AS DOUBLE) / ec.n_entities AS rate,
         |  pc.n_with = ec.n_entities AS required,
         |  CAST(pc.n_with AS DOUBLE) / ec.n_entities < 0.95 AS "optional"
         |FROM pc JOIN ec ON pc.label = ec.label""".stripMargin,
    "kg6_edge_types" ->
      s"""$triplesCte
         |SELECT subj_type AS src_label, pred AS predicate, obj_type AS dst_label,
         |  COUNT(*) AS n_edges, COUNT(DISTINCT subj || '|' || obj) AS n_distinct_pairs
         |FROM triples WHERE subj_type <> obj_type GROUP BY 1, 2, 3""".stripMargin,

    "kg7_patterns" ->
      s"""$triplesCte,
         |pat AS (SELECT subj, array_to_string(list_sort(list_distinct(list(pred))), '|') AS pattern
         |        FROM triples GROUP BY subj)
         |SELECT pattern, COUNT(*) AS n_entities FROM pat GROUP BY 1""".stripMargin,

    "kg9_pagerank" -> {
      // 10 unrolled damped power steps (recursive CTEs with aggregation in
      // the recursive term are non-portable; unrolling is)
      val iters = 10
      val d = 0.85
      // AS MATERIALIZED everywhere: each step references its predecessor
      // twice (dangling mass + contributions); inlined CTEs would blow the
      // plan up 2^iters
      val steps = (1 to iters).map { k =>
        val p = s"pr${k - 1}"
        s"""dang$k AS MATERIALIZED (SELECT coalesce(sum(r), 0) AS m FROM $p
           |  WHERE node NOT IN (SELECT src FROM e)),
           |pr$k AS MATERIALIZED (SELECT nd.node,
           |    (1 - $d) / (SELECT n FROM nn)
           |      + $d * (coalesce(c.s, 0) + (SELECT m FROM dang$k) / (SELECT n FROM nn)) AS r
           |  FROM nodes nd LEFT JOIN (
           |    SELECT e.dst AS node, sum(p.r / od.deg) AS s
           |    FROM $p p JOIN e ON p.node = e.src JOIN od ON od.src = e.src
           |    GROUP BY 1) c USING (node))""".stripMargin
      }.mkString(",\n")
      s"""$triplesCte,
         |e AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM triples
         |      WHERE subj IS NOT NULL AND obj IS NOT NULL),
         |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |od AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY 1),
         |pr0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
         |$steps
         |SELECT node, round(r, 6) AS rank FROM pr$iters""".stripMargin
    },

    "kg10_triangles" ->
      s"""$triplesCte,
         |e AS MATERIALIZED (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
         |  FROM triples WHERE subj IS NOT NULL AND obj IS NOT NULL AND subj <> obj),
         |deg AS MATERIALIZED (SELECT node, count(*) AS degree FROM (
         |  SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |o AS MATERIALIZED (SELECT
         |    CASE WHEN (da.degree < db.degree) OR (da.degree = db.degree AND e.a < e.b)
         |         THEN e.a ELSE e.b END AS u,
         |    CASE WHEN (da.degree < db.degree) OR (da.degree = db.degree AND e.a < e.b)
         |         THEN e.b ELSE e.a END AS v,
         |    CASE WHEN (da.degree < db.degree) OR (da.degree = db.degree AND e.a < e.b)
         |         THEN db.degree ELSE da.degree END AS dv
         |  FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
         |tri AS MATERIALIZED (SELECT o1.u, o1.v AS x, o2.v AS y
         |  FROM o o1 JOIN o o2 ON o1.u = o2.u
         |    AND ((o1.dv < o2.dv) OR (o1.dv = o2.dv AND o1.v < o2.v))
         |  JOIN o oc ON oc.u = o1.v AND oc.v = o2.v),
         |cnt AS (SELECT node, count(*) AS triangles FROM (
         |  SELECT u AS node FROM tri UNION ALL SELECT x FROM tri
         |  UNION ALL SELECT y FROM tri) GROUP BY 1)
         |SELECT deg.node, deg.degree,
         |  CAST(coalesce(cnt.triangles, 0) AS BIGINT) AS triangles,
         |  CASE WHEN deg.degree >= 2
         |       THEN round(coalesce(cnt.triangles, 0) * 2.0 / (deg.degree * (deg.degree - 1)), 6)
         |       ELSE 0.0 END AS clustering
         |FROM deg LEFT JOIN cnt USING (node)""".stripMargin,

    "kg11_communities" ->
      s"""$lpaCtes,
         |$lpaSteps
         |SELECT node, label AS community FROM l5""".stripMargin,

    "kg12_modularity" ->
      s"""$lpaCtes,
         |$lpaSteps,
         |mm AS MATERIALIZED (SELECT count(*) AS mv FROM e),
         |deg AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
         |  SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |comm AS MATERIALIZED (SELECT node, label AS community FROM l5),
         |i AS (SELECT ca.community, count(*) AS ec FROM e
         |  JOIN comm ca ON ca.node = e.a JOIN comm cb ON cb.node = e.b
         |  WHERE ca.community = cb.community GROUP BY 1),
         |byc AS (SELECT community, count(*) AS n_nodes,
         |    CAST(sum(deg) AS BIGINT) AS degree_sum
         |  FROM comm JOIN deg USING (node) GROUP BY 1)
         |SELECT byc.community, byc.n_nodes,
         |  CAST(coalesce(i.ec, 0) AS BIGINT) AS internal_edges,
         |  byc.degree_sum,
         |  round(CAST(coalesce(i.ec, 0) AS DOUBLE) / (SELECT mv FROM mm) -
         |    (CAST(byc.degree_sum AS DOUBLE) / ((SELECT mv FROM mm) * 2)) *
         |    (CAST(byc.degree_sum AS DOUBLE) / ((SELECT mv FROM mm) * 2)), 6) AS modularity
         |FROM byc LEFT JOIN i USING (community)""".stripMargin,

    // BFS unrolled to 3 fixed levels (the kg9/kg11 precedent — DuckDB's
    // recursive CTE mis-evaluates this walk against the windowed
    // transcripts CTE, returning the first seed only); levels expand
    // UNPRUNED and min(hops) collapses revisits — same min-distance
    // semantics as the Spark frontier's visited-set anti-join
    "kg13_khop" ->
      s"""$triplesCte,
         |e AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM triples
         |  WHERE subj IS NOT NULL AND obj IS NOT NULL),
         |seeds AS MATERIALIZED (SELECT DISTINCT subj AS node FROM triples
         |  WHERE pred = 'works_at' ORDER BY node LIMIT 10),
         |r1 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e
         |  JOIN seeds ON e.src = seeds.node),
         |r2 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e
         |  JOIN r1 ON e.src = r1.node),
         |r3 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e
         |  JOIN r2 ON e.src = r2.node),
         |lvl AS (SELECT node, 0 AS hops FROM seeds
         |  UNION ALL SELECT node, 1 FROM r1
         |  UNION ALL SELECT node, 2 FROM r2
         |  UNION ALL SELECT node, 3 FROM r3)
         |SELECT node, CAST(min(hops) AS INT) AS hops FROM lvl GROUP BY 1""".stripMargin,

    "kg14_pmi" ->
      s"""$triplesCte,
         |m AS MATERIALIZED (SELECT DISTINCT conv_id, ent FROM (
         |  SELECT conv_id, subj AS ent FROM triples WHERE subj IS NOT NULL
         |  UNION ALL SELECT conv_id, obj FROM triples WHERE obj IS NOT NULL)),
         |n AS (SELECT CAST(count(DISTINCT conv_id) AS DOUBLE) AS n FROM m),
         |ec AS MATERIALIZED (SELECT ent, count(*) AS ne FROM m GROUP BY 1),
         |p AS (SELECT a.ent AS ent_a, b.ent AS ent_b, count(*) AS n_pairs
         |  FROM m a JOIN m b ON a.conv_id = b.conv_id AND a.ent < b.ent
         |  GROUP BY 1, 2)
         |SELECT p.ent_a, p.ent_b, p.n_pairs,
         |  round(ln((CAST(p.n_pairs AS DOUBLE) * (SELECT n FROM n)) /
         |    (CAST(ea.ne AS DOUBLE) * CAST(eb.ne AS DOUBLE))), 6) AS pmi
         |FROM p JOIN ec ea ON ea.ent = p.ent_a
         |  JOIN ec eb ON eb.ent = p.ent_b""".stripMargin,

    "kg15_provenance" ->
      s"""$triplesCte
         |SELECT subj, pred, obj, count(*) AS n_observations,
         |  count(DISTINCT conv_id) AS n_convs,
         |  CAST(min(turn_idx) AS INT) AS first_turn,
         |  CAST(max(turn_idx) AS INT) AS last_turn
         |FROM triples WHERE subj IS NOT NULL AND obj IS NOT NULL
         |GROUP BY 1, 2, 3""".stripMargin,

    "kg16_negatives" ->
      s"""$triplesCte,
         |ts AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM triples
         |  WHERE subj IS NOT NULL AND obj IS NOT NULL),
         |dom AS MATERIALIZED (SELECT pred, obj,
         |    row_number() OVER (PARTITION BY pred ORDER BY obj) - 1 AS rank
         |  FROM (SELECT DISTINCT pred, obj FROM ts)),
         |ds AS (SELECT pred, count(*) AS n_dom FROM dom GROUP BY 1),
         |cand AS (
         |  SELECT ts.subj, ts.pred, ts.obj, CAST(j AS INT) AS sample_idx,
         |    CAST(concat('0x', substr(md5(concat_ws('|', ts.subj, ts.pred,
         |      ts.obj, CAST(j AS VARCHAR))), 1, 8)) AS BIGINT) % ds.n_dom AS rank
         |  FROM ts JOIN ds ON ds.pred = ts.pred
         |  CROSS JOIN (SELECT unnest(range(3)) AS j))
         |SELECT c.subj, c.pred, c.obj, c.sample_idx, d.obj AS neg_obj
         |FROM cand c JOIN dom d ON d.pred = c.pred AND d.rank = c.rank
         |WHERE d.obj <> c.obj
         |  AND NOT EXISTS (SELECT 1 FROM ts t2
         |    WHERE t2.subj = c.subj AND t2.pred = c.pred AND t2.obj = d.obj)""".stripMargin,

    "kg17_functionality" ->
      s"""$triplesCte,
         |ts AS (SELECT DISTINCT subj, pred, obj FROM triples
         |  WHERE subj IS NOT NULL AND obj IS NOT NULL),
         |ps AS (SELECT pred, subj, count(*) AS n_objs FROM ts GROUP BY 1, 2),
         |ss AS (SELECT pred, CAST(sum(n_objs) AS BIGINT) AS n_triples,
         |    count(*) AS n_subjects,
         |    CAST(sum(CASE WHEN n_objs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_conflicted_subjects
         |  FROM ps GROUP BY 1),
         |os AS (SELECT pred, count(DISTINCT obj) AS n_objects FROM ts GROUP BY 1)
         |SELECT ss.pred, n_triples, n_subjects, n_objects,
         |  n_conflicted_subjects,
         |  round(CAST(n_subjects AS DOUBLE) / n_triples, 6) AS functionality,
         |  round(CAST(n_objects AS DOUBLE) / n_triples, 6) AS inv_functionality
         |FROM ss JOIN os ON os.pred = ss.pred""".stripMargin,

    "kg18_inverse" ->
      s"""$triplesCte,
         |base AS (SELECT DISTINCT subj, pred, obj FROM triples
         |  WHERE subj IS NOT NULL AND obj IS NOT NULL),
         |ts AS (SELECT * FROM base
         |  UNION SELECT obj AS subj, 'manages' AS pred, subj AS obj
         |        FROM base WHERE pred = 'reports_to'),
         |sup AS (SELECT l.pred, r.pred AS inv_pred, count(*) AS support
         |  FROM ts l JOIN ts r ON l.subj = r.obj AND l.obj = r.subj
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |tot AS (SELECT pred, count(*) AS n_pred_triples FROM ts GROUP BY 1)
         |SELECT sup.pred, inv_pred, support, n_pred_triples,
         |  round(CAST(support AS DOUBLE) / n_pred_triples, 6) AS confidence
         |FROM sup JOIN tot ON tot.pred = sup.pred""".stripMargin,

    "kg19_resolved" ->
      s"""$triplesCte,
         |prov AS (SELECT subj, pred, obj, count(*) AS n_obs,
         |    max(turn_idx) AS last_turn
         |  FROM triples WHERE subj IS NOT NULL AND obj IS NOT NULL
         |  GROUP BY 1, 2, 3),
         |res AS (SELECT subj, pred, obj,
         |    CAST(count(*) OVER (PARTITION BY subj, pred) - 1 AS BIGINT)
         |      AS n_dropped,
         |    row_number() OVER (PARTITION BY subj, pred
         |      ORDER BY last_turn DESC, n_obs DESC, obj) AS rn
         |  FROM prov WHERE pred IN ('works_at', 'lives_in'))
         |SELECT subj, pred, obj, n_dropped FROM res WHERE rn = 1
         |UNION ALL
         |SELECT subj, pred, obj, CAST(0 AS BIGINT) AS n_dropped
         |FROM prov WHERE pred NOT IN ('works_at', 'lives_in')""".stripMargin,

    "kg20_entity_cards" ->
      s"""$triplesCte,
         |prov AS (SELECT subj, pred, obj, min(turn_idx) AS first_turn,
         |    max(turn_idx) AS last_turn
         |  FROM triples WHERE subj IS NOT NULL AND obj IS NOT NULL
         |  GROUP BY 1, 2, 3),
         |seen AS (SELECT entity, CAST(min(first_turn) AS INT) AS first_seen,
         |    CAST(max(last_turn) AS INT) AS last_seen FROM (
         |  SELECT subj AS entity, first_turn, last_turn FROM prov
         |  UNION ALL SELECT obj, first_turn, last_turn FROM prov) GROUP BY 1),
         |po AS (SELECT subj, pred, count(*) AS n FROM prov GROUP BY 1, 2),
         |outs AS (SELECT subj AS entity, CAST(sum(n) AS BIGINT) AS n_out,
         |    count(*) AS n_preds_out FROM po GROUP BY 1),
         |tops AS (SELECT subj AS entity, pred AS top_pred FROM (
         |  SELECT subj, pred, row_number() OVER (PARTITION BY subj
         |    ORDER BY n DESC, pred) AS rn FROM po) WHERE rn = 1),
         |ins AS (SELECT obj AS entity, count(*) AS n_in FROM prov GROUP BY 1)
         |SELECT seen.entity, COALESCE(n_out, 0) AS n_out,
         |  COALESCE(n_in, 0) AS n_in,
         |  COALESCE(n_preds_out, 0) AS n_preds_out, top_pred,
         |  first_seen, last_seen
         |FROM seen LEFT JOIN outs USING (entity)
         |  LEFT JOIN tops USING (entity) LEFT JOIN ins USING (entity)""".stripMargin,

    "kg23_composition" ->
      s"""$triplesCte,
         |t AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM triples
         |  WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL),
         |paths AS MATERIALIZED (SELECT DISTINCT l.pred AS body_p, r.pred AS body_q,
         |    l.subj AS x, r.obj AS y
         |  FROM t l JOIN t r ON l.obj = r.subj),
         |np AS (SELECT body_p, body_q, count(*) AS n_paths FROM paths GROUP BY 1, 2),
         |sup AS (SELECT body_p, body_q, t.pred AS head_pred, count(*) AS support
         |  FROM paths JOIN t ON t.subj = paths.x AND t.obj = paths.y
         |  GROUP BY 1, 2, 3)
         |SELECT body_p, body_q, head_pred, support, n_paths,
         |  round(CAST(support AS DOUBLE) / n_paths, 6) AS confidence
         |FROM sup JOIN np USING (body_p, body_q) WHERE support >= 2""".stripMargin,

    "kg24_bgp" ->
      s"""$triplesCte,
         |t AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM triples
         |  WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL)
         |SELECT DISTINCT r.subj AS emp, r.obj AS mgr, wm.obj AS org
         |FROM t r
         |  JOIN t wm ON wm.subj = r.obj AND wm.pred = 'works_at'
         |  JOIN t we ON we.subj = r.subj AND we.obj = wm.obj AND we.pred = 'works_at'
         |WHERE r.pred = 'reports_to'""".stripMargin,

    "kg25_degrees" ->
      s"""$triplesCte,
         |e AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM triples
         |  WHERE subj IS NOT NULL AND obj IS NOT NULL),
         |outd AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
         |ind AS (SELECT dst AS node, count(*) AS deg FROM e GROUP BY 1),
         |totd AS (SELECT node, CAST(sum(deg) AS BIGINT) AS deg FROM
         |  (SELECT * FROM outd UNION ALL SELECT * FROM ind) GROUP BY 1)
         |SELECT 'out' AS kind, deg AS degree, count(*) AS n_nodes,
         |  round(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM outd), 6) AS frac
         |FROM outd GROUP BY 2
         |UNION ALL
         |SELECT 'in', deg, count(*),
         |  round(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM ind), 6)
         |FROM ind GROUP BY 2
         |UNION ALL
         |SELECT 'total', deg, count(*),
         |  round(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM totd), 6)
         |FROM totd GROUP BY 2""".stripMargin,

    "kg26_violations" ->
      s"""$triplesCte,
         |td AS MATERIALIZED (SELECT DISTINCT subj, pred, obj, subj_type, obj_type
         |  FROM triples
         |  WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL),
         |m AS (SELECT subj AS entity, subj_type AS etype FROM td
         |  UNION ALL SELECT obj, obj_type FROM td),
         |v AS (SELECT entity, etype, count(*) AS votes FROM m GROUP BY 1, 2),
         |ty AS (SELECT entity, etype AS label FROM (
         |  SELECT entity, etype, row_number() OVER (PARTITION BY entity
         |    ORDER BY votes DESC, etype) AS rn FROM v) WHERE rn = 1),
         |ec AS (SELECT subj_type AS label, COUNT(DISTINCT subj) AS n_entities
         |  FROM triples GROUP BY 1),
         |pc AS (SELECT subj_type AS label, pred AS predicate,
         |    COUNT(DISTINCT subj) AS n_with FROM triples GROUP BY 1, 2),
         |req AS (SELECT pc.label, pc.predicate FROM pc JOIN ec USING (label)
         |  WHERE pc.n_with = ec.n_entities),
         |expect AS (SELECT ty.entity, ty.label, req.predicate
         |  FROM ty JOIN req USING (label))
         |SELECT entity, label, predicate FROM expect e
         |WHERE NOT EXISTS (SELECT 1 FROM td t
         |  WHERE t.subj = e.entity AND t.pred = e.predicate)""".stripMargin,

    "kg27_focus" ->
      s"""$triplesCte,
         |pt AS (SELECT t.conv_id, t.turn_idx, tr.subj
         |  FROM transcripts t LEFT JOIN triples tr
         |    ON t.conv_id = tr.conv_id AND t.turn_idx = tr.turn_idx)
         |SELECT conv_id, turn_idx,
         |  last_value(subj IGNORE NULLS) OVER w AS focus_entity,
         |  max(CASE WHEN subj IS NOT NULL THEN turn_idx END) OVER w
         |    AS focus_turn,
         |  turn_idx - max(CASE WHEN subj IS NOT NULL THEN turn_idx END) OVER w
         |    AS turns_since
         |FROM pt
         |WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "kg28_coref" ->
      s"""WITH transcripts AS ($T),
         |dial AS (SELECT conv_id, turn_idx,
         |  CASE WHEN text LIKE 'Please%'
         |    THEN ['He','She','It','They'][(turn_idx % 4) + 1] ||
         |      ' works at org ' || CAST(turn_idx % 20 AS VARCHAR) || '.'
         |    ELSE text END AS text
         |  FROM transcripts),
         |m AS (SELECT conv_id, turn_idx,
         |  regexp_extract(text, '^(.*) (?:works at|lives in|reports to|is based in) (.*)\\.$$', 1) AS subj,
         |  CASE WHEN text LIKE '% works at %' THEN 'works_at'
         |       WHEN text LIKE '% lives in %' THEN 'lives_in'
         |       WHEN text LIKE '% reports to %' THEN 'reports_to'
         |       WHEN text LIKE '% is based in %' THEN 'based_in' END AS pred,
         |  regexp_extract(text, '^(.*) (?:works at|lives in|reports to|is based in) (.*)\\.$$', 2) AS obj,
         |  CASE WHEN text LIKE '% is based in %' THEN 'org' ELSE 'person' END AS subj_type,
         |  CASE WHEN text LIKE '% works at %' THEN 'org'
         |       WHEN text LIKE '% reports to %' THEN 'person' ELSE 'city' END AS obj_type
         |  FROM dial),
         |t2 AS (SELECT *, CASE WHEN pred IS NOT NULL
         |    AND lower(subj) IN ('he','she','it','they') THEN 1 ELSE 0 END AS pro
         |  FROM m),
         |r AS (SELECT conv_id, turn_idx, subj, pred, obj, subj_type, obj_type, pro,
         |  last_value(CASE WHEN pred IS NOT NULL AND pro = 0 THEN subj END IGNORE NULLS)
         |    OVER w AS f_subj,
         |  last_value(CASE WHEN pred IS NOT NULL AND pro = 0 THEN subj_type END IGNORE NULLS)
         |    OVER w AS f_type
         |  FROM t2
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT conv_id, turn_idx,
         |  CASE WHEN pro = 1 THEN f_subj ELSE subj END AS subj,
         |  CASE WHEN pro = 1 THEN f_type ELSE subj_type END AS subj_type,
         |  pred, obj, obj_type, pro AS resolved
         |FROM r
         |WHERE pred IS NOT NULL AND (pro = 0 OR f_subj IS NOT NULL)""".stripMargin,

    "kg29_entity_tools" ->
      s"""WITH transcripts AS ($T),
         |a AS (SELECT conv_id, turn_idx, role, tool,
         |  CASE WHEN text NOT LIKE 'Please%' THEN
         |    regexp_extract(text, '^(.*) (?:works at|lives in|reports to|is based in) (.*)\\.$$', 1) END AS subj,
         |  CASE WHEN text NOT LIKE 'Please%' THEN
         |    CASE WHEN text LIKE '% is based in %' THEN 'org' ELSE 'person' END END AS styp
         |  FROM transcripts),
         |f AS (SELECT role, tool,
         |  last_value(subj IGNORE NULLS) OVER w AS entity,
         |  last_value(styp IGNORE NULLS) OVER w AS entity_type
         |  FROM a
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT entity, entity_type, tool, count(*) AS n_calls
         |FROM f
         |WHERE role = 'tool' AND tool IS NOT NULL AND entity IS NOT NULL
         |GROUP BY 1, 2, 3""".stripMargin,

    "kg30_delta" ->
      s"""$triplesCte,
         |o AS (SELECT DISTINCT subj, pred, obj FROM triples WHERE turn_idx < 10),
         |nn AS (SELECT DISTINCT subj, pred, obj FROM triples WHERE turn_idx >= 10),
         |u AS (SELECT subj, pred, obj, 1 AS fo, 0 AS fn FROM o
         |  UNION ALL SELECT subj, pred, obj, 0, 1 FROM nn),
         |g AS (SELECT subj, pred, obj, max(fo) AS fo, max(fn) AS fn
         |  FROM u GROUP BY 1, 2, 3)
         |SELECT subj, pred, obj,
         |  CASE WHEN fo = 1 AND fn = 1 THEN 'kept'
         |       WHEN fn = 1 THEN 'added' ELSE 'removed' END AS status
         |FROM g""".stripMargin,

    "kg31_hits" -> {
      // 5 unrolled HITS iterations (two L1-normalized half-steps each);
      // AS MATERIALIZED because every step references its predecessor and
      // its one-row normalizer twice — inlined CTEs would nest 4^iters
      val steps = (1 to 5).map { k =>
        val prev = s"a${k - 1}"
        s"""h${k}r AS MATERIALIZED (SELECT e.src AS node, sum(a.s) AS raw
           |  FROM $prev a JOIN e ON a.node = e.dst GROUP BY 1),
           |h${k}z AS MATERIALIZED (SELECT sum(raw) AS z FROM h${k}r),
           |h$k AS MATERIALIZED (SELECT nd.node,
           |    CASE WHEN (SELECT z FROM h${k}z) > 0
           |         THEN coalesce(r.raw, 0) / (SELECT z FROM h${k}z)
           |         ELSE 0 END AS s
           |  FROM nodes nd LEFT JOIN h${k}r r USING (node)),
           |a${k}r AS MATERIALIZED (SELECT e.dst AS node, sum(h.s) AS raw
           |  FROM h$k h JOIN e ON h.node = e.src GROUP BY 1),
           |a${k}z AS MATERIALIZED (SELECT sum(raw) AS z FROM a${k}r),
           |a$k AS MATERIALIZED (SELECT nd.node,
           |    CASE WHEN (SELECT z FROM a${k}z) > 0
           |         THEN coalesce(r.raw, 0) / (SELECT z FROM a${k}z)
           |         ELSE 0 END AS s
           |  FROM nodes nd LEFT JOIN a${k}r r USING (node))""".stripMargin
      }.mkString(",\n")
      s"""$triplesCte,
         |e AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM triples
         |      WHERE subj IS NOT NULL AND obj IS NOT NULL),
         |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |a0 AS MATERIALIZED (SELECT node, 1.0 AS s FROM nodes),
         |$steps
         |SELECT h5.node, round(h5.s, 6) AS hub, round(a5.s, 6) AS authority
         |FROM h5 JOIN a5 USING (node)""".stripMargin
    },

    "kg32_validity" ->
      s"""$validityCtes
         |SELECT subj, pred, obj, interval_idx, from_day, to_day,
         |  n_active_days
         |FROM iv""".stripMargin,

    "kg33_contradictions" ->
      s"""$validityCtes
         |SELECT a.subj, a.pred, a.obj AS obj_a, b.obj AS obj_b,
         |  greatest(a.from_day, b.from_day) AS overlap_from,
         |  least(a.to_day, b.to_day) AS overlap_to,
         |  least(a.to_day, b.to_day) - greatest(a.from_day, b.from_day) + 1
         |    AS overlap_days
         |FROM iv a JOIN iv b
         |  ON a.subj = b.subj AND a.pred = b.pred AND a.obj < b.obj
         |  AND a.from_day <= b.to_day AND b.from_day <= a.to_day""".stripMargin,

    "kg39_walks" ->
      s"""$walkCtes
         |SELECT start, widx AS walk_idx, step, node FROM wk""".stripMargin,

    "kg40_skipgrams" ->
      s"""$walkCtes
         |SELECT a.node AS center, b.node AS context, count(*) AS n_pairs
         |FROM wk a JOIN wk b
         |  ON a.start = b.start AND a.widx = b.widx AND a.step <> b.step
         |  AND abs(a.step - b.step) <= 2
         |GROUP BY 1, 2""".stripMargin,

    "kg38_egonets" ->
      (s"""$triplesCte,
         |base AS (SELECT DISTINCT subj, pred, obj FROM triples
         |  WHERE subj IS NOT NULL AND obj IS NOT NULL),
         |e0 AS (SELECT DISTINCT subj AS src, obj AS dst FROM base
         |  WHERE subj <> obj),
         |und AS MATERIALIZED (SELECT src, dst FROM e0
         |  UNION SELECT dst, src FROM e0),
         |seeds AS (SELECT DISTINCT src AS seed FROM und
         |  WHERE md5(concat('ego', ':', src)) < '40000000""".stripMargin
        + "0" * 24 +
        """'),
         |h1 AS (SELECT seed, src, dst FROM (
         |  SELECT s.seed, u.src, u.dst, row_number() OVER (
         |      PARTITION BY s.seed, u.src
         |      ORDER BY md5(concat_ws('|', 'ego', s.seed, u.src, u.dst))) AS rn
         |  FROM seeds s JOIN und u ON u.src = s.seed) WHERE rn <= 3),
         |f2 AS (SELECT DISTINCT seed, dst AS node FROM h1),
         |h2 AS (SELECT seed, src, dst FROM (
         |  SELECT f.seed, u.src, u.dst, row_number() OVER (
         |      PARTITION BY f.seed, u.src
         |      ORDER BY md5(concat_ws('|', 'ego', f.seed, u.src, u.dst))) AS rn
         |  FROM f2 f JOIN und u ON u.src = f.node) WHERE rn <= 2)
         |SELECT seed, 1 AS hop, src, dst FROM h1
         |UNION ALL SELECT seed, 2 AS hop, src, dst FROM h2""".stripMargin),

    "kg36_shapes" ->
      s"""$triplesCte,
         |td AS MATERIALIZED (SELECT DISTINCT subj, pred, obj, subj_type,
         |    obj_type
         |  FROM triples WHERE subj IS NOT NULL),
         |ps AS (SELECT subj_type, pred, subj, count(*) AS n_objs
         |  FROM td GROUP BY 1, 2, 3),
         |pp AS (SELECT subj_type AS label, pred AS predicate,
         |    count(*) AS n_with_pred, max(n_objs) AS max_count
         |  FROM ps GROUP BY 1, 2),
         |cls AS (SELECT subj_type AS label, pred AS predicate,
         |    min(obj_type) AS object_class,
         |    count(DISTINCT obj_type) AS n_object_classes
         |  FROM td GROUP BY 1, 2),
         |ec AS (SELECT subj_type AS label, count(DISTINCT subj) AS n_entities
         |  FROM td GROUP BY 1)
         |SELECT label, predicate, object_class, n_object_classes,
         |  n_entities, n_with_pred,
         |  CAST(CASE WHEN n_with_pred = n_entities THEN 1 ELSE 0 END AS INT)
         |    AS min_count,
         |  max_count
         |FROM pp JOIN cls USING (label, predicate) JOIN ec USING (label)""".stripMargin,

    "kg37_snapshot" ->
      s"""$validityCtes
         |SELECT subj, pred, obj, interval_idx, from_day, to_day,
         |  n_active_days, (SELECT max(to_day) FROM iv) AS as_of_day
         |FROM iv
         |WHERE from_day <= (SELECT max(to_day) FROM iv)
         |  AND to_day >= (SELECT max(to_day) FROM iv) - 3""".stripMargin,

    "kg35_implications" ->
      s"""$triplesCte,
         |base AS (SELECT DISTINCT subj, pred, obj FROM triples
         |  WHERE subj IS NOT NULL AND obj IS NOT NULL),
         |drv AS (SELECT DISTINCT l.subj, 'colleague' AS pred, r.subj AS obj
         |  FROM base l JOIN base r
         |  ON l.pred = 'works_at' AND r.pred = 'works_at'
         |  AND l.obj = r.obj AND l.subj <> r.subj),
         |ts AS (SELECT * FROM base UNION SELECT * FROM drv),
         |sup AS (SELECT l.pred AS body_pred, r.pred AS head_pred,
         |    count(*) AS support
         |  FROM ts l JOIN ts r
         |  ON l.subj = r.subj AND l.obj = r.obj AND l.pred <> r.pred
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |tot AS (SELECT pred AS body_pred, count(*) AS n_body_pairs
         |  FROM ts GROUP BY 1)
         |SELECT body_pred, head_pred, support, n_body_pairs,
         |  round(CAST(support AS DOUBLE) / n_body_pairs, 6) AS confidence
         |FROM sup JOIN tot USING (body_pred)""".stripMargin,

    "kg34_encoded" ->
      s"""$triplesCte,
         |tt AS MATERIALIZED (SELECT subj, pred, obj FROM triples
         |  WHERE subj IS NOT NULL),
         |ents AS (SELECT subj AS value FROM tt UNION SELECT obj FROM tt),
         |dict AS MATERIALIZED (SELECT value,
         |    row_number() OVER (ORDER BY value) - 1 AS id FROM ents),
         |pdict AS (SELECT pred, row_number() OVER (ORDER BY pred) - 1 AS pid
         |  FROM (SELECT DISTINCT pred FROM tt))
         |SELECT ds.id AS s_id, pd.pid AS p_id, dobj.id AS o_id,
         |  count(*) AS n_obs
         |FROM tt t
         |  JOIN dict ds ON t.subj = ds.value
         |  JOIN dict dobj ON t.obj = dobj.value
         |  JOIN pdict pd ON t.pred = pd.pred
         |GROUP BY 1, 2, 3""".stripMargin,

    "kg22_entity_types" ->
      s"""$triplesCte,
         |m AS (SELECT subj AS entity, subj_type AS etype FROM triples
         |    WHERE subj IS NOT NULL AND subj_type IS NOT NULL
         |  UNION ALL SELECT obj, obj_type FROM triples
         |    WHERE obj IS NOT NULL AND obj_type IS NOT NULL),
         |v AS (SELECT entity, etype, count(*) AS votes FROM m GROUP BY 1, 2),
         |t AS (SELECT entity, etype, votes,
         |    CAST(sum(votes) OVER (PARTITION BY entity) AS BIGINT) AS n_mentions,
         |    row_number() OVER (PARTITION BY entity
         |      ORDER BY votes DESC, etype) AS rn FROM v)
         |SELECT entity, etype AS assigned_type, votes, n_mentions,
         |  round(CAST(votes AS DOUBLE) / n_mentions, 6) AS purity
         |FROM t WHERE rn = 1""".stripMargin,

    "kg21_linkpred" ->
      s"""$triplesCte,
         |e AS MATERIALIZED (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
         |  FROM triples WHERE subj IS NOT NULL AND obj IS NOT NULL AND subj <> obj),
         |deg AS MATERIALIZED (SELECT node, count(*) AS degree FROM (
         |  SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |w AS MATERIALIZED (SELECT adj.z, adj.n,
         |    CAST(round(1e6 / ln(deg.degree)) AS BIGINT) AS aa_u,
         |    CAST(round(1e6 / deg.degree) AS BIGINT) AS ra_u
         |  FROM (SELECT a AS z, b AS n FROM e UNION ALL SELECT b, a FROM e) adj
         |  JOIN deg ON deg.node = adj.z WHERE deg.degree >= 2),
         |p AS (SELECT w1.n AS a, w2.n AS b, count(*) AS common_neighbors,
         |    CAST(sum(w1.aa_u) AS BIGINT) AS aa_micro,
         |    CAST(sum(w1.ra_u) AS BIGINT) AS ra_micro
         |  FROM w w1 JOIN w w2 ON w1.z = w2.z AND w1.n < w2.n GROUP BY 1, 2)
         |SELECT a, b, common_neighbors,
         |  round(aa_micro / 1e6, 6) AS adamic_adar,
         |  round(ra_micro / 1e6, 6) AS resource_alloc
         |FROM p WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.a AND e.b = p.b)
         |ORDER BY aa_micro DESC, a, b LIMIT 30""".stripMargin,

    "kg8_untyped_patterns" ->
      """WITH a AS (
        |  SELECT 'Person' AS label,
        |    array_to_string(list_sort(list_filter(
        |      ['title', CASE WHEN doc_id % 7 <> 0 THEN 'n_chars' END],
        |      x -> x IS NOT NULL)), ',') AS properties,
        |    'person_ref' AS edges
        |  FROM documents),
        |b AS (
        |  SELECT CASE WHEN doc_id % 4 = 0 THEN 'a Person entry'
        |              WHEN doc_id % 4 = 1 THEN 'some organization'
        |              WHEN doc_id % 4 = 2 THEN lang END AS kind
        |  FROM documents),
        |b2 AS (
        |  SELECT COALESCE(
        |    CASE WHEN contains(lower(kind), 'person') THEN 'Person'
        |         WHEN contains(lower(kind), 'place') THEN 'Place'
        |         WHEN contains(lower(kind), 'event') THEN 'Event'
        |         WHEN contains(lower(kind), 'organization') THEN 'Organization'
        |         WHEN contains(lower(kind), 'location') THEN 'Location'
        |         WHEN contains(lower(kind), 'product') THEN 'Product'
        |         WHEN contains(lower(kind), 'company') THEN 'Company'
        |         WHEN contains(lower(kind), 'city') THEN 'City'
        |         WHEN contains(lower(kind), 'country') THEN 'Country' END,
        |    'UnknownNodeLabel') AS label,
        |    array_to_string(list_sort(list_filter(
        |      [CASE WHEN kind IS NOT NULL THEN 'kind' END, 'size'],
        |      x -> x IS NOT NULL)), ',') AS properties,
        |    '' AS edges
        |  FROM b),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b2)
        |SELECT label, properties, edges, COUNT(*) AS n_rows
        |FROM u GROUP BY 1, 2, 3""".stripMargin,

    "q8_eval_majority" ->
      """WITH assignments AS (
        |  SELECT c_custkey AS id, c_mktsegment AS predicted,
        |         CAST(c_nationkey AS VARCHAR) AS actual FROM customer),
        |counts AS (SELECT predicted, actual, COUNT(*) AS cnt FROM assignments GROUP BY 1, 2),
        |majority AS (SELECT predicted, actual AS mt FROM (
        |  SELECT predicted, actual,
        |    row_number() OVER (PARTITION BY predicted ORDER BY cnt DESC, actual) AS rn
        |  FROM counts) WHERE rn = 1),
        |joined AS (SELECT a.actual, m.mt FROM assignments a JOIN majority m ON a.predicted = m.predicted),
        |tpfp AS (SELECT CAST(SUM(CASE WHEN actual = mt THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |               CAST(SUM(CASE WHEN actual <> mt THEN 1 ELSE 0 END) AS BIGINT) AS fp FROM joined),
        |ta AS (SELECT actual, COUNT(*) AS total_actual FROM assignments GROUP BY 1),
        |tpred AS (SELECT mt, COUNT(*) AS total_predicted FROM joined WHERE actual = mt GROUP BY 1),
        |fnv AS (SELECT CAST(SUM(total_actual - COALESCE(total_predicted, 0)) AS BIGINT) AS fn
        |        FROM ta LEFT JOIN tpred ON ta.actual = tpred.mt)
        |SELECT tp, fp, fn FROM tpfp, fnv""".stripMargin,

    "q9_rollup" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,

    "q10_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessioned AS (
        |  SELECT user_id, us, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM flagged)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value,
        |  CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
        |FROM sessioned GROUP BY 1, 2""".stripMargin,

    "q12_infer_types" ->
      """WITH src AS (
        |  SELECT CAST(event_id AS VARCHAR) AS event_id_s,
        |         CAST(value AS VARCHAR) AS value_s,
        |         CAST(ts AS VARCHAR) AS ts_s,
        |         CAST(value > 50 AS VARCHAR) AS flag_s,
        |         event_type, props FROM events),
        |vals AS (
        |  SELECT 'event_id_s' AS "column", event_id_s AS v FROM src WHERE event_id_s IS NOT NULL
        |  UNION ALL SELECT 'value_s', value_s FROM src WHERE value_s IS NOT NULL
        |  UNION ALL SELECT 'ts_s', ts_s FROM src WHERE ts_s IS NOT NULL
        |  UNION ALL SELECT 'flag_s', flag_s FROM src WHERE flag_s IS NOT NULL
        |  UNION ALL SELECT 'event_type', event_type FROM src WHERE event_type IS NOT NULL
        |  UNION ALL SELECT 'props', props FROM src WHERE props IS NOT NULL),
        |cls AS (
        |  SELECT "column",
        |    CASE WHEN TRY_CAST(v AS BIGINT) IS NOT NULL AND NOT contains(v, '.') THEN 'LONG'
        |         WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL THEN 'DOUBLE'
        |         WHEN lower(v) IN ('true', 'false') THEN 'BOOLEAN'
        |         WHEN TRY_CAST(v AS TIMESTAMP) IS NOT NULL THEN 'TIMESTAMP'
        |         ELSE 'STRING' END AS vtype
        |  FROM vals),
        |cnt AS (SELECT "column", vtype, COUNT(*) AS c FROM cls GROUP BY 1, 2)
        |SELECT "column", vtype AS inferred_type FROM (
        |  SELECT "column", vtype,
        |    row_number() OVER (PARTITION BY "column" ORDER BY c DESC, vtype) AS rn
        |  FROM cnt) WHERE rn = 1""".stripMargin,

    "dd1_exact_dedup" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents)
        |GROUP BY trim(lower(text))""".stripMargin,

    "er1_blocking_quality" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        |t AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM h a JOIN h b ON a.h = b.h AND a.doc_id < b.doc_id),
        |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))]) AS s
        |  FROM d),
        |f AS (SELECT id_a, id_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.8),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |nt AS (SELECT count(*) AS n_true_pairs FROM t),
        |nf AS (SELECT count(*) AS n_found_pairs FROM f),
        |nc AS (SELECT count(*) AS n_caught FROM t
        |  WHERE EXISTS (SELECT 1 FROM f
        |                WHERE f.id_a = t.id_a AND f.id_b = t.id_b))
        |SELECT n_docs, n_true_pairs, n_found_pairs, n_caught,
        |  round(CASE WHEN n_true_pairs = 0 THEN 1.0
        |    ELSE CAST(n_caught AS DOUBLE) / n_true_pairs END, 6)
        |    AS pairs_completeness,
        |  round(1.0 - CAST(n_found_pairs AS DOUBLE) /
        |    (CAST(n_docs AS DOUBLE) * (n_docs - 1) / 2.0), 6)
        |    AS reduction_ratio
        |FROM nd, nt, nf, nc""".stripMargin,

    "er2_sorted_neighborhood" ->
      """WITH k AS (SELECT doc_id, substring(lower(text), 1, 24) AS key
        |  FROM documents),
        |s AS (SELECT doc_id, key, substring(key, 1, 2) AS b,
        |    row_number() OVER (PARTITION BY substring(key, 1, 2)
        |      ORDER BY key, doc_id) AS rn
        |  FROM k)
        |SELECT least(a.doc_id, c.doc_id) AS id_a,
        |       greatest(a.doc_id, c.doc_id) AS id_b
        |FROM s a JOIN s c ON a.b = c.b AND c.rn - a.rn BETWEEN 1 AND 3""".stripMargin,

    "er3_match_scores" ->
      s"""WITH $er3OracleCtes
         |SELECT * FROM scored""".stripMargin,

    "er4_er_clusters" ->
      s"""WITH RECURSIVE $er3OracleCtes,
         |links AS (SELECT id_a AS a, id_b AS b FROM scored
         |  WHERE score >= 2.0),
         |und AS (SELECT a, b FROM links UNION SELECT b, a FROM links),
         |nodes AS (SELECT DISTINCT a AS id FROM und),
         |reach AS (SELECT id, id AS r FROM nodes
         |  UNION SELECT u.b AS id, reach.r FROM reach
         |    JOIN und u ON u.a = reach.id),
         |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY 1),
         |sizes AS (SELECT cluster_id, count(*) AS cluster_size
         |  FROM comp GROUP BY 1)
         |SELECT comp.id AS doc_id, comp.cluster_id, sizes.cluster_size
         |FROM comp JOIN sizes USING (cluster_id)""".stripMargin,

    "dd2_minhash_pairs" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))]) AS s
        |  FROM d)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin,

    "dd3_simhash_pairs" -> dd3Oracle,

    "dd5_embed_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |u AS (SELECT vec_id, v FROM e
        |      UNION ALL SELECT vec_id + 100000, list_transform(v, x -> x * 1.001)
        |      FROM e WHERE vec_id < 50),
        |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |           round(list_inner_product(a.v, b.v) /
        |             (sqrt(list_inner_product(a.v, a.v)) *
        |              sqrt(list_inner_product(b.v, b.v))), 6) AS cosine
        |         FROM u a JOIN u b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM cand WHERE cosine >= 0.999""".stripMargin,

    "dd4_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w,
        |  floor(length(text) / 8) AS bkt FROM documents),
        |k AS (SELECT doc_id, lang || '_' || CAST(b AS VARCHAR) AS blk, w
        |      FROM d, LATERAL (SELECT unnest([bkt, bkt + 1]) AS b) t),
        |sh AS (SELECT doc_id, blk,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))]) AS s
        |  FROM k)
        |SELECT DISTINCT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5""".stripMargin,

    "dd9_jaccard_join" ->
      """WITH sh AS (SELECT doc_id, list_distinct(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))]) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5""".stripMargin,

    "dd11_containment" ->
      """WITH sh AS (SELECT doc_id, list_distinct(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))]) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |pr AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    len(list_intersect(a.s, b.s)) AS o, len(a.s) AS na, len(b.s) AS nb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT ia AS id_a, ib AS id_b, CAST(o AS DOUBLE) / na AS containment
        |FROM pr WHERE CAST(o AS DOUBLE) / na >= 0.8
        |UNION ALL
        |SELECT ib, ia, CAST(o AS DOUBLE) / nb FROM pr
        |WHERE CAST(o AS DOUBLE) / nb >= 0.8""".stripMargin,

    "dd10_editdist" ->
      """WITH t AS (SELECT c_custkey AS id,
        |    CASE WHEN c_custkey % 3 = 0
        |         THEN substr(c_name, 1, length(c_name) - 1)
        |         ELSE c_name END AS name
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM t a JOIN t b ON a.id < b.id
        |WHERE abs(length(a.name) - length(b.name)) <= 1
        |  AND levenshtein(a.name, b.name) <= 1""".stripMargin,

    "dd6_euclid_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |u AS (SELECT vec_id, v FROM e
        |      UNION ALL SELECT vec_id + 100000, list_transform(v, x -> x * 1.001) FROM e),
        |k AS (SELECT vec_id, v,
        |        CAST(floor(sqrt(list_inner_product(v, v)) / 0.01) AS BIGINT) AS bkt
        |      FROM u),
        |p AS (SELECT vec_id, v, unnest([bkt, bkt + 1]) AS blk FROM k),
        |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |           round(sqrt(greatest(
        |             list_inner_product(a.v, a.v) - 2 * list_inner_product(a.v, b.v)
        |               + list_inner_product(b.v, b.v), 0)), 6) AS dist
        |         FROM p a JOIN p b ON a.blk = b.blk AND a.vec_id < b.vec_id)
        |SELECT DISTINCT id_a, id_b, dist FROM cand WHERE dist <= 0.01""".stripMargin,

    "dd7_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |u AS (SELECT vec_id, v FROM e
        |      UNION ALL SELECT vec_id + 100000, list_transform(v, x -> x * 1.001)
        |      FROM e WHERE vec_id < 50),
        |c AS (SELECT CAST(vec_id AS INT) AS cell, v AS cvec FROM e WHERE vec_id < 8),
        |d AS (SELECT u.vec_id, c.cell,
        |        round(sqrt(greatest(list_inner_product(u.v, u.v)
        |          - 2 * list_inner_product(u.v, c.cvec)
        |          + list_inner_product(c.cvec, c.cvec), 0)), 9) AS dist
        |      FROM u CROSS JOIN c),
        |asg AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |  FROM d) WHERE rn = 1),
        |withv AS (SELECT a.vec_id, a.cell, u.v FROM asg a JOIN u USING (vec_id)),
        |dup AS (SELECT DISTINCT b.vec_id FROM withv a JOIN withv b
        |        ON a.cell = b.cell AND a.vec_id < b.vec_id
        |        WHERE round(list_inner_product(a.v, b.v) /
        |          (sqrt(list_inner_product(a.v, a.v)) *
        |           sqrt(list_inner_product(b.v, b.v))), 6) >= 0.999)
        |SELECT vec_id, cell FROM asg
        |WHERE vec_id NOT IN (SELECT vec_id FROM dup)""".stripMargin,

    "dd8_incremental_dedup" ->
      """WITH inc AS (
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 30
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |    'ua'||doc_id||' ub'||doc_id||' uc'||doc_id||' ud'||doc_id||' ue'||doc_id
        |  FROM documents WHERE doc_id >= 30 AND doc_id < 70
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |    'ua'||doc_id||' ub'||doc_id||' uc'||doc_id||' ud'||doc_id||' ue'||doc_id
        |  FROM documents WHERE doc_id >= 30 AND doc_id < 40),
        |shn AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))]) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM inc)),
        |sho AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))]) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |alls AS (SELECT doc_id, s, TRUE AS is_new FROM shn
        |         UNION ALL SELECT doc_id, s, FALSE FROM sho),
        |drp AS (SELECT DISTINCT n.doc_id
        |        FROM shn n JOIN alls e
        |          ON (NOT e.is_new OR e.doc_id < n.doc_id) AND e.doc_id <> n.doc_id
        |        WHERE CAST(len(list_intersect(n.s, e.s)) AS DOUBLE) /
        |              len(list_distinct(list_concat(n.s, e.s))) >= 0.8)
        |SELECT doc_id, text FROM inc
        |WHERE doc_id NOT IN (SELECT doc_id FROM drp)""".stripMargin,

    "ann4_quant_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |q8 AS (SELECT vec_id,
        |         CASE WHEN mx = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> trunc(x * 127.0 / mx)) END AS qv
        |       FROM sc),
        |q AS (SELECT vec_id AS query_id, qv AS qqv FROM q8 WHERE vec_id < 5),
        |scored AS (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    round(CASE WHEN list_inner_product(qqv, qqv) = 0
        |                 OR list_inner_product(c.qv, c.qv) = 0 THEN 0.0
        |      ELSE list_inner_product(qqv, c.qv) /
        |        (sqrt(list_inner_product(qqv, qqv)) *
        |         sqrt(list_inner_product(c.qv, c.qv))) END, 6) AS qcosine
        |  FROM q JOIN q8 c ON c.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, qcosine, CAST(rn AS INT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qcosine DESC, neighbor_id) AS rn
        |  FROM scored) WHERE rn <= 10""".stripMargin,

    "ann1_brute_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_inner_product(qv, e.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(qv, qv)) *
        |       sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS cosine
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
        |  FROM scored) WHERE rn <= 10""".stripMargin,

    "ann2_lsh_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |copies AS (SELECT m * 100000 + vec_id AS vec_id,
        |             list_transform(v, x -> x * (1.0 + m / 1000.0)) AS v
        |           FROM e, LATERAL (SELECT unnest(range(1, 11)) AS m) t
        |           WHERE vec_id < 5),
        |corpus AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM copies),
        |scored AS (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    round(list_inner_product(qv, c.v) /
        |      (sqrt(list_inner_product(qv, qv)) *
        |       sqrt(list_inner_product(c.v, c.v))), 6) AS cosine
        |  FROM q JOIN corpus c ON c.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
        |  FROM scored) WHERE rn <= 10""".stripMargin,

    "ann3_ivf_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_inner_product(qv, e.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(qv, qv)) *
        |       sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS cosine
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
        |  FROM scored) WHERE rn <= 10""".stripMargin,

    "q11_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "tx1_langid" ->
      """WITH f AS (SELECT doc_id, text,
        |  len(list_filter(string_split_regex(lower(text), ' +'),
        |    x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS en,
        |  len(list_filter(string_split_regex(lower(text), ' +'),
        |    x -> x IN ('der','die','das','und','ist','nicht','ein','zu','mit','auf'))) AS de,
        |  len(list_filter(string_split_regex(lower(text), ' +'),
        |    x -> x IN ('le','la','les','et','est','un','une','des','que','pour'))) AS fr,
        |  len(list_filter(string_split_regex(lower(text), ' +'),
        |    x -> x IN ('el','los','y','es','un','una','las','que','por','con'))) AS es,
        |  length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS cjk
        |FROM documents)
        |SELECT doc_id, CASE
        |  WHEN cjk * 5 > length(text) THEN 'zh'
        |  WHEN greatest(en, de, fr, es) = 0 THEN 'und'
        |  WHEN en = greatest(en, de, fr, es) THEN 'en'
        |  WHEN de = greatest(en, de, fr, es) THEN 'de'
        |  WHEN fr = greatest(en, de, fr, es) THEN 'fr'
        |  ELSE 'es' END AS lang_pred
        |FROM f""".stripMargin,

    "tx2_quality" ->
      """WITH f AS (SELECT doc_id,
        |  len(string_split_regex(lower(text), ' +')) AS n_words,
        |  length(text) AS n_chars_calc,
        |  length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct,
        |  len(list_filter(string_split_regex(lower(text), ' +'),
        |    x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS sw
        |FROM documents),
        |r AS (SELECT doc_id, n_words, n_chars_calc,
        |  round(CAST(n_chars_calc - n_words + 1 AS DOUBLE) / n_words, 6) AS mean_word_len,
        |  round(CAST(n_punct AS DOUBLE) / n_chars_calc, 6) AS punct_ratio,
        |  round(CAST(sw AS DOUBLE) / n_words, 6) AS stopword_ratio
        |FROM f)
        |SELECT doc_id, n_words, n_chars_calc, mean_word_len, punct_ratio, stopword_ratio,
        |  round(least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |        (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3 +
        |        least(stopword_ratio * 4.0, 1.0) * 0.3, 6) AS quality_score
        |FROM r""".stripMargin,

    "tx3_tokens" ->
      """SELECT doc_id,
        |  len(string_split_regex(lower(text), ' +')) AS n_ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens
        |FROM documents""".stripMargin,

    "tx4_fingerprints" ->
      """WITH d AS (SELECT doc_id,
        |  trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm FROM documents),
        |w AS (SELECT doc_id, norm, string_split(norm, ' ') AS ws FROM d)
        |SELECT doc_id, md5(norm) AS fp_content,
        |  list_min([md5(array_to_string(ws[i:i+4], ' ')) for i in range(1, greatest(len(ws)-3, 2))]) AS fp_min_shingle
        |FROM w""".stripMargin,

    "sm1_hash_sample" ->
      ("""SELECT doc_id, lang, source FROM documents
        |WHERE md5(concat('s1', ':', CAST(doc_id AS VARCHAR))) < '40000000""".stripMargin
        + "0" * 24 + "'"),

    "sm2_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang, source
        |  ORDER BY md5(concat('s2', ':', CAST(doc_id AS VARCHAR)))) <= 3""".stripMargin,

    "sm3_pack_docs" ->
      """WITH t AS (SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
        |    CAST(len(string_split_regex(lower(text), ' +')) AS BIGINT) AS n_tok,
        |    md5(concat('p1', ':', CAST(doc_id AS VARCHAR))) AS k
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tok, k,
        |    sum(n_tok) OVER (PARTITION BY shard ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, shard,
        |  CAST(floor((cum - n_tok) / 200.0) AS BIGINT) AS pack_id,
        |  CAST(row_number() OVER (
        |    PARTITION BY shard, CAST(floor((cum - n_tok) / 200.0) AS BIGINT)
        |    ORDER BY k) AS INT) AS pack_pos
        |FROM c""".stripMargin,

    "tx11_keyphrases" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(text), ' +')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE len(term) > 0 GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |    CAST(tf.tf AS DOUBLE) * ln((SELECT n FROM n) / CAST(dfq.df AS DOUBLE)) AS s
        |  FROM tf JOIN dfq USING (term))
        |SELECT doc_id, rank, term, tf, df, round(s, 6) AS tfidf FROM (
        |  SELECT doc_id, term, tf, df, s,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY s DESC, term ASC) AS rank
        |  FROM sc) WHERE rank <= 3""".stripMargin,

    "tx12_readability" ->
      """WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(lower(text)), ' +'),
        |      x -> len(x) > 0) AS ws,
        |    regexp_replace(lower(text), '[aeiouy]+', 'V', 'g') AS runs
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(ws) AS INT) AS n_words,
        |    CAST(greatest(1, len(text)
        |      - len(regexp_replace(text, '[.!?]', '', 'g'))) AS INT)
        |      AS n_sentences,
        |    CAST(len(runs) - len(replace(runs, 'V', ''))
        |      + len(list_filter(ws, x -> NOT regexp_matches(x, '[aeiouy]')))
        |      AS INT) AS n_syllables
        |  FROM t)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    round(206.835
        |      - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |      - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
        |  END AS flesch
        |FROM m""".stripMargin,

    "tx5_repetition" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(text), ' +') AS w FROM documents),
        |g AS (SELECT doc_id, w,
        |  [array_to_string(w[i:i+1], ' ') for i in range(1, greatest(len(w), 2))] AS g2,
        |  [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))] AS g3
        | FROM d)
        |SELECT doc_id,
        |  round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS dup_word_ratio,
        |  round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6) AS dup_2gram_ratio,
        |  round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6) AS dup_3gram_ratio,
        |  round(CAST(list_max(list_transform(list_distinct(w),
        |    x -> len(list_filter(w, y -> y = x)))) AS DOUBLE) / len(w), 6) AS top_word_ratio
        |FROM g""".stripMargin,

    "sm4_mixture" ->
      """WITH wt AS (SELECT * FROM (VALUES ('en', 0.5::DOUBLE), ('de', 0.3::DOUBLE),
        |    ('es', 0.2::DOUBLE)) AS t(lang, w)),
        |cnt AS (SELECT lang, count(*) AS n FROM documents
        |        WHERE lang IN ('en', 'de', 'es') GROUP BY 1),
        |c AS (SELECT min(CAST(n AS DOUBLE) / w) AS c FROM cnt JOIN wt USING (lang)),
        |k AS (SELECT wt.lang, CAST(floor(c.c * wt.w) AS BIGINT) AS k FROM wt, c)
        |SELECT doc_id, lang FROM (
        |  SELECT d.doc_id, d.lang, k.k,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY md5(concat('m1', ':', CAST(d.doc_id AS VARCHAR)))) AS rn
        |  FROM documents d JOIN k USING (lang)) WHERE rn <= k""".stripMargin,

    "sm5_weighted" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    ln((('0x' || substr(md5('w1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |        + 0.5) / 4294967296.0) / CAST(n_chars AS DOUBLE) AS k
        |  FROM documents WHERE n_chars > 0)
        |ORDER BY k DESC, doc_id ASC LIMIT 150""".stripMargin,

    "sm6_shard" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5('sh1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    % 8 AS INT) AS shard,
        |  row_number() OVER (PARTITION BY
        |      ('0x' || substr(md5('sh1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
        |    ORDER BY md5('sh1:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |FROM documents""".stripMargin,

    "sm7_chunks" ->
      """WITH d AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
        |  FROM documents),
        |m AS (SELECT doc_id, ws, len(ws) AS n,
        |        CASE WHEN len(ws) = 0 THEN 0
        |             ELSE 1 + greatest(0, CAST(ceil((len(ws) - 12) / 8.0) AS INT))
        |        END AS nch
        |      FROM d),
        |c AS (SELECT doc_id, ws, n, unnest(range(0, nch)) AS chunk_idx
        |      FROM m WHERE nch > 0)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(least(12, n - chunk_idx * 8) AS BIGINT) AS n_tokens,
        |  array_to_string(ws[chunk_idx*8+1 : chunk_idx*8+12], ' ') AS chunk_text
        |FROM c""".stripMargin,

    "sm8_temperature" ->
      """WITH cnt AS MATERIALIZED (SELECT lang, count(*) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY 1),
        |wt AS MATERIALIZED (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS w FROM cnt),
        |c AS (SELECT min(CAST(n AS DOUBLE) / w) AS c FROM wt),
        |k AS (SELECT wt.lang, CAST(floor(c.c * wt.w) AS BIGINT) AS k FROM wt, c)
        |SELECT doc_id, lang FROM (
        |  SELECT d.doc_id, d.lang, k.k,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY md5(concat('t1', ':', CAST(d.doc_id AS VARCHAR)))) AS rn
        |  FROM documents d JOIN k USING (lang)) WHERE rn <= k""".stripMargin,

    "sm9_splits" ->
      """WITH b AS (SELECT
        |    printf('%08x', CAST(trunc(0.8 / 1.0 * 4294967296.0) AS BIGINT)) || repeat('0', 24) AS b1,
        |    printf('%08x', CAST(trunc((0.8 / 1.0 + 0.1 / 1.0) * 4294967296.0) AS BIGINT)) || repeat('0', 24) AS b2)
        |SELECT doc_id,
        |  CASE WHEN k < b.b1 THEN 'train' WHEN k < b.b2 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, md5(concat('sp1', ':', CAST(doc_id AS VARCHAR))) AS k
        |      FROM documents), b""".stripMargin,

    "tx6_heavy_hitters" ->
      """WITH t AS (SELECT lang, unnest(list_filter(
        |    string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS word
        |  FROM documents WHERE lang IS NOT NULL),
        |c AS (SELECT lang, word, count(*) AS n FROM t GROUP BY 1, 2)
        |SELECT lang, CAST(rank AS BIGINT) AS rank, word, n FROM (
        |  SELECT lang, word, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, word ASC) AS rank
        |  FROM c) WHERE rank <= 10""".stripMargin,

    "tx7_telemetry" ->
      """WITH d AS (SELECT source, list_filter(
        |    string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS ws
        |  FROM documents WHERE source IS NOT NULL),
        |v AS (SELECT source, count(*) AS n_docs, CAST(sum(len(ws)) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY 1),
        |u AS (SELECT source, count(DISTINCT w) AS n_distinct_tokens FROM (
        |  SELECT source, unnest(ws) AS w FROM d) GROUP BY 1)
        |SELECT v.source, v.n_docs, v.n_tokens,
        |  CAST(coalesce(u.n_distinct_tokens, 0) AS BIGINT) AS n_distinct_tokens,
        |  round(CAST(v.n_tokens AS DOUBLE) / v.n_docs, 6) AS avg_doc_tokens
        |FROM v LEFT JOIN u USING (source)""".stripMargin,

    "tx8_length_quantiles" ->
      """WITH c AS (SELECT lang, CAST(len(list_filter(
        |    string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS BIGINT) AS c
        |  FROM documents WHERE lang IS NOT NULL),
        |r AS (SELECT lang, c,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY c) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM c)
        |SELECT lang, count(*) AS n_docs, min(c) AS min_tokens,
        |  min(CASE WHEN rn = CAST(floor((cnt - 1) * 0.5) + 1 AS BIGINT) THEN c END) AS p50_tokens,
        |  min(CASE WHEN rn = CAST(floor((cnt - 1) * 0.9) + 1 AS BIGINT) THEN c END) AS p90_tokens,
        |  max(c) AS max_tokens
        |FROM r GROUP BY 1""".stripMargin,

    "tx10_entropy" ->
      """WITH w AS (SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM w GROUP BY 1, 2),
        |t AS (SELECT doc_id, c,
        |    CAST(round(ln(c) * 1e6, 0) AS BIGINT) * c AS t FROM c),
        |a AS (SELECT doc_id, sum(c) AS n_words, sum(t) AS s FROM t GROUP BY 1)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  round(CASE WHEN n_words > 1
        |    THEN ln(n_words) - CAST(s AS DOUBLE) / 1e6 / n_words
        |    ELSE 0.0 END, 6) AS entropy
        |FROM a""".stripMargin,

    // 63 * 2^32 = 270582939648 (exact in double); fraction = (h+1)/2^32
    "tx9_kmv_distinct" ->
      """WITH toks AS (SELECT lang, unnest(string_split_regex(lower(text), ' +')) AS tok
        |  FROM documents),
        |h AS (SELECT DISTINCT lang,
        |  CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks),
        |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
        |  FROM h)
        |SELECT lang, CAST(max(rn) AS BIGINT) AS n_tracked,
        |  round(CASE WHEN max(rn) < 64 THEN CAST(max(rn) AS DOUBLE)
        |    ELSE 270582939648.0 / (max(CASE WHEN rn = 64 THEN h END) + 1) END, 6)
        |    AS distinct_est
        |FROM r WHERE rn <= 64 GROUP BY 1""".stripMargin,

    "dc1_decontaminate" ->
      """WITH d AS (SELECT doc_id,
        |  string_split(trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' ') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+3], ' ') for i in range(1, greatest(len(w)-2, 2))]) AS s
        |  FROM d),
        |bench AS (SELECT DISTINCT doc_id AS bench_id, unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        |corpus AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0)
        |SELECT c.doc_id, count(DISTINCT c.g) AS n_hits,
        |  count(DISTINCT b.bench_id) AS n_bench
        |FROM corpus c JOIN bench b USING (g) GROUP BY 1""".stripMargin,

    "dc2_clean_corpus" ->
      """WITH d AS (SELECT doc_id,
        |  string_split(trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' ') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+3], ' ') for i in range(1, greatest(len(w)-2, 2))]) AS s
        |  FROM d),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        |flagged AS (SELECT DISTINCT c.doc_id
        |  FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0) c
        |  JOIN bench b USING (g))
        |SELECT doc_id, lang FROM documents
        |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin,

    "cl1_boilerplate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |segs AS (
        |  SELECT doc_id,
        |    unnest([{'pos': i, 'seg': w[i]} for i in range(1, len(w) + 1)],
        |           recursive := true)
        |  FROM d),
        |hot AS (
        |  SELECT seg FROM (
        |    SELECT seg, count(*) AS df
        |    FROM (SELECT DISTINCT seg, doc_id FROM segs) GROUP BY seg)
        |  WHERE df > floor((SELECT count(DISTINCT doc_id) FROM documents) * 0.6))
        |SELECT s.doc_id,
        |  string_agg(CASE WHEN h.seg IS NULL THEN s.seg END, ' ' ORDER BY s.pos) AS clean_text,
        |  CAST(sum(CASE WHEN h.seg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN h.seg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM segs s LEFT JOIN hot h USING (seg)
        |GROUP BY s.doc_id
        |HAVING sum(CASE WHEN h.seg IS NULL THEN 1 ELSE 0 END) > 0""".stripMargin,

    "cl2_pii_redact" ->
      """WITH planted AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |    || ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' id 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[ID]', 'g'),
        |    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '[PHONE]', 'g') AS clean_text,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssn,
        |  len(regexp_extract_all(text, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS n_phone
        |FROM planted""".stripMargin,

    "es1_dup_spans" ->
      """WITH d AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(
        |    [{'pos': i - 1, 'gram': array_to_string(w[i:i+3], ' ')}
        |     for i in range(1, len(w) - 2)], recursive := true)
        |  FROM d WHERE len(w) >= 4),
        |dup AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) > 1),
        |dp AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
        |isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM (SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
        |      THEN 0 ELSE 1 END AS brk FROM dp)),
        |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 3 AS e
        |  FROM isl GROUP BY doc_id, island),
        |n AS (SELECT doc_id, len(w) AS n FROM d)
        |SELECT sp.doc_id, count(*) AS n_spans,
        |  CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
        |  CAST(max(e - s + 1) AS BIGINT) AS max_span_tokens,
        |  round(CAST(sum(e - s + 1) AS DOUBLE) / any_value(n.n), 6) AS dup_fraction
        |FROM sp JOIN n USING (doc_id) GROUP BY 1""".stripMargin,

    "vb1_vocab" ->
      """WITH w AS (SELECT unnest(string_split_regex(lower(text), ' +')) AS word
        |  FROM documents),
        |c AS (SELECT word, count(*) AS n FROM w WHERE len(word) > 0 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c),
        |k AS (SELECT word, n FROM c ORDER BY n DESC, word ASC LIMIT 100)
        |SELECT row_number() OVER (ORDER BY n DESC, word ASC) AS rank, word, n,
        |  round(n / (SELECT total FROM t), 6) AS frac,
        |  round(CAST(sum(n) OVER (ORDER BY n DESC, word ASC
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / (SELECT total FROM t), 6)
        |    AS cum_frac
        |FROM k""".stripMargin,

    "qf1_importance" ->
      """WITH b AS (SELECT doc_id, substr(md5(word), 1, 2) AS bucket FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS word
        |    FROM documents)),
        |r AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
        |t AS (SELECT bucket, count(*) AS n FROM b JOIN documents USING (doc_id)
        |  WHERE lang = 'en' GROUP BY 1),
        |tr AS (SELECT CAST(sum(n) AS DOUBLE) AS s FROM r),
        |tt AS (SELECT CAST(sum(n) AS DOUBLE) AS s FROM t),
        |wt AS (SELECT bucket,
        |  round(ln((coalesce(t.n, 0) / (SELECT s FROM tt) + 0.0001)
        |         / (coalesce(r.n, 0) / (SELECT s FROM tr) + 0.0001)), 6) AS w
        |  FROM r FULL OUTER JOIN t USING (bucket))
        |SELECT b.doc_id, count(*) AS n_tokens,
        |  round(sum(coalesce(wt.w, 0)), 6) AS score
        |FROM b LEFT JOIN wt USING (bucket) GROUP BY 1""".stripMargin,

    "qf2_perplexity" ->
      """WITH w AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS ws
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |    [ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))] AS bgs
        |  FROM w),
        |ub AS (SELECT substr(md5(x), 1, 2) AS bucket, count(*) AS n
        |  FROM (SELECT unnest(ws) AS x FROM w) GROUP BY 1),
        |bb AS (SELECT substr(md5(x), 1, 2) AS bucket, count(*) AS n
        |  FROM (SELECT unnest(bgs) AS x FROM bg) GROUP BY 1),
        |num AS (SELECT bucket, CAST(round(ln(n + 0.1) * 1e6, 0) AS BIGINT) AS v FROM bb),
        |den AS (SELECT bucket, CAST(round(ln(n + 0.1 * 256) * 1e6, 0) AS BIGINT) AS v FROM ub),
        |p AS (SELECT doc_id, unnest(bgs) AS bgr FROM bg),
        |s AS (SELECT p.doc_id,
        |    coalesce(num.v, CAST(round(ln(0.1) * 1e6, 0) AS BIGINT))
        |      - coalesce(den.v, CAST(round(ln(0.1 * 256) * 1e6, 0) AS BIGINT)) AS lp
        |  FROM p
        |  LEFT JOIN num ON num.bucket = substr(md5(p.bgr), 1, 2)
        |  LEFT JOIN den ON den.bucket = substr(md5(string_split(p.bgr, ' ')[1]), 1, 2)),
        |a AS (SELECT doc_id, count(*) AS m,
        |    CAST(sum(lp) AS DOUBLE) / 1e6 / count(*) AS avg_logp
        |  FROM s GROUP BY 1)
        |SELECT w.doc_id, CAST(coalesce(a.m, 0) AS BIGINT) AS n_bigrams,
        |  a.avg_logp, round(exp(-a.avg_logp), 6) AS ppl
        |FROM w LEFT JOIN a USING (doc_id)""".stripMargin,

    "qf3_classifier" -> {
      // the FULL gradient-descent trainer unrolled: micro-tf features and
      // micro weights are BIGINT, gradients DECIMAL(38,0), so every
      // aggregation is exact integer arithmetic (order-independent); the
      // scalar mul/div/round chains are written in the Scala expression
      // order so the doubles are bit-identical
      val iters = 8
      val iterCtes = (1 to iters).map { k =>
        val rk =
          if (k == 1)
            "r1 AS (SELECT doc_id, CAST(-y * 1000000 AS BIGINT) AS r FROM n)"
          else
            s"""z$k AS MATERIALIZED (SELECT f.doc_id, sum(coalesce(w${k - 1}.w, 0) * f.x) AS z
               |  FROM f LEFT JOIN w${k - 1} USING (b) GROUP BY 1),
               |r$k AS (SELECT z$k.doc_id,
               |  CAST(round(CAST(z$k.z - n.y * 1000000000000 AS DOUBLE) / 1e6, 0) AS BIGINT) AS r
               |  FROM z$k JOIN n USING (doc_id))""".stripMargin
        val gk =
          s"""g$k AS (SELECT f.b, sum(CAST(r$k.r * f.x AS DECIMAL(38,0))) AS g,
             |  sum(CAST(f.x * f.x AS DECIMAL(38,0))) AS h
             |  FROM f JOIN r$k USING (doc_id) GROUP BY 1)""".stripMargin
        val wk =
          if (k == 1)
            """w1 AS MATERIALIZED (SELECT b,
              |  0 - CAST(round(0.0625 * CAST(g AS DOUBLE) / CAST(h AS DOUBLE) * 1e6, 0) AS BIGINT) AS w
              |  FROM g1)""".stripMargin
          else
            s"""w$k AS MATERIALIZED (SELECT g$k.b,
               |  coalesce(w${k - 1}.w, 0) - CAST(round(0.0625 * CAST(g$k.g AS DOUBLE) / CAST(g$k.h AS DOUBLE) * 1e6, 0) AS BIGINT) AS w
               |  FROM g$k LEFT JOIN w${k - 1} ON w${k - 1}.b = g$k.b)""".stripMargin
        s"$rk,\n$gk,\n$wk"
      }.mkString(",\n")
      s"""WITH wd AS MATERIALIZED (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), ' +'), t -> len(t) > 0) AS ws,
         |    CASE WHEN text LIKE '%spark%' AND text LIKE '%join%' AND text LIKE '%hash%' THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |n AS MATERIALIZED (SELECT doc_id, len(ws) AS n, y FROM wd),
         |f AS MATERIALIZED (
         |  SELECT doc_id, b, x FROM (
         |    SELECT c.doc_id, c.b, CAST(round(CAST(c.c AS DOUBLE) / n.n * 1e6, 0) AS BIGINT) AS x
         |    FROM (SELECT doc_id, substr(md5(t), 1, 2) AS b, count(*) AS c
         |          FROM (SELECT doc_id, unnest(ws) AS t FROM wd) GROUP BY 1, 2) c
         |    JOIN n USING (doc_id)) WHERE x > 0
         |  UNION ALL SELECT doc_id, '_bias', 1000000 FROM n),
         |$iterCtes,
         |zf AS (SELECT f.doc_id, sum(coalesce(w$iters.w, 0) * f.x) AS z
         |  FROM f LEFT JOIN w$iters USING (b) GROUP BY 1)
         |SELECT n.doc_id, CAST(n.n AS BIGINT) AS n_tokens,
         |  round(CAST(zf.z AS DOUBLE) / 1e12, 6) AS score,
         |  CASE WHEN zf.z >= 500000000000 THEN 1 ELSE 0 END AS pred
         |FROM n JOIN zf USING (doc_id)""".stripMargin
    },

    "qf4_gopher" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(text), ' +') AS w,
        |  length(text) AS nc FROM documents),
        |f AS (SELECT doc_id, len(w) AS n_words,
        |  round(CAST(nc - len(w) + 1 AS DOUBLE) / len(w), 6) AS mean_word_len,
        |  round(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |    / len(w), 6) AS alpha_word_ratio,
        |  len(list_filter(w, x -> x IN ('the','and','of','to','a','in','is',
        |    'that','it','for'))) AS stopword_hits
        |FROM d)
        |SELECT doc_id, n_words, mean_word_len, alpha_word_ratio, stopword_hits,
        |  n_words BETWEEN 30 AND 90 AS ok_words,
        |  mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_len,
        |  alpha_word_ratio >= 0.8 AS ok_alpha,
        |  stopword_hits >= 2 AS ok_stopwords,
        |  (n_words BETWEEN 30 AND 90) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |    AND alpha_word_ratio >= 0.8 AND stopword_hits >= 2 AS keep
        |FROM f""".stripMargin,

    "ir1_bm25" -> {
      // arithmetic written in the SAME order as the Scala expression tree
      // (left-assoc products, (1.2 + 1) not 2.2) so the doubles are
      // bit-identical; idf's ln may differ by a libm ulp — absorbed by the
      // 6dp round on an irrational score
      val terms = Seq("spark", "vector", "dup")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(ws, x -> x = '$t')) AS tf$i" }.mkString(",\n|  ")
      val idfs = terms.zipWithIndex.map { case (t, i) =>
        s"""ln(((SELECT n FROM st) - coalesce((SELECT df FROM dfq WHERE t = '$t'), 0) + 0.5)
           |    / (coalesce((SELECT df FROM dfq WHERE t = '$t'), 0) + 0.5) + 1) AS idf$i""".stripMargin
      }.mkString(",\n|  ")
      val scoreSum = terms.indices.map(i =>
        s"idf$i * tf$i * (1.2 + 1) / (tf$i + 1.2 * ((1 - 0.75) + 0.75 * dl / (SELECT avgdl FROM st)))")
        .mkString(" + ")
      val matchedSum = terms.indices.map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH d AS (SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS ws
         |  FROM documents),
         |st AS MATERIALIZED (SELECT count(*) AS n, avg(len(ws)) AS avgdl FROM d),
         |dfq AS MATERIALIZED (SELECT t, count(*) AS df FROM (
         |  SELECT doc_id, unnest(list_intersect(list_distinct(ws),
         |    [${terms.map(t => s"'$t'").mkString(", ")}])) AS t FROM d) GROUP BY 1),
         |sc AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
         |  $tfCols
         |  FROM d),
         |i AS MATERIALIZED (SELECT
         |  $idfs)
         |SELECT doc_id, round($scoreSum, 6) AS score,
         |  CAST($matchedSum AS BIGINT) AS n_terms_matched
         |FROM sc, i
         |WHERE $matchedSum > 0
         |ORDER BY score DESC, doc_id ASC LIMIT 100""".stripMargin
    },

    "ev1_asof" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p0 AS (
        |  SELECT user_id, ts AS p_ts, max(value) AS p_val
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, p.p_val AS last_purchase_value,
        |  epoch_us(c.ts) - epoch_us(p.p_ts) AS usec_since_purchase
        |FROM clicks c ASOF LEFT JOIN p0 p
        |  ON c.user_id = p.user_id AND c.ts >= p.p_ts""".stripMargin,

    "ev2_range_join" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS w_start,
        |         epoch_us(ts) + 1800000000 AS w_end
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, c.click_id,
        |  p.p_us - c.w_start AS delay_usec
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND p.p_us >= c.w_start AND p.p_us <= c.w_end""".stripMargin,

    "ev4_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |  WHERE user_id IS NOT NULL
        |    AND event_type IN ('view', 'click', 'purchase')),
        |a AS (SELECT user_id,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
        |    min(CASE WHEN event_type = 'view' THEN us END) AS ts_view_us,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        |    min(CASE WHEN event_type = 'click' THEN us END) AS ts_click_us,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |    min(CASE WHEN event_type = 'purchase' THEN us END) AS ts_purchase_us
        |  FROM e GROUP BY 1)
        |SELECT user_id, n_view, ts_view_us, n_click, ts_click_us,
        |  n_purchase, ts_purchase_us,
        |  CASE WHEN ts_view_us IS NULL THEN 0
        |       WHEN ts_click_us IS NULL OR ts_click_us <= ts_view_us THEN 1
        |       WHEN ts_purchase_us IS NULL OR ts_purchase_us <= ts_click_us THEN 2
        |       ELSE 3 END AS reached
        |FROM a""".stripMargin,

    "ev5_retention" ->
      """WITH act AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts) // 604800000000 AS week
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |coh AS (SELECT u, min(week) AS cohort_week FROM act GROUP BY 1),
        |sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM coh GROUP BY 1),
        |cells AS (SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
        |    count(*) AS n_active
        |  FROM act a JOIN coh c USING (u) GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_active, cohort_size,
        |  round(CAST(n_active AS DOUBLE) / cohort_size, 6) AS retention
        |FROM cells JOIN sizes USING (cohort_week)""".stripMargin,

    "ev6_rate_anomalies" ->
      """WITH c AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |cnt AS (SELECT event_type, count(*) AS m FROM c GROUP BY 1),
        |r AS (SELECT event_type, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY n) AS rk FROM c),
        |med AS (SELECT r.event_type, r.n AS med FROM r JOIN cnt USING (event_type)
        |  WHERE rk = CAST(floor((m - 1) * 0.5) AS BIGINT) + 1),
        |d AS (SELECT c.day, c.event_type, c.n, med.med,
        |    abs(c.n - med.med) AS dev FROM c JOIN med USING (event_type)),
        |r2 AS (SELECT event_type, dev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rk FROM d),
        |mad AS (SELECT r2.event_type, r2.dev AS mad FROM r2 JOIN cnt USING (event_type)
        |  WHERE rk = CAST(floor((m - 1) * 0.5) AS BIGINT) + 1)
        |SELECT day, event_type, n, med, mad,
        |  CASE WHEN mad > 0 THEN round(dev / mad, 6) END AS robust_z
        |FROM d JOIN mad USING (event_type) WHERE dev > 2.0 * mad""".stripMargin,

    "ev3_outliers" ->
      """WITH v AS (SELECT event_id, event_type, value FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |n AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
        |r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk FROM v),
        |med AS (SELECT r.event_type, r.value AS med FROM r JOIN n USING (event_type)
        |  WHERE rk = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1),
        |d AS (SELECT v.event_id, v.event_type, v.value, med.med,
        |    abs(v.value - med.med) AS dev FROM v JOIN med USING (event_type)),
        |r2 AS (SELECT event_type, dev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rk FROM d),
        |mad AS (SELECT r2.event_type, r2.dev AS mad FROM r2 JOIN n USING (event_type)
        |  WHERE rk = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1)
        |SELECT event_id, event_type, value, med, mad,
        |  CASE WHEN mad > 0 THEN round(dev / mad, 6) END AS robust_z
        |FROM d JOIN mad USING (event_type) WHERE dev > 3.0 * mad""".stripMargin,

    "mm1_assets" ->
      """SELECT doc_id AS asset_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  length(text) AS payload_bytes, lang AS tag
        |FROM documents""".stripMargin,

    "mm2_frames" ->
      """SELECT doc_id AS asset_id, CAST(i AS INT) AS frame_idx,
        |  least(256, length(text) - CAST(i AS INT) * 256) AS frame_bytes
        |FROM documents,
        |  LATERAL (SELECT unnest(range(0, CAST(ceil(length(text) / 256.0) AS INT))) AS i) r""".stripMargin,

    "mm3_features" ->
      """SELECT doc_id AS asset_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  length(text) AS payload_bytes, CAST(i AS INT) AS dim,
        |  round(CAST(rpad(regexp_replace(
        |      md5(text || '|' || CAST(i AS VARCHAR)), '[a-f]', '', 'g'), 6, '0') AS INT)
        |    % 2001 / 1000.0 - 1.0, 3) AS value
        |FROM documents, LATERAL (SELECT unnest(range(0, 8)) AS i) r""".stripMargin
  )
}
