package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan properties: pushdown, pruning, broadcast, codegen.
  * These are the scale guarantees — a plan that reads all columns or
  * shuffles a broadcastable dim is wrong at 100 TB even if the rows match. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q1: parquet scan prunes to the aggregated columns only") {
    val p = plan(SparkEntry.queries("q1_agg")(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_partkey"),
      s"column pruning failed: $readSchema")
  }

  test("q2: small dims join as broadcast hash joins") {
    val p = plan(SparkEntry.queries("q2_join_broadcast")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "expected broadcast joins for dims")
    assert(!p.contains("SortMergeJoin"), "dims must not sort-merge")
  }

  test("q4: anti-join filter pushed to the orders scan") {
    val p = plan(SparkEntry.queries("q4_anti_join")(spark, dir))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThan(o_totalprice"),
      s"filter not pushed: $pushed")
  }

  test("extraction plan stays inside whole-stage codegen (no UDFs)") {
    val tr = graft.fixtures.TranscriptGen.transcripts(spark, 10)
    val df = graft.extract.Extraction.triplesRaw(tr)
    val p = plan(df)
    // formatted mode marks codegen'd nodes with a leading '*'
    assert(p.linesIterator.exists(_.trim.startsWith("* Project")), "codegen projections")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"))
    // single-scan multi-rule extraction: ONE Generate added by extraction
    // (the explode_outer trick), not one scan+explode per rule. The
    // in-memory fixture generator contributes its own Generate, so count
    // the DELTA over the input plan.
    def nGens(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.sparkPlan.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }.size
    assert(nGens(df) - nGens(tr) == 1,
      s"extraction must add exactly 1 Generate (got ${nGens(df)} vs input ${nGens(tr)})")
    // the rule-match projection must be FULLY codegen-able: one
    // CodegenFallback expression (e.g. the ArrayFilter HOF this replaced)
    // drags the whole projection into interpreted eval on every turn
    val fallbacks = df.queryExecution.sparkPlan.flatMap(_.expressions)
      .flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback => e
      })
    assert(fallbacks.isEmpty,
      s"extraction plan contains CodegenFallback expressions: ${fallbacks.map(_.getClass.getSimpleName).distinct}")
  }

  test("canonical-triples join carries no broadcast hint (AQE decides at runtime)") {
    // the mention->canonical dict is NOT guaranteed broadcast-safe at 10^12
    // turns — a compile-time broadcast hint would OOM the driver there, so
    // the plan must leave the strategy to AQE (Canonicalize.canonicalTriples)
    val tr = graft.fixtures.TranscriptGen.transcripts(spark, 30)
    val res = graft.pipeline.KGPipeline.run(spark, tr)
    // res.canonicalTriples is a lineage cut (no join left to inspect):
    // plan the stage's join itself over the pipeline's own inputs
    val canon = graft.link.Canonicalize.canonicalTriples(res.triplesRaw, res.entities)
    assert(canon.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]), "the join is planned")
    val hints = canon.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"expected no join hints, got: $hints")
  }

  test("ivfAssign is a pure projection — no Exchange on the corpus") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = graft.ann.Similarity.ivfCentroids(emb, "vec_id", "v", 8)
    val p = plan(graft.ann.Similarity.ivfAssign(emb, cents, "vec_id", "v"))
    assert(!p.contains("Exchange"),
      s"IVF assignment must not shuffle the corpus; got:\n${p.take(1200)}")
    assert(p.contains("nearestcentroid") || p.contains("NearestCentroid"),
      "expected the native argmin expression in the plan")
  }

  test("ANN scan projection with native cosine is fused into whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = emb.select(col("vec_id"),
      graft.ann.Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    val p = plan(df)
    // formatted mode marks codegen'd nodes with a leading '*'; combined with
    // VectorCodegenSpec's not-CodegenFallback + CODEGEN_ONLY-compiles proof,
    // this pins that the hot ANN projection runs fused, not via boxed eval
    assert(p.linesIterator.exists(_.trim.startsWith("* Project")),
      s"expected codegen'd Project over the embedding scan:\n${p.take(1000)}")
  }

  test("hashSample is a pure filter (no Exchange); stratifiedSample plans as WindowGroupLimit") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pFilter = plan(graft.textops.Sampling.hashSample(docs, "doc_id", 0.25, "s1"))
    assert(!pFilter.contains("Exchange"),
      s"hash sampling must not shuffle — it is a predicate; got:\n${pFilter.take(800)}")
    val pStrat = plan(graft.textops.Sampling.stratifiedSample(
      docs, Seq("lang", "source"), "doc_id", 3, "s2"))
    assert(pStrat.contains("WindowGroupLimit"),
      s"expected map-side partial top-k (WindowGroupLimit); got:\n${pStrat.take(800)}")
  }

  test("tx6: per-group heavy hitters plans as WindowGroupLimit (partial top-k before the exchange)") {
    val p = plan(SparkEntry.queries("tx6_heavy_hitters")(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"expected map-side partial top-k (WindowGroupLimit); got:\n${p.take(800)}")
  }

  test("qf3: scoring margin is the native bucket_dot expression, not an interpreted fold") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w = Array.fill(graft.textops.Classifier.tableSize(2))(1L)
    val p = plan(graft.textops.Classifier.score(docs, "doc_id", "text", w))
    assert(p.toLowerCase.contains("bucketdot"),
      s"expected the native margin expression in the plan:\n${p.take(1000)}")
    assert(!p.contains("ArrayAggregate"),
      "the interpreted HOF fold must be gone from the scoring path")
  }

  test("shardShuffle: ONE hash exchange on shard, never a global range sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.textops.Sampling.shardShuffle(docs, "doc_id", 8, "sh1"))
    // count tree nodes ("Exchange (3)"), not the details section's echo
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size == 1,
      s"expected exactly one Exchange (hash on shard); got:\n${p.take(1000)}")
    assert(p.contains("hashpartitioning"), s"shard exchange must hash-partition:\n${p.take(800)}")
    assert(!p.contains("rangepartitioning"),
      s"a global sort (range partitioning) would resort the whole corpus:\n${p.take(800)}")
  }

  test("q10 sessionize: ONE Exchange — lag + running sum share a window spec, closing agg reuses user partitioning") {
    val p = plan(SparkEntry.queries("q10_sessionize")(spark, dir))
    // the gap flag (lag) and session index (sum rows-unbounded-preceding)
    // must share one hash partition + sort on user_id, and the closing
    // per-(user, session_idx) aggregate's clustering is satisfied by
    // hashpartitioning(user_id) — a second Exchange means the superset-key
    // reuse broke and sessionization shuffles the event stream twice
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size == 1,
      s"expected exactly one Exchange (hash on user_id); got:\n${p.take(1200)}")
    assert("Sort \\(\\d+\\)".r.findAllIn(p).size == 1,
      s"both windows must share one sort:\n${p.take(1200)}")
  }

  test("stableTurns plans as a per-group top-1 limit, not a full window sort") {
    val tr = graft.fixtures.TranscriptGen.transcripts(spark, 10)
    val p = plan(graft.ingest.Transcripts.stableTurns(tr))
    assert(p.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit (streaming top-1 per group); got:\n${p.take(800)}")
  }

  test("mm3: feature extraction is exchange-free (per-row transform, no shuffle)") {
    val p = plan(SparkEntry.queries("mm3_features")(spark, dir))
    assert(!p.contains("Exchange"),
      s"extractFeatures must not shuffle payload bytes; got:\n${p.take(1200)}")
  }

  test("ann1: query side broadcast, corpus never shuffled for the join") {
    val p = plan(SparkEntry.queries("ann1_brute_topk")(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query set must broadcast")
  }

  test("ann4: quantization is a fused projection; corpus never shuffled") {
    val p = plan(SparkEntry.queries("ann4_quant_topk")(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query set must broadcast")
    assert(p.contains("quantizei8") || p.contains("QuantizeI8"),
      "expected the native quantization expression in the plan")
    // the int8 index build must be a pure scan->project (persistable 4x
    // smaller); the only allowed Exchange is the top-k window's
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val idx = emb.select(col("vec_id"),
      graft.ann.Similarity.quantizeI8(col("embedding")).as("codes"))
    val pIdx = plan(idx)
    assert(!pIdx.contains("Exchange"),
      s"quantized index build must not shuffle:\n${pIdx.take(800)}")
    assert(pIdx.linesIterator.exists(_.trim.startsWith("* Project")),
      "quantization projection must be codegen-fused")
  }

  test("dd7: semantic-dedup assignment side carries no Exchange before the cell join") {
    // the corpus reaches the within-cell self-join having been SCANNED and
    // PROJECTED only — assignment is the native argmin expression; the
    // plan's exchanges are the cell-join + distinct + anti-join ones, none
    // keyed on the raw corpus id upstream of assignment
    val df = SparkEntry.queries("dd7_semantic_dedup")(spark, dir)
    val p = plan(df)
    assert(p.contains("nearestcentroid") || p.contains("NearestCentroid"),
      "expected the native argmin in the dedup plan")
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("v").as("cvec"))
    val assigned = graft.ann.Similarity.ivfAssign(emb, cents, "vec_id", "v")
    assert(!plan(assigned).contains("Exchange"),
      "semantic-dedup assignment must stay a pure projection")
  }

  test("prebuilt IVF probe: partition pruning on cell, no corpus-side shuffle") {
    import org.apache.spark.sql.functions._
    import graft.ann.Similarity
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = Similarity.ivfCentroids(e, "vec_id", "v", 8)
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    Similarity.ivfAssign(e, cents, "vec_id", "v")
      .write.mode("overwrite").partitionBy("cell").parquet(idxDir)
    val assigned = spark.read.parquet(idxDir)
    val queries = e.filter(col("vec_id") < 5)
    val topk = Similarity.ivfTopKPrebuilt(queries, assigned, cents, "vec_id", "v",
      k = 5, nProbe = 2)
    val p = plan(topk)
    // the probed-cells join must dynamically prune the cell-partitioned
    // index scan — at 100 TB this is the difference between reading
    // nProbe/nLists of the corpus and reading all of it
    assert(p.contains("dynamicpruning"),
      s"expected dynamic partition pruning on cell; got:\n${p.take(2000)}")
    // and the index side must never shuffle on cell (broadcast probes join
    // a pre-partitioned scan in place)
    assert(!p.contains("Exchange hashpartitioning(cell"),
      s"assigned index must not be shuffled on cell:\n${p.take(2000)}")
    assert(topk.count() > 0)
  }

  test("kg24 BGP: constant preds pushed to the parquet scan, equi joins only") {
    import org.apache.spark.sql.functions._
    // BGP over a parquet-stored triple table — the serving layout
    val tDir = java.nio.file.Files.createTempDirectory("graft_bgp_t").toString
    spark.range(0, 1000).select(
      concat(lit("e"), pmod(col("id"), lit(50))).as("subj"),
      concat(lit("p"), pmod(col("id"), lit(4))).as("pred"),
      concat(lit("e"), pmod(col("id") * 7, lit(50))).as("obj"))
      .write.mode("overwrite").parquet(tDir)
    val t = spark.read.parquet(tDir)
    val df = graft.graph.Bgp.matchPatterns(t,
      Seq(("?a", "p0", "?b"), ("?b", "p1", "?c")))
    val p = plan(df)
    // each pattern's constant pred must reach the scan as a pushed filter
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("EqualTo(pred,p0)") && pushed.contains("EqualTo(pred,p1)"),
      s"constant preds not pushed: $pushed")
    // shared-variable joins are equi joins — never a nested loop; at 100 TB
    // a theta/cartesian plan here is the difference between minutes and never
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"BGP join must be an equi join:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"expected a hash/merge equi join:\n${p.take(1500)}")
  }

  test("ev5 retention: no count-distinct Expand, no Window — partial aggs + equi joins only") {
    val p = plan(SparkEntry.queries("ev5_retention")(spark, dir))
    // (user, week) rows are distinct and each user has one cohort, so the
    // per-cell count must plan as a plain count(*) — an Expand node means
    // someone reintroduced count(DISTINCT) and tripled the shuffle volume
    assert(!p.contains("Expand"), s"count-distinct expand crept in:\n${p.take(1200)}")
    assert(!p.contains("Window"), s"retention must not use windows:\n${p.take(1200)}")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"expected map-side partial aggregation:\n${p.take(1200)}")
  }

  test("qf1/qf2: importance + perplexity scoring are exchange-free projections") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w = Map("0a" -> 1.0, "ff" -> -0.5)
    val pImp = plan(graft.textops.Importance.scoreDocs(docs, "doc_id", "text", w))
    assert(!pImp.contains("Exchange"),
      s"importance scoring must not shuffle (collected weight table):\n${pImp.take(800)}")
    val pLm = plan(graft.textops.LanguageModel.scoreDocs(
      docs, "doc_id", "text", Map("0a" -> 1000000L), Map("0a" -> 2000000L)))
    assert(!pLm.contains("Exchange"),
      s"perplexity scoring must not shuffle:\n${pLm.take(800)}")
  }

  test("vb1: vocabulary top-K plans as TakeOrdered, never a full corpus sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.textops.Vocab.topWords(docs, "text", 100))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K must be a per-partition heap + driver merge of K rows:\n${p.take(1200)}")
    // the word-count aggregate must partial-agg before its exchange
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"expected map-side combine on word counts:\n${p.take(1200)}")
  }

  test("es1: every window in the span merge is partitioned by document") {
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // sparkPlan, not executedPlan: the AQE wrapper's children are opaque
    // to collect() before execution
    val df = graft.textops.ExactSubstr.duplicatedSpans(docs, "doc_id", "text", 4)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: WindowExec => w.partitionSpec
    }
    assert(windows.nonEmpty, "expected a gaps-and-islands window")
    assert(windows.forall(_.nonEmpty),
      "a global (unpartitioned) window would single-task the corpus at scale")
  }

  test("sm7: chunkWords is a pure projection + Generate — zero Exchange") {
    val p = plan(SparkEntry.queries("sm7_chunks")(spark, dir))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), "explode of window indices expected")
  }

  test("kg19: conflict resolution is a partial arg-min agg, never a window") {
    import spark.implicits._
    val prov = Seq(("a", "p", "x", 1L, 1), ("a", "p", "y", 2L, 3))
      .toDF("subj", "pred", "obj", "n_observations", "last_turn")
    val out = graft.graph.ConflictResolution.resolveMostRecent(
      prov, Seq("p").toDF("pred"))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("partial_min"),
      s"expected map-side combine of the arg-min struct:\n$p")
    assert(!p.contains("Window"),
      s"winner must not be a window (no WindowExec at 10^12 triples):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "predicate-list semi/anti joins must broadcast")
  }

  test("kg21: link-prediction top-k plans as TakeOrdered, winner joins are equi") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val p = graft.graph.LinkPrediction.topCandidates(edges, 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap, never a global sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"witness/anti joins must all be equi joins:\n$p")
  }

  test("kg22: entity-typing winner is a partial arg-min agg, never a window") {
    import spark.implicits._
    val m = Seq(("a", "person"), ("a", "org")).toDF("entity", "etype")
    val p = graft.graph.EntityTyping.plurality(m, "entity", "etype")
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_min"),
      s"expected map-side combine of the arg-min struct:\n$p")
    assert(!p.contains("Window"),
      s"winner must not be a window (no WindowExec at 10^12 mentions):\n$p")
  }

  test("dd10: edit-distance verify rides the bucket equi-join, never a nested loop") {
    import spark.implicits._
    val rows = Seq((1L, "abc"), (2L, "abd"), (3L, "xyz")).toDF("id", "s")
    val p = graft.textops.EditDistance.similarPairs(rows, "id", "s", 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"the levenshtein filter must not demote the join to a nested loop:\n$p")
    assert(p.contains("levenshtein"),
      s"banded levenshtein must appear as a post-join filter/projection:\n$p")
  }

  test("dd8: incremental dedup joins state once — no state-side self-join") {
    // the one-shot form: state is banded once and appears ONLY as the
    // build/probe complement of the increment — the plan must contain the
    // candidate join, the cap semi-join machinery, and the final anti-join,
    // but NO join keyed on a pair of state-only sides (state x state would
    // add a second scan-backed join of the big input). Census-level pin:
    // the documents scan feeding the STATE side appears exactly once among
    // the join inputs (plus once for the increment reconstruction).
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val inc = docs.limit(10)
      .select((org.apache.spark.sql.functions.col("doc_id") + 100000L).as("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val out = graft.textops.Dedup.minhashIncrement(inc, docs, "doc_id", "text", 0.8)
    val sp = out.queryExecution.sparkPlan
    val antiJoins = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(antiJoins.nonEmpty, "survivor anti-join expected")
    // candidate join keyed on _band appears exactly once (state never
    // self-pairs: a state x state formulation would need a second one)
    val bandJoins = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
          j.leftKeys.exists(_.toString.contains("_band")) => j
    }
    assert(bandJoins.size == 1, s"expected exactly 1 band-keyed candidate join, " +
      s"got ${bandJoins.size}")
  }

  // kg27/kg28 are pinned at the OPERATOR level over a plain local relation
  // (zero input shuffles), not through the eventsTranscripts fixture
  // adapter: the adapter derives turn_idx with its own row_number window
  // (one fixture-only Exchange on user_id), and pinning through it is
  // order-dependent — if an earlier suite materialized the memoized KG
  // pipeline's cache, the adapter subtree collapses into an
  // InMemoryRelation and its Exchange vanishes from the explain.
  private def localTranscripts = {
    import spark.implicits._
    Seq(("c1", 0, "user", "user 1 works at org 2.", null: String),
        ("c1", 1, "user", "He lives in city 3.", null: String))
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
  }

  test("kg27 focus: adds ONE Exchange + ONE Sort on conv_id, both running aggs fused into one Window") {
    val p = plan(graft.extract.Discourse.focusTrack(localTranscripts))
    // the running focus (last ignoreNulls) and focus_turn (max-when) share
    // the same partition-by + order-by + running frame, so Catalyst must
    // plan ONE Window over ONE Exchange(conv_id) + ONE Sort — a second of
    // either means the shared-frame fusion broke and the transcript stream
    // shuffles or sorts twice at 100 TB
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size == 1,
      s"expected exactly one Exchange (hash on conv_id); got:\n${p.take(1200)}")
    assert("Sort \\(\\d+\\)".r.findAllIn(p).size == 1,
      s"both running aggregates must share one sort:\n${p.take(1200)}")
    assert("(?m)^\\(\\d+\\) Window".r.findAllIn(p).size == 1,
      s"expected one fused Window operator:\n${p.take(1200)}")
  }

  test("kg28 coref: resolution adds ONE Exchange + ONE Sort + ONE Window over its input") {
    val p = plan(graft.extract.Discourse.resolveAnaphora(localTranscripts))
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size == 1,
      s"expected exactly one Exchange (hash on conv_id); got:\n${p.take(1200)}")
    assert("Sort \\(\\d+\\)".r.findAllIn(p).size == 1,
      s"resolution must reuse the conversation sort:\n${p.take(1200)}")
    assert("(?m)^\\(\\d+\\) Window".r.findAllIn(p).size == 1,
      s"expected one Window operator:\n${p.take(1200)}")
  }

  test("kg29 tool affinity: one conv window + one partial-agg count, no Join") {
    val p = plan(graft.extract.Discourse.toolAffinity(localTranscripts))
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size == 2,
      s"expected conv-window Exchange + (entity, tool) agg Exchange only:\n${p.take(1200)}")
    assert("(?m)^\\(\\d+\\) Window".r.findAllIn(p).size == 1 &&
      "Sort \\(\\d+\\)".r.findAllIn(p).size == 1,
      s"one window pass over the conversation order:\n${p.take(1200)}")
    assert(!p.contains("Join"), s"affinity must not join:\n${p.take(1200)}")
    assert(p.contains("HashAggregate"), "count must partial-aggregate")
  }

  test("kg30 delta: flag-union + ONE Exchange, no Join, no Window") {
    import spark.implicits._
    val old = Seq(("a", "p", "x")).toDF("subj", "pred", "obj")
    val nw = Seq(("a", "p", "x"), ("b", "p", "y")).toDF("subj", "pred", "obj")
    val p = plan(graft.graph.KGDelta.diff(old, nw))
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size == 1,
      s"diff is one agg shuffle:\n${p.take(1200)}")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"diff must be a union + aggregate, not a join:\n${p.take(1200)}")
    assert(p.contains("Union"), "expected the flag-union shape")
  }

  test("tx11 keyphrases: top-k per doc is WindowGroupLimit; df joins broadcast, never cartesian") {
    val p = plan(SparkEntry.queries("tx11_keyphrases")(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"per-doc top-k must plan as a group-limit, not a full rank: ${p.take(1000)}")
    // the vocab-sized df table joins tf as a broadcast hash join and the
    // one-row N joins as BNLJ — a SortMergeJoin here would shuffle the
    // full tf table a second time; a CartesianProduct would be a leak
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"df/N must broadcast: ${p.take(1200)}")
    assert(!p.contains("CartesianProduct"),
      s"one-row N must broadcast, not cartesian: ${p.take(1200)}")
    // NOT pinned: Generate count. The df branch duplicates the (pruned)
    // tf subtree in the static plan — column pruning makes the two
    // exchange subtrees differ, so AQE cannot reuse them and the corpus
    // is scanned twice. At pipeline scale, persist tf and derive df from
    // the persisted table (see Keyphrases scaladoc).
  }

  test("er1 blocking quality: one-row aggregates broadcast, documents never cross-joined") {
    val p = plan(SparkEntry.queries("er1_blocking_quality")(spark, dir))
    // the n_docs x n_true x n_found x n_caught combination is a cross join
    // of ONE-ROW relations — it must plan as broadcast nested loops, never
    // a CartesianProduct (which would mean a distributed relation leaked
    // into the scalar arithmetic)
    assert(!p.contains("CartesianProduct"),
      s"scalar combine must broadcast, not cartesian: ${p.take(1200)}")
  }

  test("er2 sorted-neighborhood: one Exchange + one Window, pairs are a projection — no self-join") {
    val p = plan(SparkEntry.queries("er2_sorted_neighborhood")(spark, dir))
    // the classic formulation self-joins rn-vs-rn; this one must emit the
    // pair list from lead() columns — a shuffle on the bucket, an
    // in-partition sort, a Window, a Generate, and NOTHING joined
    assert(!p.contains("Join"), s"pair list must not self-join:\n${p.take(1200)}")
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size == 1,
      s"expected exactly one Exchange (hash on bucket):\n${p.take(1200)}")
    assert("(?m)^\\(\\d+\\) Window".r.findAllIn(p).size == 1,
      s"all w-1 leads must fuse into one Window:\n${p.take(1200)}")
  }

  test("tx12 readability: a pure per-row projection — zero Exchange, codegen'd") {
    val p = plan(SparkEntry.queries("tx12_readability")(spark, dir))
    assert(!p.contains("Exchange"),
      s"readability must not shuffle:\n${p.take(1200)}")
    assert(p.linesIterator.exists(l => l.contains("Project") && l.contains("*")),
      s"projection must be whole-stage codegen'd:\n${p.take(1200)}")
  }

  test("kg32 validity intervals: dedup + window = two Exchanges, one Sort, final agg reuses the window partitioning") {
    import spark.implicits._
    // multi-row input: a 1-row relation trips OptimizeOneRowPlan, which
    // legitimately deletes the distinct aggregate and hides the real shape
    val obs = Seq(("s", "p", "o", 3L), ("s", "p", "o", 9L),
      ("s", "p", "x", 3L), ("t", "p", "o", 4L))
      .toDF("subj", "pred", "obj", "day")
    val p = plan(graft.graph.TemporalValidity.intervals(
      obs, Seq("subj", "pred", "obj"), "day", 3))
    // shuffle 1: distinct (keys, day); shuffle 2: window on keys; the
    // closing groupBy(keys :+ interval_idx) is a SUPERSET of the window
    // partition keys, so a third Exchange means Spark stopped reusing the
    // window's hash partitioning — the subset-satisfies-clustered rule
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size == 2,
      s"expected exactly two Exchanges:\n${p.take(1500)}")
    // lag and the running sum CANNOT share one Window operator (the sum
    // consumes lag's output), but both must ride ONE Sort — a second Sort
    // or an Exchange between them means the shared order broke
    assert("(?m)^\\(\\d+\\) Window".r.findAllIn(p).size == 2,
      s"expected the lag Window and the running-sum Window:\n${p.take(1500)}")
    assert("(?m)^\\(\\d+\\) Sort".r.findAllIn(p).size == 1,
      s"both windows must share one sort:\n${p.take(1500)}")
  }

  test("kg39 walks: each step is a partial arg-min agg, never a window") {
    import spark.implicits._
    // the step frames, uncut: the production path cuts each step, which
    // hides the per-step aggregate behind an RDD scan in the final plan
    val und = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("b", "a"), ("c", "b"), ("a", "c"))
      .toDF("src", "dst")
    val starts = Seq(("a", 0, "a"), ("a", 1, "a"), ("b", 0, "b"))
      .toDF("start", "walk_idx", "node")
    val out = (1 to 3).foldLeft(starts) { (cur, step) =>
      graft.graph.RandomWalks.stepFrame(cur, und, "t", step)
    }
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("partial_min"),
      s"expected map-side combine of the step arg-min struct:\n${p.take(1500)}")
    assert(!p.contains("Window"),
      s"step choice must not be a window (hub degree never lands on one task):\n${p.take(1500)}")
  }

  test("kg38 ego-nets: per-(ego, node) top-F plans as WindowGroupLimit, joins stay equi") {
    import spark.implicits._
    // the hop frames, uncut: the production path cuts each hop, which
    // hides the per-hop window behind an RDD scan in the final plan
    val und = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("b", "a"), ("c", "b"), ("a", "c"), ("d", "c")).toDF("src", "dst")
    val seeds = Seq("a", "b", "c", "d").toDF("seed").withColumn("node", $"seed")
    val hop1 = graft.graph.EgoNets.hopFrame(seeds, und, "t", 3, 1)
    val hop2 = graft.graph.EgoNets.hopFrame(
      hop1.select($"seed", $"dst".as("node")).distinct(), und, "t", 2, 2)
    val p = plan(hop1.unionByName(hop2))
    // the fan-out cap must run as WindowGroupLimit (partial top-F
    // map-side before the exchange — hub nodes ship F rows per ego,
    // never their degree), one per hop
    assert(p.contains("WindowGroupLimit"),
      s"fanout cap must be WindowGroupLimit:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"frontier expansion must stay an equi-join:\n${p.take(1500)}")
  }

  test("PlanDump: a wrong argument count fails with the usage line") {
    val e = intercept[IllegalArgumentException](PlanDump.main(Array("only-one")))
    assert(e.getMessage.contains("usage: PlanDump"))
  }

  test("kg37 asOf: horizon is a one-row broadcast; the interval table never reshuffles") {
    import spark.implicits._
    val iv = Seq(("s", "p", "o", 0, 1L, 5L, 3), ("s", "p", "x", 0, 4L, 9L, 2))
      .toDF("subj", "pred", "obj", "interval_idx", "from_day", "to_day",
        "n_active_days")
    val p = plan(graft.graph.TemporalValidity.asOf(iv, None, grace = 3))
    // the only Exchange allowed is the horizon aggregate's own one-row
    // reduction; iv flows filter-only into a broadcast join
    assert(p.contains("BroadcastExchange"),
      s"horizon must broadcast:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"iv must not shuffle for the horizon join:\n${p.take(1500)}")
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1,
      s"only the one-row horizon agg may exchange:\n${p.take(1500)}")
  }

  test("kg34 dictionary: dense ids never plan a single-partition global window") {
    import spark.implicits._
    val vals = Seq("m", "a", "q", "c", "z", "a", "k").toDF("v")
    val p = plan(graft.graph.Dictionary.build(vals, "v", partitions = 3))
    // the whole point of range + local row_number + offsets: a global
    // `row_number() OVER (ORDER BY v)` would plan Exchange SinglePartition
    // — the one shape that cannot survive 10^9 distinct entities
    assert(!p.contains("SinglePartition"),
      s"dictionary build must not serialize to one partition:\n${p.take(1500)}")
    // the numbering window exchanges on the per-range-partition key _p —
    // never globally (the lexicographic range repartition itself runs in
    // the localCheckpoint materialization job; DictionarySpec pins its
    // cross-partition rank correctness by value)
    assert(p.contains("hashpartitioning(_p"),
      s"expected the per-partition local window:\n${p.take(1500)}")
    // the offsets join stays a broadcast (#partitions rows)
    assert(p.contains("BroadcastExchange"),
      s"offset join must broadcast:\n${p.take(1500)}")
  }

  test("GraftExtensions: spark.sql.extensions registers the native functions") {
    // a derived session over the shared SparkContext, built THROUGH the
    // extensions hook (the spark-submit deployment path). getOrCreate
    // returns the existing default session untouched unless it is cleared
    // first — restore it after, or every later suite inherits this one.
    import org.apache.spark.sql.SparkSession
    val base = spark // force lazy init before clearing
    // clear + rebuild INSIDE the try: if getOrCreate throws, the finally
    // still restores the default session for every later suite in the JVM
    try {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        """SELECT cosine_fast(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
          |       l2_dist(array(0.0D, 0.0D), array(3.0D, 4.0D)) AS d,
          |       normalize_text('  A  b!!C ') AS t,
          |       hyperplane_sig(array(1.0D, 2.0D), 8, 0) AS h,
          |       euclidean_sig(array(1.0D, 2.0D), 4, 0, 1.0D) AS e""".stripMargin)
        .collect()(0)
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(math.abs(r.getDouble(1) - 5.0) < 1e-12)
      assert(r.getString(2) == "a bc")
      // parity with the Column-API construction of the same expressions
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.graftfns.VectorExpressions
      val viaColumn = s2.range(1).select(
        VectorExpressions.hyperplane_sig(array(lit(1.0), lit(2.0)), 8, 0).as("h"),
        VectorExpressions.euclidean_sig(array(lit(1.0), lit(2.0)), 4, 0, 1.0).as("e"))
        .collect()(0)
      assert(r.getLong(3) == viaColumn.getLong(0))
      assert(r.getLong(4) == viaColumn.getLong(1))
      // composite linking helpers: SQL registration == Column construction
      val sqlRow = s2.sql(
        """SELECT minhash_sig(graft_shingles('hello world', 3), 8) AS ms,
          |       band_keys(minhash_sig(graft_shingles('hello world', 3), 8), 4, 2) AS bk
          |""".stripMargin).collect()(0)
      import graft.link.MinHashBlocking
      val colRow = s2.range(1).select(
        MinHashBlocking.minhashSignature(MinHashBlocking.shingles(lit("hello world"), 3), 8).as("ms"),
        MinHashBlocking.bandKeys(
          MinHashBlocking.minhashSignature(MinHashBlocking.shingles(lit("hello world"), 3), 8),
          4, 2).as("bk"))
        .collect()(0)
      assert(sqlRow.getSeq[Long](0) == colRow.getSeq[Long](0), "minhash_sig parity")
      assert(sqlRow.getSeq[Long](1) == colRow.getSeq[Long](1), "band_keys parity")
      // round-5 additions: nearest_centroid + hash_sample, SQL == Column
      val ncRow = s2.sql(
        """SELECT nearest_centroid(array(1.0D, 2.0D),
          |         array(array(0.0D, 0.0D), array(1.0D, 2.0D))) AS nc,
          |       hash_sample('doc-42', 0.5D, 'graft') AS hs""".stripMargin)
        .collect()(0)
      assert(ncRow.getInt(0) == 1, "nearest_centroid picks the closer cell")
      val hsCol = graft.textops.Sampling
        .hashSamplePredicate(lit("doc-42"), 0.5, "graft")
      val ncCol = org.apache.spark.sql.graftfns.VectorExpressions
        .nearest_centroid(array(lit(1.0), lit(2.0)),
          Seq(Seq(0.0, 0.0), Seq(1.0, 2.0)))
      val r5 = s2.range(1).select(ncCol.as("nc"), hsCol.as("hs")).collect()(0)
      assert(ncRow.getInt(0) == r5.getInt(0), "nearest_centroid parity")
      assert(ncRow.getBoolean(1) == r5.getBoolean(1), "hash_sample parity")
      // round-5 classifier margin: bucket_dot, SQL == Column, literal-only
      val bdRow = s2.sql(
        "SELECT bucket_dot(array(0, 2), array(100L, 7L), array(10L, 0L, -3L)) AS bd")
        .collect()(0)
      assert(bdRow.getLong(0) == 10L * 100 + (-3L) * 7, "bucket_dot SQL value")
      val bdCol = org.apache.spark.sql.graftfns.VectorExpressions
        .bucket_dot(array(lit(0), lit(2)), array(lit(100L), lit(7L)), Seq(10L, 0L, -3L))
      assert(s2.range(1).select(bdCol).collect()(0).getLong(0) == bdRow.getLong(0),
        "bucket_dot parity")
      val errBd = intercept[Exception] {
        s2.sql("SELECT bucket_dot(array(0), array(1L), array('x'))").collect()
      }
      assert(errBd.getMessage.toLowerCase.contains("weights") ||
        errBd.getMessage.toLowerCase.contains("array"))
      // wrong-typed arguments fail at ANALYSIS time (checkInputDataTypes),
      // not with a runtime ClassCastException mid-query
      val err = intercept[org.apache.spark.sql.AnalysisException] {
        s2.sql("SELECT cosine_fast(array('a','b'), array('c','d'))").collect()
      }
      assert(err.getMessage.toLowerCase.contains("array"))
      val errNc = intercept[Exception] {
        s2.sql("SELECT nearest_centroid(array(1.0D), array('x'))").collect()
      }
      assert(errNc.getMessage.toLowerCase.contains("centroid") ||
        errNc.getMessage.toLowerCase.contains("array"))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
