package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Lineage
import org.apache.spark.sql.expressions.Window

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
 *   set against the corpus; one pass, no shuffle of the corpus, window
 *   top-k per query. The correctness baseline.
 * - [[lshTopK]]: random-hyperplane LSH buckets as the scale path — the
 *   corpus is hash-partitioned by signature, each query probes its own and
 *   adjacent (1-bit-flip) buckets; cost ~ bucketSize * probes instead of N.
 *
 * Hyperplanes are deterministic pseudo-random (seeded `xxhash64` of
 * (plane, dim) mapped to [-1, 1]) — no driver-side fit, identical across
 * runs and executors (SURVEY.md §7 determinism requirement).
 */
object Similarity {

  /** Cosine similarity of two equal-length numeric arrays: native one-pass
    * Catalyst expression ([[org.apache.spark.sql.graftfns.VectorExpressions]])
    * — the HOF formulation below is interpreted per-element and ~100x
    * slower on ANN scans. */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftfns.VectorExpressions.cosine_fast(a, b)

  /** Reference formulation via built-in higher-order functions — kept as
    * the cross-check for the native expression (SimilaritySpec asserts
    * equality) and as the no-custom-code fallback. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / (na * nb))
  }

  /** m-bit random-hyperplane signature of a vector for hash table `t`:
    * bit p = sign of dot(vec, plane_{t,p}); native one-pass expression. */
  def hyperplaneSignature(vec: Column, m: Int = 16, t: Int = 0): Column =
    org.apache.spark.sql.graftfns.VectorExpressions.hyperplane_sig(vec, m, t)

  /** Euclidean (L2) distance: native one-pass expression; null on length
    * mismatch. */
  def l2(a: Column, b: Column): Column =
    org.apache.spark.sql.graftfns.VectorExpressions.l2_dist(a, b)

  /** HOF cross-check formulation of [[l2]] (interpreted; tests only). */
  def l2Hof(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0), (acc, x) => acc + x))

  /**
   * Euclidean near-neighbor pairs via bucketed random projection — the
   * magnitude-sensitive LSH family the reference uses for its feature
   * vectors (cs562_sdpg `LSH.scala:10-18` BucketedRandomProjectionLSH);
   * the cosine-based [[graft.textops.Dedup.embeddingPairs]] cannot see
   * magnitude differences. AND over `planes` projections within a table,
   * OR over `tables` independent tables, exact L2 verify inside buckets,
   * verify BEFORE the cross-table dedup so the dedup exchange carries
   * scalars only.
   *
   * For a pair at distance d, a projection splits them w.p. ~ E|dot(Δ,a)|/w;
   * with unit vectors, 64 dims, planes=4 and width=1.0 a d=0.01 pair
   * survives one table w.p. ~0.83 and all 8 tables miss it w.p. ~1e-6.
   * `planes < 0` (the default) derives the projection count from a corpus
   * count ([[graft.link.MinHashBlocking.numBits]] — each extra projection
   * multiplies the bucket count, so ~log2(n/1024) projections hold expected
   * occupancy flat as the corpus grows); raise `tables` alongside at 10^9+
   * rows to hold recall. Buckets are additionally capped at `maxBucket`
   * members ([[graft.link.MinHashBlocking.capBuckets]]): a dense cluster at
   * one bucket width is otherwise O(bucket^2) candidate pairs.
   */
  def euclideanPairs(df: DataFrame, idCol: String, vecCol: String,
                     maxDist: Double, planes: Int = -1, width: Double = 1.0,
                     tables: Int = 8, maxBucket: Int = 10000,
                     pairBudget: Long = Long.MaxValue): DataFrame = {
    val p = if (planes >= 0) planes
            else graft.link.MinHashBlocking.numBits(df.count())
    // lineage cut: the signature index feeds capBuckets (count + semi)
    // and both join sides — the same four-consumer shape as
    // [[graft.textops.Dedup.embeddingPairs]]; cut once, compute once
    val indexed0 = Lineage.cut(df.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          org.apache.spark.sql.graftfns.VectorExpressions
            .euclidean_sig(col(vecCol), p, t, width).as("sig"))): _*)).as("_b"))
      .select(col("_id"), col("_v"), col("_b.t").as("_t"), col("_b.sig").as("_sig"))
      // repartition on the bucket key before the cut (the embeddingPairs
      // posture): spreads a single-split corpus across the shuffle
      // partitions instead of one task
      .repartition(col("_t"), col("_sig")))
    val indexed = graft.link.MinHashBlocking.capBuckets(
      indexed0, Seq("_t", "_sig"), maxBucket, pairBudget)
    val a = indexed.select(col("_t"), col("_sig"), col("_id").as("id_a"), col("_v").as("_v_a"))
    val b = indexed.select(col("_t"), col("_sig"), col("_id").as("id_b"), col("_v").as("_v_b"))
    a.join(b, Seq("_t", "_sig"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", round(l2(col("_v_a"), col("_v_b")), 6))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
      .dropDuplicates("id_a", "id_b")
  }

  /**
   * Exact top-k neighbors by cosine for each query vector.
   * Ordering is on the 6-dp-rounded cosine with id tiebreak, so results are
   * stable across summation orders and engines.
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine(col("_qv"), col("_cv")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Symmetric per-vector int8 quantization codes (native expression,
    * codegen'd): `array<float>` -> `array<tinyint>` with values in [-127, 127].
    * The scale lever for 100 TB ANN — a quantized corpus index is 4x
    * smaller on disk, in memory, and on every shuffle/broadcast, and the
    * codes feed [[cosine]] directly (type-dispatched element reader). */
  def quantizeI8(vec: Column): Column =
    org.apache.spark.sql.graftfns.VectorExpressions.quantize_i8(vec)

  /**
   * Brute-force top-k over int8-QUANTIZED vectors — same plan shape as
   * [[bruteForceTopK]] (broadcast queries, corpus never shuffled, window
   * top-k) but both sides are reduced to int8 codes first, so the corpus
   * scan reads/holds 1/4 the bytes and the fused cosine loop runs on exact
   * small integers. Per-vector max-abs scaling keeps the quantized cosine
   * scale-free; recall@10 vs the exact float cosine is asserted in
   * AnnAndTextSpec (>= 0.9 on the fixture — the standard quantization
   * quality/footprint tradeoff, cf. FAISS SQ8).
   *
   * At index-build time the quantization is a pure projection (zero
   * exchange); persist `corpus.select(id, quantizeI8(vec))` once and this
   * becomes a scan of the 4x-smaller index.
   */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      quantizeI8(col(vecCol)).as("_qq")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantizeI8(col(vecCol)).as("_cq"))
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qcosine", round(cosine(col("_qq"), col("_cq")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("qcosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "qcosine", "rank")
  }

  /**
   * Approximate top-k: multi-table hyperplane LSH with 1-bit multiprobe.
   * The corpus is indexed into `tables` independent m-bit hash tables
   * (replicated `tables`x — the standard LSH space/recall tradeoff); each
   * query probes, per table, its own bucket plus all 1-bit-flip buckets,
   * then exact cosine within the probed candidate set.
   *
   * Recall math: with per-bit agreement p = 1 - theta/pi, a candidate is
   * found per table w.p. p^m + m*p^(m-1)*(1-p); across T tables
   * 1-(1-that)^T. T=8 with small-corpus m (~6) gives ~0.9 recall even for
   * weakly correlated neighbors (p~0.6). `bits = -1` (default) derives m
   * from a corpus count (m ~ log2(N / targetBucket), same family convention
   * as [[euclideanPairs]]/`embeddingPairs`) so expected bucket occupancy
   * stays flat as the corpus grows; raise `tables` alongside at 10^9+ rows
   * to hold recall.
   */
  /**
   * IVF (inverted-file) coarse quantizer: assign every corpus vector to its
   * nearest of `nLists` centroid cells. The standard ANN index layout
   * (IVF-Flat): persist the result partitioned by `cell` and each query
   * scans only `nProbe` cells instead of the whole corpus.
   *
   * Centroids are deterministic hash-sampled corpus rows (distributed
   * top-`nLists` by `xxhash64(id)` — a TakeOrdered, no full sort, no
   * driver-side k-means fit; a trained codebook DataFrame is a drop-in via
   * the overload). Hash-sampling is the classic "random pivots" coarse
   * quantizer: cells are Voronoi regions of sampled points, so expected
   * occupancy is n/nLists regardless of the data distribution.
   *
   * Spark shape at scale: the argmin is a pure PROJECTION — the centroid
   * table (~nLists rows, the quantizer's own tiny output) is materialized
   * once into a plan constant and every corpus vector computes its nearest
   * cell in place via the native
   * [[org.apache.spark.sql.graftfns.VectorExpressions.NearestCentroid]]
   * expression. ZERO exchange on the corpus (PlanSpec-pinned): the earlier
   * formulation (crossJoin with broadcast centroids + `groupBy(id).agg(
   * min(struct(dist, cell)))`) kept the shuffle at one row per vector, but
   * at 100 TB of embeddings that is still a full-corpus shuffle per index
   * build. Tie-break and 9-dp distance rounding are identical to the old
   * aggregation form (lowest cell wins).
   */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String): DataFrame = {
    // nLists rows — the quantizer output; a driver materialization of the
    // same table the old plan broadcast, NOT a corpus collect
    val rows = centroids.select(col("cell").cast("int"), col("cvec"))
      .collect().sortBy(_.getInt(0))
    val cellIds: Seq[Int] = rows.map(_.getInt(0)).toSeq
    val cvecs: Seq[Seq[Double]] = rows.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case other => throw new IllegalArgumentException(s"bad centroid element $other")
    }.toSeq).toSeq
    val idx = org.apache.spark.sql.graftfns.VectorExpressions
      .nearest_centroid(col(vecCol), cvecs)
    // centroid cells are 0..K-1 from ivfCentroids but any int ids work:
    // the expression returns an index into the cell-sorted list
    corpus.select(col(idCol), element_at(typedLit(cellIds), idx + 1).as("cell"),
      col(vecCol))
  }

  /** Deterministic centroid table: `nLists` hash-sampled corpus rows
    * (distributed top-k by `xxhash64(id)`, not a sort) refined by
    * `lloydIters` k-means steps over a BOUNDED training sample
    * (`nLists * trainPerList` rows, also hash-top-k) — quantizer cost is
    * independent of corpus size, the standard train-on-a-sample posture.
    * Raw random pivots fit unstructured embeddings poorly (measured
    * recall@10 0.675 at nProbe/nLists=1/2 on the fixture; one Lloyd step
    * lifts cell locality); empty cells keep their previous centroid.
    * No driver-side fit: the mean is `posexplode → avg → re-assemble`,
    * all partial-aggregatable. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nLists: Int, lloydIters: Int = 1,
                   trainPerList: Int = 256): DataFrame = {
    val seeds = corpus
      .select(xxhash64(col(idCol)).as("_h"), col(vecCol).as("cvec"))
      .orderBy("_h").limit(nLists)
      // nLists rows: the single-partition window is on the tiny sampled set
      .withColumn("cell",
        row_number().over(Window.orderBy("_h")).cast("int") - 1)
      .select("cell", "cvec")
    if (lloydIters <= 0) seeds
    else {
      val train = corpus
        .select(xxhash64(col(idCol)).as("_h"), col(idCol).as("_tid"),
          col(vecCol).as("_tv"))
        .orderBy("_h").limit(nLists * trainPerList)
        .select("_tid", "_tv")
      var cents = seeds
      for (_ <- 1 to lloydIters) {
        val assigned = ivfAssign(train, cents, "_tid", "_tv")
        val means = assigned
          .select(col("cell"), posexplode(col("_tv")).as(Seq("pos", "x")))
          .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
          .groupBy("cell")
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("_pm"))
          .select(col("cell"), transform(col("_pm"), p => p.getField("m")).as("_mvec"))
        cents = cents.join(means, Seq("cell"), "left")
          .select(col("cell"), coalesce(col("_mvec"), col("cvec")).as("cvec"))
      }
      cents
    }
  }

  /**
   * IVF-Flat approximate top-k: each query exactly-scores only the `nProbe`
   * cells whose centroids are nearest it — work per query ~ corpus *
   * nProbe/nLists. With `nProbe == nLists` the probe set is the whole
   * corpus (each row is in exactly one cell), so the result EQUALS
   * [[bruteForceTopK]] — the plumbing is exact; recall at partial probe is
   * the quality knob (asserted >= 0.7 at nProbe/nLists = 1/2 in tests).
   *
   * Scale: queries and their probe fan-out are broadcast (q * nProbe rows);
   * the corpus side arrives already partitioned by `cell` when `assigned`
   * was persisted that way, making the probe join shuffle-free on the big
   * side.
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nLists: Int = 16, nProbe: Int = 4): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nLists)
    val assigned = ivfAssign(corpus, cents, idCol, vecCol)
    ivfTopKPrebuilt(queries, assigned, cents, idCol, vecCol, k, nProbe)
  }

  /** IVF probe over a prebuilt (assigned, centroids) index — the persisted
    * index path: `assigned` = [[ivfAssign]] output (id, cell, vec), ideally
    * stored partitioned/bucketed by `cell`. */
  def ivfTopKPrebuilt(queries: DataFrame, assigned: DataFrame, centroids: DataFrame,
                      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val cents = broadcast(centroids.select(col("cell"), col("cvec")))
    val wq = Window.partitionBy("query_id").orderBy(col("_d"), col("cell"))
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .crossJoin(cents)
      .withColumn("_d", round(l2(col("_qv"), col("cvec")), 9))
      .withColumn("_pr", row_number().over(wq))
      .filter(col("_pr") <= nProbe)
      .select("query_id", "_qv", "cell")
    val scored = broadcast(probes)
      .join(assigned, "cell")
      .filter(col("query_id") =!= col(idCol))
      .withColumn("cosine", round(cosine(col("_qv"), col(vecCol)), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("cosine"), col("rank"))
  }

  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, bits: Int = -1, tables: Int = 8): DataFrame = {
    // bits = -1 (default) -> corpus-scaled like embeddingPairs/euclideanPairs:
    // expected bucket occupancy stays ~targetBucket regardless of corpus size
    // (a fixed width at 10^9 rows would leave 64 buckets/table with ~10^7
    // members each and the probe join quadratic within bucket). The count()
    // is one columnar-batch-count job over the corpus scan; callers that
    // already know n should pass MinHashBlocking.numBits(n) explicitly.
    val m = if (bits > 0) bits
            else graft.link.MinHashBlocking.numBits(corpus.count())
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          hyperplaneSignature(col(vecCol), m, t).as("sig"))): _*)).as("_b"))
      .select(col("neighbor_id"), col("_cv"),
        col("_b.t").as("_t"), col("_b.sig").as("_sig"))
    val qSig = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("_qv"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          hyperplaneSignature(col(vecCol), m, t).as("sig"))): _*)).as("_b"))
      .select(col("query_id"), col("_qv"),
        col("_b.t").as("_t"), col("_b.sig").as("_s0"))
    val probes = qSig.withColumn("_sig",
      explode(array(col("_s0") +: (0 until m).map(bp =>
        col("_s0").bitwiseXOR(shiftleft(lit(1L), bp))): _*)))
      .select("query_id", "_qv", "_t", "_sig")
    val scored = broadcast(probes).join(c, Seq("_t", "_sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "_qv", "neighbor_id", "_cv")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", round(cosine(col("_qv"), col("_cv")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }
}
