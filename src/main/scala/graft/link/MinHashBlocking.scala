package graft.link

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * MinHash-LSH candidate blocking for entity linking.
 *
 * Reference analog: MinHashLSH over binary property vectors
 * (cs562_sdpg `src/main/scala/Clustering.scala:59-68`) with the LSH sizing
 * formula of `Clustering.scala:12-28,39-54` (kept verbatim below — it is a
 * pure function and unit-tested). The rebuild hashes **text shingles** with
 * seeded `xxhash64` into plain `ArrayType(LongType)` signatures instead of
 * `ml.linalg` VectorUDTs: deterministic (no driver-side `fit`), no UDT
 * serialization overhead, and the whole signature computation stays inside
 * whole-stage codegen (SURVEY.md §2.9 M3 rebuild note).
 *
 * Scale notes (100 TB): signatures are computed map-side only; the single
 * shuffle is the band-key self-join. Band buckets are capped (`maxBucket`)
 * so a degenerate hot bucket (power-law skew, SURVEY.md §7 hard-part #3)
 * cannot produce a quadratic pair explosion; AQE skew-join handles the rest.
 */
object MinHashBlocking {

  /**
   * Reference sizing formula, verbatim semantics
   * (`Clustering.scala:13-28,39-54`): numHashTables = ceil(ln(1-P)/ln(1-s)),
   * scaled by log10(datasetSize), floored at the unscaled value.
   */
  def numHashTables(similarityThreshold: Double = 0.8,
                    desiredProbability: Double = 0.9,
                    datasetSize: Long = 0L): Int = {
    val base = math.ceil(math.log(1 - desiredProbability) / math.log(1 - similarityThreshold)).toInt
    if (datasetSize <= 0) base
    else math.max(base, math.ceil(base * math.log10(datasetSize.toDouble.max(10.0))).toInt)
  }

  /** Character n-gram shingles of a normalized string (distinct). */
  def shingles(c: Column, n: Int = 3): Column = {
    // pad so short strings still yield >=1 shingle (rpad alone would
    // TRUNCATE longer strings to n — only pad when short)
    val padded = when(length(c) < n, rpad(c, n, "#")).otherwise(c)
    array_distinct(
      transform(
        sequence(lit(0), length(padded) - n),
        i => padded.substr(i + 1, lit(n))))
  }

  /** Hash each shingle string ONCE to a 64-bit value (the expensive
    * variable-length scan happens here, exactly once per shingle). */
  def shingleBaseHashes(shinglesCol: Column): Column =
    transform(shinglesCol, s => xxhash64(s))

  /** k minhash values from pre-hashed shingles: g_i(s) = xxhash64(i, h(s))
    * rehashes the fixed-width long, not the string — keep this separate
    * from [[shingleBaseHashes]] so the base pass is computed once, not k
    * times (CollapseProject refuses to inline the non-cheap base transform
    * into k consumers, so the two-projection shape is stable). */
  def minhashSignatureFromHashes(baseHashCol: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(baseHashCol, h => xxhash64(lit(i), h)))
    }: _*)

  /** k seeded minhash values over a shingle array. Plain array<long>, no
    * UDT, no UDF (single-expression convenience form of the two-step
    * [[shingleBaseHashes]] + [[minhashSignatureFromHashes]]). */
  def minhashSignature(shinglesCol: Column, k: Int): Column =
    minhashSignatureFromHashes(shingleBaseHashes(shinglesCol), k)

  /** Split a k-length signature into `bands` band keys; a band key is the
    * xxhash64 of its rows plus the band index (and any extra grouping cols,
    * e.g. the entity type so cross-type mentions never block together). */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int, extra: Column*): Column =
    array((0 until bands).map { b =>
      xxhash64(
        (lit(b) +: extra :+
          concat_ws(",", (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1)): _*)): _*)
    }: _*)

  /**
   * Candidate pairs via band-bucket self-join.
   *
   * Input must carry (`idCol`: long, `shinglesCol`: array<string>) plus any
   * `extra` type columns. Output: (id_a, id_b, jaccard) with id_a < id_b and
   * jaccard >= `threshold` (exact Jaccard verification over the shingle
   * sets — the LSH is a filter, not the decision).
   */
  /** Bands needed so a pair at exactly `threshold` similarity is caught with
    * probability >= `p` given `r` rows per band: 1-(1-t^r)^b >= p. */
  def numBands(threshold: Double, rowsPerBand: Int, p: Double = 0.98): Int =
    math.max(2, math.ceil(
      math.log(1 - p) / math.log(1 - math.pow(threshold, rowsPerBand))).toInt)

  /** Signature bits per LSH table so the EXPECTED bucket occupancy stays at
    * `targetBucket` rows: bits ~ log2(n / targetBucket), floored at 4. The
    * corpus-size analog of [[numHashTables]] — at 10^9 rows this yields ~20
    * bits (≈10^6 buckets/table); a fixed bit width would leave bucket sizes
    * growing linearly with the corpus and the within-bucket self-join
    * quadratic. Raise `tables` alongside to hold recall (per-table collision
    * probability falls as bits grow). */
  def numBits(datasetSize: Long, targetBucket: Long = 1024L): Int = {
    val ratio = datasetSize.toDouble / targetBucket
    math.max(4, math.ceil(math.log(math.max(ratio, 1.0)) / math.log(2.0)).toInt)
  }

  /**
   * Drop every row of any bucket with more than `maxBucket` members before a
   * bucket self-join. A degenerate hot bucket (stop-shingle cluster, a
   * low-entropy embedding region, 10^5 identical documents) otherwise
   * produces O(bucket^2) candidate pairs — the one way any banded-LSH plan
   * goes quadratic at scale. count + left_semi is partial-aggregatable and
   * sort-free (cheaper than a row_number window), and the dropped pairs are
   * by construction the spurious ones the verify step would discard anyway
   * (true near-dup CLUSTERS that big should be handled by exact dedup first).
   */
  def capBuckets(df: DataFrame, bucketCols: Seq[String], maxBucket: Int,
                 pairBudget: Long = Long.MaxValue): DataFrame = {
    val counts = df.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucket)
    // `pairBudget` additionally bounds the JOIN OUTPUT, not just its input:
    // a kept-but-hot bucket of n members still emits ~n^2/2 candidate pairs
    // (5*10^7 at the default 10k cap). memberCap = sqrt(2*budget) rows kept
    // per bucket — a deterministic hash-fraction sample within
    // oversized-but-kept buckets — makes expected pairs-per-bucket <=
    // pairBudget. Default Long.MaxValue = off (exact legacy semantics; the
    // oracle queries pin those).
    val memberCap = math.min(maxBucket.toLong,
      math.max(2L, math.sqrt(2.0 * pairBudget.toDouble.min(9e18)).toLong))
    if (memberCap >= maxBucket) {
      df.join(counts.select(bucketCols.map(col): _*), bucketCols, "left_semi")
    } else {
      df.join(counts, bucketCols) // inner: drops >maxBucket buckets
        .filter(col("_n") <= memberCap ||
          pmod(xxhash64(struct(col("*"))), lit(1000000L)) <
            lit(1000000L) * lit(memberCap) / col("_n"))
        .drop("_n")
    }
  }

  /**
   * Exploded band-key index rows (`_band`, `_id`, `_sh`) for a shingled
   * input — the blocking-side state of every minhash family. Persisting this
   * (bucketed by `_band`) is what makes INCREMENTAL dedup O(increment):
   * a new batch joins its own index rows against the stored state index,
   * never re-banding or re-pairing the accumulated corpus
   * ([[graft.textops.Dedup.minhashIncrementAgainstIndex]]).
   *
   * `_sh` carries the 64-bit BASE-HASHED shingles (array<long>), not the
   * strings: Jaccard over distinct hashed shingles equals string Jaccard
   * up to xxhash64 collisions (~n²/2⁶⁵ — fractions of one expected
   * collision even at 10^10 distinct shingles), the join/broadcast payload
   * shrinks ~3x (8-byte longs vs ~25-char strings), and the verify
   * intersect runs on longs instead of re-hashing strings per pair —
   * measured 2x on the sf0.1 fixture and far more stable under a polluted
   * JIT profile (`bench_artifacts/probelab_jaccard_r5.txt`).
   */
  def bandedIndex(df: DataFrame, idCol: String, shinglesCol: String,
                  threshold: Double, k: Int = 0,
                  extraKey: Seq[String] = Nil): DataFrame = {
    val rowsPerBand = 2
    val bands = if (k > 0) math.max(1, k / rowsPerBand)
                else numBands(threshold, rowsPerBand)
    // accept PRE-HASHED shingles (array<long>, e.g. the native
    // word_shingle_hashes output) directly — string shingles go through
    // the hash projection as before; the signature is the native
    // codegen'd minhash_sig (bit-identical xxhash64 chain — the
    // interpreted array_min∘transform form it replaces is pinned equal
    // in ShingleCodegenSpec)
    val preHashed = df.schema(shinglesCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    df.withColumn("_bh",
        if (preHashed) col(shinglesCol) else shingleBaseHashes(col(shinglesCol)))
      .withColumn("_sig", org.apache.spark.sql.graftfns.TextExpressions
        .minhash_sig(col("_bh"), bands * rowsPerBand))
      .withColumn("_band", explode(bandKeys(col("_sig"), bands, rowsPerBand,
        extraKey.map(col): _*)))
      .select(col("_band"), col(idCol).as("_id"), col("_bh").as("_sh"))
  }

  def candidatePairs(df: DataFrame, idCol: String, shinglesCol: String,
                     threshold: Double, k: Int = 0, extraKey: Seq[String] = Nil,
                     maxBucket: Int = 10000,
                     pairBudget: Long = Long.MaxValue): DataFrame = {
    // lineage cut: the banded index feeds capBuckets (count + semi-join
    // sides) AND both self-join sides — four consumers; without the cut
    // the shingle-hash + minhash-signature projection replays once per
    // consumer (measured 4 full upstream chains in the dd2 plan)
    val withBands = Lineage.cut(bandedIndex(df, idCol, shinglesCol, threshold, k, extraKey))

    // drop pathological buckets entirely ([[capBuckets]] — a band bucket
    // with >maxBucket members is a degenerate stop-shingle cluster; its
    // pairs are spurious and quadratic).
    val capped = capBuckets(withBands, Seq("_band"), maxBucket, pairBudget)

    val a = capped.select(col("_band"), col("_id").as("id_a"), col("_sh").as("_sh_a"),
      size(col("_sh")).as("_n_a"))
    val b = capped.select(col("_band"), col("_id").as("id_b"), col("_sh").as("_sh_b"),
      size(col("_sh")).as("_n_b"))
    // verify Jaccard BEFORE the pair-dedup so the dedup shuffle carries
    // (id,id,double) scalars, not two shingle arrays per row; a pair seen
    // in several bands recomputes a deterministic jaccard — cheaper than
    // shuffling the arrays. |A∪B| = |A|+|B|-|A∩B| (shingles are distinct),
    // so only the intersection array is materialized, never the union.
    // The arrays are the base-hashed longs ([[bandedIndex]]): the verify
    // intersect never touches strings.
    a.join(b, Seq("_band"))
      .filter(col("id_a") < col("id_b"))
      // lossless size-ratio prune before touching the arrays: J(A,B) <=
      // min(|A|,|B|)/max(|A|,|B|), so a pair failing this cannot reach the
      // threshold — a scalar compare that skips the intersection entirely
      .filter(least(col("_n_a"), col("_n_b")).cast("double") >=
        lit(threshold) * greatest(col("_n_a"), col("_n_b")).cast("double"))
      .withColumn("_inter", size(array_intersect(col("_sh_a"), col("_sh_b"))))
      .withColumn("jaccard",
        col("_inter").cast("double") /
          (col("_n_a") + col("_n_b") - col("_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .dropDuplicates("id_a", "id_b")
  }
}
