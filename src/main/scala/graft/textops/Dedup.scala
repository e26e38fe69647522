package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Lineage
import graft.link.{ConnectedComponents, MinHashBlocking}

/**
 * Document deduplication family for large-scale training-data pipelines.
 *
 * Scale design: every variant is (map-side featurize) -> (one bounded
 * shuffle) -> (verify within candidate groups). Nothing ever materializes
 * the O(n^2) pair space: exact dedup is a hash groupBy; near-dup variants
 * go through banded LSH (MinHash / SimHash / hyperplane) so the self-join
 * key is a bucket, and bucket sizes are capped.
 */
object Dedup {

  /** Word n-gram shingles (distinct) — the unit of Jaccard similarity for
    * document-level near-dup. */
  def wordShingles(textCol: Column, n: Int = 3): Column = {
    val words = split(textCol, " ")
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => array_join(slice(words, i + 1, lit(n)), " ")))
  }

  /**
   * Exact deduplication: survivor = min id per normalized text. One hash
   * aggregation; at 100 TB this is the classic first pass (hash-partitioned
   * on a text digest so the shuffle carries a 32-byte key, not the text).
   */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol), col(textCol),
        sha2(trim(lower(col(textCol))), 256).as("_digest"))
      .groupBy("_digest")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
  }

  /** MinHash+LSH near-duplicate pairs at `threshold` Jaccard over word
    * n-gram shingles (shingle->minhash->band->bucket-join->exact verify). */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8, shingleWords: Int = 3): DataFrame = {
    // native fused shingle+hash (one byte pass, codegen'd) — replaces the
    // interpreted wordShingles HOF chain; hash values are bit-identical
    // (ShingleCodegenSpec), so banding and the verified pair set are too
    val withSh = df.select(col(idCol),
      org.apache.spark.sql.graftfns.TextExpressions
        .word_shingle_hashes(col(textCol), shingleWords).as("_shingles"))
    MinHashBlocking.candidatePairs(withSh, idCol, "_shingles", threshold)
  }

  /** Near-dup clusters: LSH pairs -> connected components -> survivor =
    * min id per cluster. Returns (id, keep_id). */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, threshold)
    ConnectedComponents.components(
      df.select(col(idCol)), idCol,
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col(idCol), col("component").as("keep_id"))
  }

  /**
   * 64-bit SimHash over word tokens: bit_i = sign of the sum over tokens of
   * (+1 / -1) by bit i of the token hash. Pure column expressions —
   * explode + one groupBy with 64 conditional sums (partial-agg friendly),
   * bits reassembled with shiftleft/bitwise-or.
   *
   * The token hash is PORTABLE by default: bit j = bit (3 - j%4) of hex
   * digit j/4 of md5(token). md5 + substring + integer shifts exist verbatim
   * in DuckDB, so an independent SQL oracle can re-derive the signatures
   * (the mm3 portability trick); since r6 the 64 bits are assembled by the
   * native `simhash_md5_bits` expression in one digest pass — bit-identical
   * to the digit chain the oracle replays (ShingleCodegenSpec).
   * `portableHash = false` switches the token hash to a single `xxhash64`
   * (bit i of the 64-bit hash directly): one 8-byte hash per token instead
   * of an md5 digest, same banding/verify machinery, but Spark-only (an
   * independent SQL oracle can no longer re-derive it, which is why it is
   * not the default). Signatures differ between the two hashes;
   * the CONTRACT (identical texts collide at Hamming 0, near-identical at
   * small Hamming) is hash-independent and tested for both.
   */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              portableHash: Boolean = true): DataFrame = {
    val tokens = df.select(col(idCol), explode(split(col(textCol), " ")).as("_tok"))
    // (projected token-hash table, bit i of the hash as a 0/1 int column)
    val (hashed, bit) =
      if (portableHash) {
        // native fused md5-digit bits (one long per token) — bit j below is
        // identical to the digit formulation bit (3 - j%4) of hex digit j/4
        // the oracle replays (ShingleCodegenSpec pins parity); replaces 16
        // substring+conv digit columns per token
        val withBits = tokens.select(col(idCol),
          org.apache.spark.sql.graftfns.TextExpressions
            .simhash_md5_bits(col("_tok")).as("_h"))
        (withBits,
          (i: Int) => shiftright(col("_h"), i).bitwiseAND(lit(1L)).cast("int"))
      } else {
        val withHash = tokens.select(col(idCol), xxhash64(col("_tok")).as("_h"))
        // arithmetic shift on a negative long is fine: the AND keeps one bit
        (withHash,
          (i: Int) => shiftright(col("_h"), i).bitwiseAND(lit(1L)).cast("int"))
      }
    val bitSums = (0 until 64).map { i =>
      sum(when(bit(i) === 1, 1).otherwise(-1)).as(s"_b$i")
    }
    val agged = hashed.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { i =>
      when(col(s"_b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    agged.select(col(idCol), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: band the 64-bit signature into four 16-bit
    * bands (any exact band match -> candidate; Hamming-verify <= maxHamming).
    * By pigeonhole, any pair within Hamming distance 3 shares a band, so on
    * uncapped buckets the output is EXACTLY the <=maxHamming pair set.
    * Band buckets are capped ([[MinHashBlocking.capBuckets]]): 16-bit bands
    * give at most 65,536 buckets, so at 10^9 docs an average bucket holds
    * ~15k members — without the cap one degenerate bucket contributes
    * O(bucket^2) candidates per band. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 10000,
                   pairBudget: Long = Long.MaxValue,
                   portableHash: Boolean = true): DataFrame = {
    val sh = simhash(df, idCol, textCol, portableHash)
    val banded = sh.select(col(idCol).as("_id"), col("simhash"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
        }: _*)).as("bk"))
      .select(col("_id"), col("simhash"), col("bk.band"), col("bk.key"))
    val capped = MinHashBlocking.capBuckets(banded, Seq("band", "key"), maxBucket, pairBudget)
    val a = capped.select(col("band"), col("key"), col("_id").as("id_a"), col("simhash").as("sh_a"))
    val b = capped.select(col("band"), col("key"), col("_id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /**
   * Exact n-gram Jaccard for candidate pairs within a blocking key (here:
   * all-pairs within small groups — use ONLY behind blocking; the public
   * near-dup path is [[minhashPairs]]). Kept for verification/audit of the
   * LSH path on bounded buckets.
   *
   * `maxBlock`/`pairBudget` (default off, preserving exact audit semantics)
   * route the block key through [[graft.link.MinHashBlocking.capBuckets]] —
   * the same degenerate-block guard every LSH family has — for callers who
   * point this at blocks whose size they don't control.
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, threshold: Double, n: Int = 3,
                        maxBlock: Int = Int.MaxValue,
                        pairBudget: Long = Long.MaxValue): DataFrame = {
    // verify over 64-bit-hashed distinct shingles (same Jaccard value up to
    // xxhash64 collisions, ~n²/2⁶⁵): the per-pair intersect runs on longs,
    // the join payload shrinks ~3x, and the expensive string-shingle chain
    // is evaluated exactly once per row — measured 2x faster and far less
    // JIT-profile-sensitive (bench_artifacts/probelab_jaccard_r5.txt)
    // lineage cut: the shingled table feeds both self-join sides (and the
    // cap machinery when enabled) — without it the wordShingles + hash
    // projection evaluates once per side (dd4 measured 2 upstream chains)
    val withSh0 = Lineage.cut(df.select(col(blockCol).as("_blk"), col(idCol),
      org.apache.spark.sql.graftfns.TextExpressions
        .word_shingle_hashes(col(textCol), n).as("_sh"))
      // repartition on the block key before the cut (the dd10 posture):
      // a single-split corpus otherwise runs the within-block join in one
      // task; the exchange spreads it scale-adaptively
      .repartition(col("_blk")))
    val withSh =
      if (maxBlock == Int.MaxValue && pairBudget == Long.MaxValue) withSh0
      else MinHashBlocking.capBuckets(withSh0, Seq("_blk"), maxBlock, pairBudget)
    val a = withSh.select(col("_blk"), col(idCol).as("id_a"), col("_sh").as("_sh_a"),
      size(col("_sh")).as("_n_a"))
    val b = withSh.select(col("_blk"), col(idCol).as("id_b"), col("_sh").as("_sh_b"),
      size(col("_sh")).as("_n_b"))
    a.join(b, Seq("_blk"))
      .filter(col("id_a") < col("id_b"))
      // lossless size-ratio prune: J <= min/max, scalar compare, no arrays
      .filter(least(col("_n_a"), col("_n_b")).cast("double") >=
        lit(threshold) * greatest(col("_n_a"), col("_n_b")).cast("double"))
      // verify FIRST (jaccard is deterministic, safe to recompute for a pair
      // that co-occurs in several blocks), THEN dedup — so the dedup
      // exchange carries three scalars per surviving pair, never the two
      // ~300-element shingle arrays per candidate (the ordering lesson from
      // MinHashBlocking.candidatePairs). |A∪B| = |A|+|B|-|A∩B| (distinct
      // shingles): only the intersection array is ever materialized.
      .withColumn("_inter", size(array_intersect(col("_sh_a"), col("_sh_b"))))
      .withColumn("jaccard",
        col("_inter").cast("double") /
          (col("_n_a") + col("_n_b") - col("_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .dropDuplicates("id_a", "id_b")
  }

  /**
   * EXACT corpus-wide set-similarity join via prefix filtering — the
   * AllPairs algorithm (Bayardo, Ma & Srikant, WWW 2007; the prefix
   * lemma underlying PPJoin): every pair of documents whose n-gram
   * shingle-set Jaccard ≥ `threshold`, with NO blocks and NO
   * probabilistic recall loss. This closes the documented gap in the
   * dedup family: [[ngramJaccardPairs]] is exact only within
   * caller-chosen blocks (audit posture), [[minhashPairs]] is
   * corpus-wide but probabilistic; this is corpus-wide AND exact.
   *
   * Prefix lemma (Jaccard form): J(A,B) ≥ t forces overlap
   * |A∩B| ≥ ⌈t·|A|⌉ (o(1+t) ≥ t(|A|+|B|) ≥ t(|A|+o) ⇒ o ≥ t|A|), so
   * under ONE global token order, A's first |A|−⌈t·|A|⌉+1 tokens and
   * B's first |B|−⌈t·|B|⌉+1 tokens must share a token — only those
   * prefixes generate candidates. Ordering tokens RAREST-FIRST
   * (ascending document frequency, ties on the token) puts the
   * highest-selectivity tokens in every prefix, so candidate volume
   * tracks the true near-dup count, not n².
   *
   * 100 TB shape: one df-count partial agg, one token-keyed join to
   * attach the global order, one per-doc rollup, a prefix-token-keyed
   * candidate self-join (the exchange carries only prefix tokens —
   * ~(1−t) of each doc), a lossless size-ratio prune, and the exact
   * verify joins. The hot-token skew a naive token join suffers is
   * structurally bounded: a token appears in a prefix only when a doc
   * has almost nothing rarer, so frequent tokens mostly vanish from
   * the candidate key space. Shingles are 64-bit-hashed like the rest
   * of the family (identical Jaccard up to ~n²/2⁶⁵ collisions).
   */
  def jaccardJoinExact(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold $threshold")
    val sorted = rareFirstSorted(df, idCol, textCol, n)
    val prefLen = (col("_n") - ceil(lit(threshold) * col("_n")) + 1).cast("int")
    val pref = sorted.select(col("id"), col("_n"),
      explode(slice(col("_toks"), lit(1), prefLen)).as("_t"))
    val cands = pref.select(col("_t"), col("id").as("id_a"), col("_n").as("_n_a"))
      .join(pref.select(col("_t"), col("id").as("id_b"), col("_n").as("_n_b")), Seq("_t"))
      .filter(col("id_a") < col("id_b"))
      // lossless size prune: J <= min/max
      .filter(least(col("_n_a"), col("_n_b")).cast("double") >=
        lit(threshold) * greatest(col("_n_a"), col("_n_b")).cast("double"))
      .select("id_a", "id_b").distinct()
    cands
      .join(sorted.select(col("id").as("id_a"), col("_toks").as("_sa"),
        col("_n").as("_na")), Seq("id_a"))
      .join(sorted.select(col("id").as("id_b"), col("_toks").as("_sb"),
        col("_n").as("_nb")), Seq("id_b"))
      .withColumn("_inter", size(array_intersect(col("_sa"), col("_sb"))))
      .withColumn("jaccard", col("_inter").cast("double") /
        (col("_na") + col("_nb") - col("_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Per-doc distinct hashed shingles sorted RAREST-FIRST by the global
    * (document frequency, token) order — the shared index of the exact
    * set-similarity joins: (id, _toks, _n). Lineage cut: reused by
    * the prefix explode and the verify joins of every caller. */
  private def rareFirstSorted(df: DataFrame, idCol: String, textCol: String,
                              n: Int): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        org.apache.spark.sql.graftfns.TextExpressions
          .word_shingle_hashes(col(textCol), n).as("_sh"))
      .filter(size(col("_sh")) > 0)
    val toks = sh.select(col("id"), explode(col("_sh")).as("_t"))
    val dfs = toks.groupBy("_t").agg(count(lit(1)).as("_df"))
    Lineage.cut(toks.join(dfs, Seq("_t"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("_df"), col("_t")))).as("_st"))
      .select(col("id"), transform(col("_st"), s => s.getField("_t")).as("_toks"),
        size(col("_st")).as("_n")))
  }

  /**
   * EXACT corpus-wide CONTAINMENT join — the ASYMMETRIC grain of the
   * set-similarity family: every ORDERED pair (a, b), a ≠ b, with
   * C(a→b) = |A∩B|/|A| ≥ `threshold` (a's shingles mostly inside b).
   * This is the quote-inclusion / subset-duplicate detector Jaccard is
   * blind to: a paragraph pasted into a 100× longer document has
   * J ≈ |A|/|B| ≈ 0.01 but C(a→b) = 1.0 — precisely the contamination
   * shape benchmark answers and boilerplate-wrapped copies take
   * (Broder's containment, SEQUENCES 1997, alongside resemblance).
   *
   * Prefix lemma (containment form): C(a→b) ≥ t forces overlap
   * o ≥ ⌈t·|A|⌉, so a's first |A|−⌈t·|A|⌉+1 rare-first tokens must hit
   * SOME token of b — a's PREFIX joins b's FULL token index (unlike the
   * Jaccard join, b gets no prefix: containment puts no lower bound on
   * how much of b matters). Lossless size prune: o ≤ |B| ⇒ |B| ≥ t·|A|.
   *
   * 100 TB shape: the [[jaccardJoinExact]] pipeline with an asymmetric
   * candidate join (prefix side still rare-first — hot tokens reach a
   * prefix only when a doc has nothing rarer; the full-index side is
   * df-distributed, AQE-skew-splittable), verify joins carry the two
   * sorted arrays per surviving candidate only.
   */
  def containmentJoinExact(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold $threshold")
    val sorted = rareFirstSorted(df, idCol, textCol, n)
    val prefLen = (col("_n") - ceil(lit(threshold) * col("_n")) + 1).cast("int")
    val pref = sorted.select(col("id"), col("_n"),
      explode(slice(col("_toks"), lit(1), prefLen)).as("_t"))
    val all = sorted.select(col("id").as("id_b"), col("_n").as("_n_b"),
      explode(col("_toks")).as("_t"))
    val cands = pref.select(col("_t"), col("id").as("id_a"), col("_n").as("_n_a"))
      .join(all, Seq("_t"))
      .filter(col("id_a") =!= col("id_b"))
      // lossless size prune: o <= |B| so C >= t needs |B| >= t*|A|
      .filter(col("_n_b").cast("double") >= lit(threshold) * col("_n_a").cast("double"))
      .select("id_a", "id_b").distinct()
    cands
      .join(sorted.select(col("id").as("id_a"), col("_toks").as("_sa"),
        col("_n").as("_na")), Seq("id_a"))
      .join(sorted.select(col("id").as("id_b"), col("_toks").as("_sb")), Seq("id_b"))
      .withColumn("containment",
        size(array_intersect(col("_sa"), col("_sb"))).cast("double") /
          col("_na").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /**
   * Embedding-cosine near-duplicate pairs: multi-table hyperplane LSH with
   * 1-bit multiprobe, then exact cosine verify within probed buckets — the
   * same index shape as [[graft.ann.Similarity.lshTopK]] (a single
   * exact-signature table has ~p^bits recall: at cos=0.9 with 16 planes that
   * is ~8%, useless).
   *
   * Recall: per-bit agreement p = 1 - acos(cos)/pi; a true pair collides in
   * one table w.p. p^m + m*p^(m-1)*(1-p) (exact or any 1-bit probe); across
   * T independent tables 1-(1-that)^T. m=8, T=8 give >0.999 at cos=0.9
   * (p=0.856). `bits < 0` (the default) derives m from a corpus count the
   * way [[graft.link.MinHashBlocking.numHashTables]] scales with
   * datasetSize: m = [[graft.link.MinHashBlocking.numBits]](n) ~
   * log2(n/1024), which holds EXPECTED bucket size flat as the corpus
   * grows; raise `tables` alongside at 10^9+ rows to hold recall. `bits = 0`
   * is the all-pairs degenerate form (one bucket — tests/truth only).
   * Buckets are additionally CAPPED at `maxBucket` members
   * ([[graft.link.MinHashBlocking.capBuckets]]): expected size flat does not
   * bound a degenerate bucket (10^5 identical embeddings, a low-entropy
   * corpus region), and one such bucket is O(bucket^2) pairs.
   *
   * Ordering: cosine-verify BEFORE the cross-table pair dedup, so the dedup
   * exchange carries (id_a, id_b, cosine) scalars — never the vectors.
   */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     minCosine: Double, bits: Int = -1, tables: Int = 8,
                     maxBucket: Int = 10000,
                     pairBudget: Long = Long.MaxValue): DataFrame = {
    val m = if (bits >= 0) bits else MinHashBlocking.numBits(df.count())
    // lineage cut: the signature index feeds capBuckets (count + semi)
    // and both the exact and multiprobe join sides — without it the
    // hyperplane signatures recompute once per consumer (dd5 measured 4
    // upstream chains / 16 corpus scans in the static plan)
    val indexed0 = Lineage.cut(df.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          graft.ann.Similarity.hyperplaneSignature(col(vecCol), m, t).as("sig"))): _*)).as("_b"))
      .select(col("_id"), col("_v"), col("_b.t").as("_t"), col("_b.sig").as("_s0"))
      // repartition on the bucket key before the cut: the index inherits
      // the input's split count (a single-file corpus ran the bucket join
      // in one task); the exchange spreads it scale-adaptively
      .repartition(col("_t"), col("_s0")))
    val indexed = MinHashBlocking.capBuckets(indexed0, Seq("_t", "_s0"), maxBucket, pairBudget)
    val a = indexed.select(col("_t"), col("_s0").as("_sig"),
      col("_id").as("id_a"), col("_v").as("_v_a"))
    // probe side: own bucket plus every 1-bit-flip bucket
    val b = indexed.withColumn("_sig",
        explode(array(col("_s0") +: (0 until m).map(bp =>
          col("_s0").bitwiseXOR(shiftleft(lit(1L), bp))): _*)))
      .select(col("_t"), col("_sig"), col("_id").as("id_b"), col("_v").as("_v_b"))
    a.join(b, Seq("_t", "_sig"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(graft.ann.Similarity.cosine(col("_v_a"), col("_v_b")), 6))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
      .dropDuplicates("id_a", "id_b")
  }

  /**
   * Incremental near-dup dedup: a NEW batch of documents against the
   * accumulated corpus STATE, never re-pairing state against itself — the
   * shape every continuously-ingesting 100 TB pipeline actually runs
   * (full-corpus re-dedup per arrival is O((state+increment)^2) work for an
   * O(increment * state) question).
   *
   * `stateIndex` is the persisted banding state: the (`_band`, `_id`, `_sh`)
   * rows of [[graft.link.MinHashBlocking.bandedIndex]] over previously-KEPT
   * documents, written once and extended append-only (store it bucketed by
   * `_band` so this join is co-located). Candidates are (new x state) band
   * collisions plus the (new x new) self-join; state x state pairs are never
   * generated. Each candidate is exact-Jaccard verified (the LSH is a
   * filter, not the decision).
   *
   * Drop rule (greedy, pairwise-dominated — same deterministic posture as
   * [[semanticDedup]]): a new document is dropped when it verifies at
   * `threshold` against ANY state document or ANY lower-id new document,
   * whether or not that lower-id document itself survives. Deterministic
   * and engine-portable; chain-merging semantics belong to
   * [[minhashDedup]]'s connected-components path.
   *
   * Returns the SURVIVING increment rows (all input columns). Append the
   * survivors' [[graft.link.MinHashBlocking.bandedIndex]] rows to the state
   * index afterwards to advance the state.
   */
  def minhashIncrementAgainstIndex(increment: DataFrame, stateIndex: DataFrame,
                                   idCol: String, textCol: String,
                                   threshold: Double = 0.8, shingleWords: Int = 3,
                                   maxBucket: Int = 10000,
                                   pairBudget: Long = Long.MaxValue): DataFrame = {
    val incShingled = increment.select(col(idCol),
      org.apache.spark.sql.graftfns.TextExpressions
        .word_shingle_hashes(col(textCol), shingleWords).as("_shingles"))
    val incIdx = MinHashBlocking.bandedIndex(incShingled, idCol, "_shingles", threshold)
    // one capped build side: state rows (flagged old) + increment rows —
    // capping the UNION keyed by band is the same degenerate-bucket guard
    // candidatePairs applies, and it bounds both candidate classes at once
    // lineage cut: the capped union feeds the probe AND existing sides —
    // without it the state/increment banding chains replay per consumer
    // (dd8 measured 120 upstream scans in the static plan)
    val build = Lineage.cut(MinHashBlocking.capBuckets(
      stateIndex.withColumn("_new", lit(false))
        .unionByName(incIdx.withColumn("_new", lit(true))),
      Seq("_band"), maxBucket, pairBudget))
    val probe = build.filter(col("_new"))
      .select(col("_band"), col("_id").as("id_new"), col("_sh").as("_sh_n"),
        size(col("_sh")).as("_n_n"))
    val existing = build.select(col("_band"), col("_id").as("id_old"),
      col("_sh").as("_sh_o"), size(col("_sh")).as("_n_o"), col("_new").as("_old_is_new"))
    // keep (new, state) in either id order, plus (new, LOWER-id new) —
    // state x state never pairs
    val dropped = probe.join(existing, Seq("_band"))
      .filter(!col("_old_is_new") || col("id_old") < col("id_new"))
      .filter(col("id_new") =!= col("id_old"))
      // lossless size-ratio prune, then verify — scalars only past this point
      .filter(least(col("_n_n"), col("_n_o")).cast("double") >=
        lit(threshold) * greatest(col("_n_n"), col("_n_o")).cast("double"))
      .withColumn("_inter", size(array_intersect(col("_sh_n"), col("_sh_o"))))
      .filter(col("_inter").cast("double") /
        (col("_n_n") + col("_n_o") - col("_inter")).cast("double") >= threshold)
      .select(col("id_new")).distinct()
    increment.join(dropped, increment(idCol) === dropped("id_new"), "left_anti")
  }

  /** One-shot form of [[minhashIncrementAgainstIndex]]: bands `state` on the
    * fly. Correct but O(state) per call — production pipelines persist the
    * index once and pass it directly. */
  def minhashIncrement(increment: DataFrame, state: DataFrame,
                       idCol: String, textCol: String,
                       threshold: Double = 0.8, shingleWords: Int = 3,
                       maxBucket: Int = 10000,
                       pairBudget: Long = Long.MaxValue): DataFrame = {
    val stShingled = state.select(col(idCol),
      org.apache.spark.sql.graftfns.TextExpressions
        .word_shingle_hashes(col(textCol), shingleWords).as("_shingles"))
    minhashIncrementAgainstIndex(increment,
      MinHashBlocking.bandedIndex(stShingled, idCol, "_shingles", threshold),
      idCol, textCol, threshold, shingleWords, maxBucket, pairBudget)
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
   * Data-efficient learning at web-scale through semantic deduplication"):
   * cluster the embedding space coarsely, then prune near-duplicates
   * WITHIN each cluster only — the pairwise-cosine cost drops from
   * O(n^2) to sum over cells of |cell|^2, and with k ~ sqrt(n) clusters
   * the expected cell is O(sqrt(n)).
   *
   * Plan shape at scale: assignment is a pure PROJECTION (the native
   * [[org.apache.spark.sql.graftfns.VectorExpressions.NearestCentroid]]
   * expression via [[graft.ann.Similarity.ivfAssign]] — zero exchange on
   * the corpus); the only shuffle is the within-cell self-join keyed by
   * `cell`, and a `cell`-partitioned persisted assignment makes even that
   * co-located. Cells are guardable by the family-standard
   * `maxCell`/`pairBudget` caps ([[graft.link.MinHashBlocking.capBuckets]]);
   * the defaults keep EXACT semantics (the oracle contract), turn the caps
   * on for degenerate corpora (one mega-cluster of boilerplate).
   *
   * Prune rule: a document is dropped when ANY lower-id document in its
   * cell has 6-dp-rounded cosine >= `minCosine` with it (greedy min-id
   * winner — deterministic and engine-portable). This is the pairwise-
   * dominated rule, not transitive-closure grouping: for chain merging
   * (a~b, b~c, a!~c collapses to one survivor) feed the within-cell pairs
   * into [[minhashDedup]]'s pairs->ConnectedComponents->min-id path.
   *
   * `centroids` is a tiny (cell:int, cvec:array<double>) table — from
   * [[graft.ann.Similarity.ivfCentroids]] (Lloyd-refined, sample-trained)
   * in production, or any deterministic pick when an oracle must re-derive
   * the assignment.
   *
   * Output: surviving (idCol, cell) rows.
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, minCosine: Double,
                    maxCell: Int = Int.MaxValue,
                    pairBudget: Long = Long.MaxValue): DataFrame = {
    val assigned = graft.ann.Similarity.ivfAssign(df, centroids, idCol, vecCol)
      .select(col(idCol).as("_id"), col("cell"), col(vecCol).as("_v"))
    val capped =
      if (maxCell == Int.MaxValue && pairBudget == Long.MaxValue) assigned
      else MinHashBlocking.capBuckets(assigned, Seq("cell"), maxCell, pairBudget)
    val a = capped.select(col("cell"), col("_id").as("_id_a"), col("_v").as("_v_a"))
    val b = capped.select(col("cell"), col("_id").as("_id_b"), col("_v").as("_v_b"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("_id_a") < col("_id_b"))
      .filter(round(graft.ann.Similarity.cosine(col("_v_a"), col("_v_b")), 6)
        >= minCosine)
      .select(col("_id_b").as("_dup")).distinct()
    assigned.join(dups, assigned("_id") === dups("_dup"), "left_anti")
      .select(col("_id").as(idCol), col("cell"))
  }
}
