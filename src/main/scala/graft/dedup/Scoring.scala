package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expr.{functions => gf}

/**
 * Pairwise scoring stage — the analogue of `core.scoreDuplicates`
 * (`core.py:102-187`): featurize each candidate pair and produce
 * `P(match) ∈ [0,1]`, dropping exact zeros (`core.py:81-84`).
 *
 * Per the north rule the classifier is not a learned LR but a fixed,
 * deterministic similarity: exact Jaccard over the char-shingle sets of the
 * pair. Scores are float32 like the reference's score dtype (`core.py:132`).
 *
 * Scale design: candidate pairs can outnumber documents 100:1, so the pair
 * stream must NEVER carry the full shingle arrays end to end (at 10^12 docs
 * that join alone would shuffle petabytes). Scoring is therefore two-phase:
 *
 *  1. SimHash prefilter — join the pairs to the 8-byte simhash fingerprints
 *     (a ~24-byte payload per side; AQE broadcasts the fingerprint map when
 *     it is small) and drop pairs with Hamming distance > `maxHamming`.
 *     This is the secondary-fingerprint role the north rule assigns SimHash,
 *     and the cheap-filter-then-verify shape of the reference's index
 *     predicates (`predicates.py:224-273`).
 *  2. Exact verify — only survivors join the shingle arrays and get the
 *     exact Jaccard score; pairs below `minScore` drop (the classifier-zero
 *     analogue).
 */
object Scoring {

  /**
   * Normalized suffix-pass LCS scores for candidate pairs — the
   * "longest-common-substring length from the suffix pass" score signal
   * (north rule). Same diagonal-run identity as the catalog
   * [[graft.ops.PipelineOps.scoreLcsSuffix]]: a common substring of length
   * L >= w contains L - w + 1 aligned w-windows, so LCS = w - 1 + longest
   * run of shared windows along one i - j diagonal (gaps-and-islands,
   * PARTITIONED windows only). Windows are stride-1 over the
   * `prefix`-bounded text (O(prefix) rows/doc) and ship as 8-byte xxhash64
   * values, never substrings (a 2^-64 collision can only overestimate one
   * pair's run by a window). Normalization: lcs / min(prefix length) — 1.0
   * = one side's whole (bounded) text is contained in the other.
   *
   * @param pairs (a, b) SURVIVOR pairs (post-prefilter — never the raw
   *              candidate stream)
   * @param texts (idCol, text)
   * @return (a, b, lcs_norm: double) for pairs sharing >= 1 window
   */
  def lcsScores(pairs: DataFrame, texts: DataFrame, idCol: String,
                w: Int, prefix: Int): DataFrame = {
    // r6 (guide §2.4): one codegen'd longest-common-substring kernel call
    // per pair over the prefix-bounded texts replaces the r5 window-hash
    // equi-joins (pairs × ~prefix windows/side) + run-walk aggregation —
    // two joins of ~250-byte text payloads instead of two joins of exploded
    // window streams plus a wide aggregation. Exact, not hash-approximate:
    // the xxhash64 window keys could (2^-64) overestimate a run; the DP
    // cannot. Pairs whose LCS is below `w` shared no window and emitted no
    // row before — the `lcs_len >= w` filter preserves that contract.
    val pre = texts
      .select(col(idCol).as("sid"), substring(col("text"), 1, prefix).as("t"))
      .filter(length(col("t")) >= w)
    pairs
      .join(pre.select(col("sid").as("a"), col("t").as("t_a")).hint("shuffle_hash"), Seq("a"))
      .join(pre.select(col("sid").as("b"), col("t").as("t_b")).hint("shuffle_hash"), Seq("b"))
      .select(col("a"), col("b"),
        graft.expr.functions.lcs_len(col("t_a"), col("t_b")).as("lcs_len"),
        least(length(col("t_a")), length(col("t_b"))).cast("long").as("minlen"))
      .filter(col("lcs_len") >= w)
      .select(col("a"), col("b"),
        (col("lcs_len").cast("double") / col("minlen")).as("lcs_norm"))
  }

  /** Pairs co-blocked by RARE suffix-pass keys — the provenance the north
    * rule assigns the LCS channel: the SAME sampled fixed-width suffix keys
    * the blocking stage emits ([[Blocking.blockKeys]]' TagSuffix pass,
    * `suffix_keys(text, w, every, seed)`), self-joined within key after a
    * broadcast anti-join against keys hotter than `dfCap` (the stop-word
    * rule — boilerplate windows generate quadratic pairs with no
    * containment evidence). Bounded: <= dfCap · keys/doc · N pair rows
    * before distinct, the same volume class as one blocking pass. */
  def suffixCoBlockedPairs(texts: DataFrame, idCol: String,
                           suffixWidth: Int, suffixEvery: Int, seed: Long,
                           dfCap: Long): DataFrame = {
    val sk = texts
      .select(col(idCol).as("sid"),
        explode(gf.suffix_keys(col("text"), suffixWidth, suffixEvery, seed)).as("wh"))
    val hot = sk.groupBy(col("wh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("wh"))
    val kept = sk.join(broadcast(hot), Seq("wh"), "left_anti")
    kept.as("x")
      .join(kept.as("y"),
        col("x.wh") === col("y.wh") && col("x.sid") < col("y.sid"))
      .select(col("x.sid").as("a"), col("y.sid").as("b"))
      .distinct()
  }

  /**
   * @param pairs (a, b) with a < b
   * @param sigs  signature table with (url, shingles, simhash)
   * @param minScore  exact-Jaccard floor (see [[DedupConfig.minScore]])
   * @param maxHamming SimHash prefilter radius; 64 disables the prefilter
   * @return (a, b, score: float) with score > max(0, minScore) rows only
   */
  def scorePairs(pairs: DataFrame, sigs: DataFrame, idCol: String = "url",
                 minScore: Double = 0.0, maxHamming: Int = 64,
                 dedupePairs: Boolean = false,
                 scoreLcs: Boolean = false, lcsWindow: Int = 6,
                 lcsPrefix: Int = 256,
                 suffixWidth: Int = 40, suffixEvery: Int = 20,
                 seed: Long = 42L, lcsDfCap: Long = 50L): DataFrame = {
    val prefiltered =
      if (maxHamming >= 64 || !sigs.columns.contains("simhash")) pairs
      else {
        // fingerprint map is ~24 bytes/doc but one row per DOCUMENT — at
        // 10^12 docs it cannot go through the driver. No broadcast hint:
        // AQE turns the join into a broadcast probe when the map is under
        // the threshold and a shuffled hash/sort-merge join otherwise.
        val fp = sigs.select(col(idCol).as("sid"), col("simhash"))
        pairs
          .join(fp.withColumnRenamed("sid", "a").withColumnRenamed("simhash", "h_a"), Seq("a"))
          .join(fp.withColumnRenamed("sid", "b").withColumnRenamed("simhash", "h_b"), Seq("b"))
          .filter(gf.hamming64(col("h_a"), col("h_b")) <= maxHamming)
          .select(col("a"), col("b"))
      }
    // pair-uniqueness invariant (api.py:224-227) established here when the
    // blocking stage deferred it. Partitioned by `a` ALONE (r6): hash
    // clustering on a subset of the distinct keys is sufficient for the
    // (a, b) dedup AND is exactly the distribution the first verify join
    // below needs — one exchange serves both where distinct()'s (a, b)
    // exchange forced the join to re-shuffle its 10x-smaller output again.
    // Skew-safe: one doc's pair fan-out is bounded by keys/doc x the
    // hot-key cap, so no single `a` partition can blow up.
    val surviving =
      if (dedupePairs) prefiltered.repartition(col("a")).distinct()
      else prefiltered

    // shuffle_hash: the shingle side carries ~KB array payloads per row —
    // hash-building it avoids sort-merge's full sort of the array columns
    // (2x the memory traffic) at any scale where it exceeds broadcast size
    val sh = sigs.select(col(idCol).as("sid"), col("shingles")).hint("shuffle_hash")
    val jac = surviving
      .join(sh.withColumnRenamed("sid", "a").withColumnRenamed("shingles", "sh_a"), Seq("a"))
      .join(sh.withColumnRenamed("sid", "b").withColumnRenamed("shingles", "sh_b"), Seq("b"))
      .select(col("a"), col("b"),
        gf.jaccard_sorted(col("sh_a"), col("sh_b")).as("jac"))
    val blended =
      if (!scoreLcs) jac.select(col("a"), col("b"), col("jac").cast("float").as("score"))
      else {
        // the LCS channel scores (prefilter survivors) ∪ (pairs co-blocked
        // by RARE suffix-pass keys): a verbatim containment with low token
        // overlap sits at Hamming > maxHamming, so it is NOT a survivor —
        // its provenance is exactly the suffix pass, and it enters here
        // WITHOUT widening the prefilter radius globally. A pair's score is
        // the stronger of its Jaccard (survivors only) and its normalized
        // longest common substring, so containments survive the minScore
        // floor while the Jaccard path stays prefilter-tight.
        require(sigs.columns.contains("text"),
          "scoreLcs needs the signature table to carry the text column")
        val texts = sigs.select(col(idCol), col("text"))
        val lcsPairs = surviving.select(col("a"), col("b"))
          .unionByName(suffixCoBlockedPairs(texts, idCol,
            suffixWidth, suffixEvery, seed, lcsDfCap))
          // duplicates would corrupt the gaps-and-islands run counts
          .distinct()
        val lcs = lcsScores(lcsPairs, texts, idCol, lcsWindow, lcsPrefix)
        jac.join(lcs, Seq("a", "b"), "full_outer")
          .select(col("a"), col("b"),
            greatest(coalesce(col("jac"), lit(0.0)), coalesce(col("lcs_norm"), lit(0.0)))
              .cast("float").as("score"))
      }
    blended.filter(col("score") > math.max(0.0, minScore)) // zero-score drop, core.py:81-84
  }
}
