package graft.dedup

/**
 * Fixed pipeline configuration — the analogue of dedupe's learned predicate
 * set + classifier persisted in the settings file (`api.py:1218-1233`,
 * `datamodel.py:27` version field). At web scale the config is static
 * (SURVEY.md §2.7): blocking is MinHash/LSH + SimHash + suffix keys, the
 * score is exact Jaccard over char-shingle sets.
 *
 * LSH S-curve: P(candidate | jaccard=s) = 1 - (1 - s^rows)^bands with
 * rows = numHashes / bands. Defaults (128 hashes, 16 bands, r=8) put the
 * S-curve midpoint at (1/16)^(1/8) ~= 0.71: steep rejection of the J<=0.25
 * background noise (P(J=0.25) ~= 2e-4) that otherwise grows candidate pairs
 * quadratically in N; moderate-J true dups (0.5-0.75) that the minhash curve
 * under-selects are recovered by the suffix-key, exact-text and SimHash-chunk
 * passes (measured union recall 0.9998 on the bench corpus vs 1.0000 at
 * 32x4, with 7x fewer candidate pairs).
 */
object DedupConfig {
  /** Settings-file read-back (`StaticMatching`, `api.py:1036-1067`): parse a
    * config.json written by [[DedupConfig.toJson]]. Used on pipeline resume
    * to refuse mixing checkpoints produced under a different config. */
  def fromJson(json: String): DedupConfig = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    DedupConfig(
      version = m.get("version").asInt,
      shingleK = m.get("shingleK").asInt,
      numHashes = m.get("numHashes").asInt,
      bands = m.get("bands").asInt,
      seed = m.get("seed").asLong,
      threshold = m.get("threshold").asDouble,
      minScore = m.get("minScore").asDouble,
      scoreMaxHamming = m.get("scoreMaxHamming").asInt,
      hotKeyMin = m.get("hotKeyMin").asLong,
      hotKeyFrac = m.get("hotKeyFrac").asDouble,
      hotKeyAbsCap = if (m.has("hotKeyAbsCap")) m.get("hotKeyAbsCap").asLong else 50L,
      maxComponents = m.get("maxComponents").asInt,
      useSimHash = m.get("useSimHash").asBoolean,
      useSuffix = m.get("useSuffix").asBoolean,
      suffixWidth = m.get("suffixWidth").asInt,
      suffixEvery = m.get("suffixEvery").asInt,
      useExact = m.get("useExact").asBoolean,
      exactIds = if (m.has("exactIds")) m.get("exactIds").asBoolean else false,
      scoreLcs = if (m.has("scoreLcs")) m.get("scoreLcs").asBoolean else false,
      lcsWindow = if (m.has("lcsWindow")) m.get("lcsWindow").asInt else 6,
      lcsPrefix = if (m.has("lcsPrefix")) m.get("lcsPrefix").asInt else 256)
  }
}

final case class DedupConfig(
    version: Int = 1,
    shingleK: Int = 5,
    numHashes: Int = 128,
    bands: Int = 16,
    seed: Long = 42L,
    threshold: Double = 0.5,
    /** Candidate-edge score floor. The reference drops pairs its classifier
      * scores as exactly 0 (`core.py:81-84`) — an LR trained on dup/non-dup
      * pairs maps dissimilar pairs to ~0, keeping the edge list sparse. Our
      * fixed-config analogue: Jaccard below this floor scores as 0 and is
      * dropped. Without it, ubiquitous weak edges (J~0.1-0.25 between
      * unrelated same-domain pages) fuse the graph into one giant component.
      * Set 0.0 for the literal score>0 reference semantics. */
    minScore: Double = 0.3,
    /** SimHash prefilter radius for scoring: candidate pairs whose 64-bit
      * fingerprints differ in more than this many bits skip the (expensive)
      * exact-Jaccard verify join. 64 disables. One-token edits of ~40-token
      * docs land at hamming 2-8; unrelated pages at ~25-32. */
    scoreMaxHamming: Int = 16,
    /** Hot band-key cap: keys with document frequency > max(hotKeyMin,
      * hotKeyFrac * N) are dropped — the canopy stop-word rule
      * (`canopy_index.py:25`), the single most important skew control. */
    hotKeyMin: Long = 1000L,
    hotKeyFrac: Double = 0.05,
    /** Absolute ceiling on the stop-word rule: within-bucket pair generation
      * is O(df²), and on realistic (Zipf-frequency) web text the number of
      * mid-frequency content keys is large — Σ df² explodes without a hard
      * ceiling. True duplicate pairs co-block on long-tail (df 2-5) keys, so
      * a tight ceiling costs ~no recall (gated at 0.99 in tests) while
      * bounding any bucket's pair fan-out at absCap²/2 (=1250 at the default 50). */
    hotKeyAbsCap: Long = 50L,
    /** Component-size cap before score refiltering (`clustering.py:214`,
      * reference default 30000).
      *
      * MEMORY BOUND — this cap IS the per-task memory contract of the
      * clustering stage: one component of n nodes costs a condensed
      * distance matrix of n(n-1)/2 doubles inside a single `flatMapGroups`
      * task (~3.6 GB at the 30k reference default, ~400 MB at 10k). The
      * reference pays it once in one process; an executor running several
      * such tasks CONCURRENTLY multiplies it — size executor memory as
      * cap²·4 bytes × spark.executor.cores, or lower the cap (the
      * web-scale profile should run 10000 unless giant clusters are
      * expected). [[ClusterStage.clusterComponents]] fails loudly (not
      * OOM) if an over-cap component ever reaches it. */
    maxComponents: Int = 30000,
    /** SimHash secondary fingerprint: gates the flagship blocking pass,
      * whose key scheme is FIXED — Manku 6-block/choose-3 combination keys
      * with a pigeonhole guarantee of hamming <= 3 (see
      * [[Blocking.blockKeys]]) — and the in-join prefilter at
      * `scoreMaxHamming`. When false every fingerprint is 0, so no pair is
      * prefiltered. */
    useSimHash: Boolean = true,
    /** Suffix-array substring pass: fixed-width sampled suffix keys. */
    useSuffix: Boolean = true,
    suffixWidth: Int = 40,
    suffixEvery: Int = 20,
    /** Whole-text exact-duplicate pass (also catches docs shorter than
      * shingleK, which emit no shingles). */
    useExact: Boolean = true,
    /** Compact record ids. Default: xxhash64(url) with an active collision
      * assert (expected collisions ~n^2/2^65 — fine to ~10^9 docs, and the
      * assert turns a silent merge into a loud failure). `true`: dense ids
      * from a range-partitioned global rank of url — collision-free at any
      * scale (use at 10^11+ docs). */
    exactIds: Boolean = false,
    /** Suffix-pass LCS score signal (north rule: "longest-common-substring
      * length from the suffix pass"): when true, prefilter survivors also
      * get a normalized longest-common-substring score over their
      * `lcsPrefix`-bounded text prefixes (stride-1 `lcsWindow`-char windows,
      * diagonal-run identity — see [[Scoring.lcsScores]]) and the pair score
      * becomes greatest(jaccard, lcs / min prefix length). Rescues long
      * verbatim containments whose token Jaccard is low.
      *
      * The LCS channel gets its OWN candidates: pairs co-blocked by rare
      * suffix-pass keys ([[Scoring.suffixCoBlockedPairs]] — the same
      * `suffixWidth`/`suffixEvery` keys the blocking stage emits, df-capped
      * at `hotKeyAbsCap`) enter it DIRECTLY, in union with the prefilter
      * survivors. A 25%-containment pair sits far outside the default
      * `scoreMaxHamming`=16 radius, and still scores under the DEFAULT
      * radius — no global prefilter widening needed. */
    scoreLcs: Boolean = false,
    lcsWindow: Int = 6,
    /** Per-doc window-extraction bound: LCS work per doc is O(lcsPrefix)
      * regardless of document length (the same O(1)-per-doc bound as the
      * blocking stage's sampled suffix keys). */
    lcsPrefix: Int = 256) {
  require(numHashes % bands == 0, "numHashes must be divisible by bands")
  def rows: Int = numHashes / bands

  def toJson: String =
    s"""{"version":$version,"shingleK":$shingleK,"numHashes":$numHashes,"bands":$bands,""" +
      s""""seed":$seed,"threshold":$threshold,"minScore":$minScore,"scoreMaxHamming":$scoreMaxHamming,"hotKeyMin":$hotKeyMin,"hotKeyFrac":$hotKeyFrac,"hotKeyAbsCap":$hotKeyAbsCap,""" +
      s""""maxComponents":$maxComponents,"useSimHash":$useSimHash,"useSuffix":$useSuffix,"suffixWidth":$suffixWidth,""" +
      s""""suffixEvery":$suffixEvery,"useExact":$useExact,"exactIds":$exactIds,""" +
      s""""scoreLcs":$scoreLcs,"lcsWindow":$lcsWindow,"lcsPrefix":$lcsPrefix}"""
}
