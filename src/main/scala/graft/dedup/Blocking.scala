package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.expr.{functions => gf}
import graft.texthash.TextHash

/**
 * Blocking stage: pages -> per-doc signatures -> exploded block keys ->
 * hot-key cap -> candidate pairs (a < b, distinct).
 *
 * Reference shape: `Fingerprinter.__call__` emitting `(block_key, record_id)`
 * (`blocking.py:58-115`) into a blocking map, then the self-join
 * `SELECT DISTINCT a.record_id, b.record_id ... USING (block_key) WHERE
 * a.record_id < b.record_id` (`api.py:282-294`). Here the predicate zoo is
 * replaced by stateless LSH band keys + SimHash chunks + sampled suffix keys
 * + a whole-text exact key (SURVEY.md §2.2), and the self-join is realized as
 * a single `groupBy(block_key)` + within-bucket pair generation — one shuffle
 * of the (key, id) tuples instead of a two-sided join, with bucket sizes
 * bounded by the hot-key cap so no task can blow up.
 *
 * Scale notes (north-rule axis A):
 *  - signature computation is per-partition whole-stage codegen (custom
 *    Catalyst expressions, no UDF boundary);
 *  - the hot-key cap is the canopy stop-word rule (`canopy_index.py:25`):
 *    template boilerplate shingles produce mega-buckets; dropping keys with
 *    df > max(1000, 5%·N) both controls skew and mirrors reference recall
 *    semantics. Dropped-key counts are surfaced in [[Metrics]], no silent
 *    truncation;
 *  - keys from different sources (minhash band / simhash chunk / suffix /
 *    exact) are tagged into disjoint keyspaces, mirroring dedupe's
 *    `key + ":" + predicate_index` suffixing (`blocking.py:109`).
 */
object Blocking {

  /** Per-source keyspace tags (folded into the 64-bit key via mix). */
  private val TagMinhash = 0x11L
  private val TagSimhash = 0x22L
  private val TagSuffix = 0x33L
  private val TagExact = 0x44L

  /**
   * Compute per-document signatures. Input must have columns
   * (`idCol`: string, `textCol`: string, already normalized).
   * Output: idCol, shingles (array<long>, sorted distinct), sig (array<long>),
   * simhash (long).
   */
  def signatures(pages: DataFrame, cfg: DedupConfig, idCol: String = "url",
                 textCol: String = "text"): DataFrame = {
    val sh = gf.shingle_hashes(col(textCol), cfg.shingleK, cfg.seed)
    pages
      .select(
        col(idCol),
        col(textCol),
        sh.as("shingles"))
      .withColumn("sig", gf.minhash_sig(col("shingles"), cfg.numHashes, cfg.seed))
      .withColumn("simhash",
        if (cfg.useSimHash) gf.simhash64(col(textCol), cfg.seed) else lit(0L))
  }

  /** Explode all block keys for one signature row: minhash bands, simhash
    * chunks, sampled suffix keys, whole-text exact key — each in its own
    * keyspace. Returns (key: long, id: string) — plus the row's `fpCol`
    * fingerprint when `carryFp` is set, so [[candidatePairs]] can prefilter
    * INSIDE the self-join (guide §2.3/§2.4: ship 8 more bytes per key row
    * instead of two extra joins over the full candidate-pair stream). */
  def blockKeys(sigs: DataFrame, cfg: DedupConfig, idCol: String = "url",
                textCol: String = "text", carryFp: Boolean = false,
                fpCol: String = "simhash"): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val extra = if (carryFp) Seq(col(fpCol).as("fp")) else Nil

    // When the caller pre-folded the signature into band keys (`bkeys`,
    // [[Pipeline]] does this before its cache so 16 longs are stored and
    // re-read instead of the 128-long signature), explode them directly;
    // otherwise fold here. Key values identical either way.
    val minhashKeys = (if (sigs.columns.contains("bkeys"))
      sigs.select(Seq(explode($"bkeys").as("k"), col(idCol)) ++ extra: _*)
    else
      sigs.select(Seq(explode(gf.band_keys($"sig", cfg.bands)).as("k"), col(idCol)) ++ extra: _*))
      .select(Seq(tagged($"k", TagMinhash).as("key"), col(idCol)) ++ extra.map(_ => col("fp")): _*)

    val parts = Seq(minhashKeys) ++
      (if (cfg.useSimHash) {
        // Manku-style multi-block keys (Manku, Jain & Das Sarma, WWW'07):
        // split the 64-bit simhash into 6 blocks and key every 3-block
        // combination (C(6,3) = 20 keys of ~32 bits). Pigeonhole: <= 3
        // flipped bits leave >= 3 blocks intact, so every pair within
        // hamming <= 3 shares a key. Unlike single
        // 16-bit chunks (65k distinct values — inherently mid-frequency on
        // realistic text), 32-bit combo keys keep document frequencies in
        // the long tail, so the pass adds candidates without feeding the
        // stop-word cap.
        val nBlocks = 6
        val sizes = Array(11, 11, 11, 11, 10, 10)
        val offsets = sizes.scanLeft(0)(_ + _)
        def block(i: Int) =
          shiftRightUnsigned($"simhash", offsets(i))
            .bitwiseAND(lit((1L << sizes(i)) - 1))
        val combos = for {
          i <- 0 until nBlocks; j <- (i + 1) until nBlocks; k <- (j + 1) until nBlocks
        } yield (i, j, k)
        val keyExprs = combos.zipWithIndex.map { case ((i, j, k), c) =>
          tagged(xxhash64(block(i), block(j), block(k), lit(c)), TagSimhash)
        }
        Seq(sigs.select(Seq(explode(array(keyExprs: _*)).as("key"), col(idCol)) ++ extra: _*))
      } else Nil) ++
      (if (cfg.useSuffix)
        Seq(sigs.select(Seq(
          explode(gf.suffix_keys(col(textCol), cfg.suffixWidth, cfg.suffixEvery, cfg.seed)).as("k"),
          col(idCol)) ++ extra: _*)
          .select(Seq(tagged($"k", TagSuffix).as("key"), col(idCol)) ++ extra.map(_ => col("fp")): _*))
      else Nil) ++
      (if (cfg.useExact)
        Seq(sigs.select(Seq(tagged(xxhash64(col(textCol)), TagExact).as("key"), col(idCol)) ++ extra: _*))
      else Nil)

    parts.reduce(_ unionAll _)
  }

  /** Fold a source tag into a key so keyspaces never collide. */
  private def tagged(k: org.apache.spark.sql.Column, tag: Long): org.apache.spark.sql.Column =
    xxhash64(k, lit(tag))

  /** Pair stream + hot-key statistics. The stats are LAZY (r6): computing
    * them is a separate driver job over the counts table, and the flagship
    * bench path never reads them (Pipeline records metrics only when a
    * workDir is set) — eager stats taxed every run for a metric nobody
    * consumed. First access runs one small agg over the cached counts.
    *
    * `cleanup()` releases the caches the pair generation holds (the counts
    * table and the key-partitioned kept stream); call it once the pair
    * stream is materialized downstream ([[Pipeline]] and
    * [[graft.learn.TrainedDedupe]] do, after the connected-components
    * stage). Safe to skip for one-shot sessions. */
  final class BlockingResult(val pairs: DataFrame, stats: () => (Long, Long),
                             cached: Seq[DataFrame] = Nil) {
    private lazy val s = stats()
    lazy val hotKeysDropped: Long = s._1
    lazy val totalKeys: Long = s._2
    def cleanup(): Unit = cached.foreach(_.unpersist(blocking = false))
  }

  /** Effective hot-key cap: the canopy stop-word rule max(1000, 5%·N)
    * (`canopy_index.py:25`) bounded by an absolute ceiling so a bucket's
    * within-task pair generation (O(cap²)) stays bounded at any N. */
  def hotKeyCap(nDocs: Long, cfg: DedupConfig): Long =
    math.min(cfg.hotKeyAbsCap, math.max(cfg.hotKeyMin, (cfg.hotKeyFrac * nDocs).toLong))

  /**
   * Candidate pair generation with hot-key capping.
   * Output: (a: string, b: string) with a < b, each unordered pair exactly
   * once across all blocks (invariant `api.py:224-227`).
   *
   * Hot keys are identified from a counts aggregation (map-side partial agg,
   * tiny result) and dropped via a broadcast anti-join BEFORE any member
   * collection — a mega-bucket never materializes anywhere.
   */
  def candidatePairs(keys: DataFrame, nDocs: Long, cfg: DedupConfig,
                     idCol: String = "url", dedup: Boolean = true,
                     maxHamming: Int = 64): BlockingResult = {
    val spark = keys.sparkSession
    import spark.implicits._

    val cap = hotKeyCap(nDocs, cfg)
    val prefilter = maxHamming < 64 && keys.columns.contains("fp")

    // (key, id) tuples are distinct by construction (every source emits
    // distinct keys per doc, sources live in disjoint keyspaces) — the
    // reference needs a unique (record_id, block_key) index (api.py:273-276)
    // only because its predicates can re-emit; no global distinct here.
    // Per-key document frequency: partial-aggregated count, one pass.
    // The persist is LOAD-BEARING beyond the lazy stats(): it truncates the
    // plan under every reference to `hot`, so the anti-join's broadcast
    // build reads ~7M cached (key, df) rows instead of re-inlining the
    // full explode+aggregate subtree into each consumer (removing it was
    // A/B-measured in r6: pairs stage 8.2 s -> 37.3 s — a kept negative
    // result; see OPTIMIZATION_r06.md).
    val counts = keys.groupBy($"key").agg(count(lit(1)).as("df"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def stats(): (Long, Long) = {
      val r = counts.agg(
        sum(when($"df" > cap, 1L).otherwise(0L)).as("hot"),
        count(lit(1)).as("total")).head()
      (r.getLong(0), r.getLong(1))
    }
    val hot = counts.filter($"df" > cap).select($"key")

    // hot keys dropped BEFORE any pair generation (stop-word rule):
    // a mega-bucket never materializes anywhere
    val kept0 = keys.join(broadcast(hot), Seq("key"), "left_anti")
    // ONE key-partitioned, cached copy feeds BOTH self-join sides (r6):
    // AQE in this Spark version does not dedupe a self-join's two
    // identical exchanges (static planning's ReuseExchange does — see
    // OPTIMIZATION_r06.md §12, where the executed pipeline plan showed the
    // kept exchange materialized twice at 315 MiB each), so the join paid
    // the exchange AND the whole kept computation (key explode + anti-join)
    // twice. The cache fills once — its fill holds the single exchange —
    // and both sides read it with the partitioning preserved, so the join
    // plans with no further exchange. Skew-safe, unlike repartitioning the
    // RAW key stream: hot keys are already gone here, so per-key
    // multiplicity is bounded by the cap.
    val kept = kept0.repartition($"key").persist(StorageLevel.MEMORY_AND_DISK)

    // Within-key pair generation as an equi-self-join with `a < b` — stays
    // in whole-stage codegen end to end. (Round 1 used groupBy +
    // collect_set + a typed flatMap; the ObjectHashAggregate's per-bucket
    // array allocation measured ~2x slower than the codegen'd join, and
    // per-key output fan-out is the same either way: bounded by cap²/2,
    // with AQE skew-split available above that.)
    // shuffle_hash: both sides are the SAME ~key-count-sized table (one
    // exchange, reused) — hash-building one side beats sort-merge's two
    // full sorts of the key stream at any scale (guide §3.1).
    // When the key rows carry the 8-byte simhash fingerprint (`fp`), the
    // SimHash prefilter runs INSIDE this join: pairs beyond `maxHamming`
    // never materialize, and the scoring stage skips its two fingerprint
    // joins over the full candidate stream (guide §2.3: shuffle a few bytes
    // of metadata instead of re-deriving them with extra joins).
    val joinCond =
      if (prefilter)
        col("x.key") === col("y.key") && col(s"x.$idCol") < col(s"y.$idCol") &&
          gf.hamming64(col("x.fp"), col("y.fp")) <= maxHamming
      else
        col("x.key") === col("y.key") && col(s"x.$idCol") < col(s"y.$idCol")
    val pairs = kept.as("x")
      .join(kept.as("y").hint("shuffle_hash"), joinCond)
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))

    // `dedup = false` defers the global distinct to Scoring's `dedupePairs`,
    // where it shares the exchange of the first verify join
    new BlockingResult(if (dedup) pairs.distinct() else pairs, () => stats(),
      cached = Seq(counts, kept))
  }
}
