package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TableIO

/**
 * End-to-end near-duplicate detection pipeline — the distributed
 * `Dedupe.partition(data, threshold)` (`api.py:151-195`, SURVEY.md §3.1):
 *
 *   pages → normalize → signatures (select, whole-stage codegen)
 *         → block keys (explode) → hot-key cap → candidate pairs (a<b, distinct)
 *         → scored pairs (Jaccard select, score>0)
 *         → connected components (iterative min-label + pointer jumping,
 *           oversized-component refilter)
 *         → per-component centroid-linkage clusters + confidences
 *         → singleton completion (left-anti + union)
 *
 * Every stage boundary is a [[TableIO]] checkpoint: a rerun with the same
 * `workDir` resumes after the last completed stage (north rule:
 * resumable-from-checkpoint). Per-stage row counts + per-partition metrics
 * land in `workDir/metrics` (north rule: lineage + metrics tables).
 */
object Pipeline {

  final case class StageMetrics(stage: String, rows: Long, partitions: Int, hotKeysDropped: Long = -1L)

  /** Dense 0-based global rank of `idCol` (distinct values) as `outCol` —
    * the scalable dense-id assignment: range partitioning orders the
    * partitions, the rank window is partition-LOCAL (never a single-task
    * global sort), and per-partition offsets come from a prefix sum over the
    * tiny per-partition count table (a triangular self-join on partition id,
    * O(partitions²) rows — no no-partition WindowExec anywhere in the plan).
    * Deterministic for a given value set regardless of input partitioning,
    * because rank-in-global-order is. */
  def denseRank(ids: DataFrame, idCol: String, outCol: String): DataFrame = {
    val id = col(idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(id)
    val withPos = ids.select(id).distinct()
      .repartitionByRange(id)
      .sortWithinPartitions(id)
      .withColumn("pid", spark_partition_id())
      .withColumn("pos", row_number().over(w))
    val cnts = withPos.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
    val offsets = cnts.select(col("pid"), col("cnt"))
      .join(cnts.select(col("pid").as("pid2"), col("cnt").as("cnt2")),
        col("pid2") < col("pid"), "left")
      .groupBy(col("pid")).agg(coalesce(sum(col("cnt2")), lit(0L)).as("offset"))
    withPos.join(broadcast(offsets), Seq("pid"))
      .select(id, (col("offset") + col("pos") - 1).as(outCol))
  }

  /** Collision-free dense record ids: nid = global rank of url (see
    * [[denseRank]]). */
  def exactIdTable(spark: SparkSession, urls: DataFrame): DataFrame =
    denseRank(urls, "url", "nid")

  /**
   * Run (or resume) the full pipeline.
   * @param pages input with (url: string, text: string) — raw text; the
   *              pipeline applies reference-parity normalization itself
   * @param workDir checkpoint root (absent → computed fresh end to end)
   */
  def run(spark: SparkSession, pages: DataFrame, cfg: DedupConfig,
          workDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    val metrics = scala.collection.mutable.ArrayBuffer.empty[StageMetrics]

    // settings read-back (api.py:1036-1067): resuming over checkpoints that
    // were produced under a DIFFERENT config would silently mix semantics —
    // refuse instead
    workDir.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir, "config.json")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        val in = fs.open(p)
        val prev = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        require(DedupConfig.fromJson(prev) == cfg,
          s"workDir $dir holds checkpoints for a different config; " +
            "use a fresh workDir or the original config. " +
            s"stored=$prev current=${cfg.toJson}")
      } else {
        // written BEFORE any stage so a crash-resume is covered too
        val out = fs.create(p, true)
        out.write(cfg.toJson.getBytes("UTF-8")); out.close()
      }
    }

    def stage(name: String)(df: => DataFrame): DataFrame = {
      val out = workDir match {
        case Some(dir) => TableIO.checkpoint(spark, s"$dir/$name")(df)
        case None => df
      }
      out
    }

    // per-partition row counts per stage (north rule: per-partition lineage
    // + metrics). Built as lazy plans over the stage CHECKPOINTS and written
    // in one job at the end — a cheap parquet re-scan, no extra shuffles.
    val partMetrics = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def record(name: String, df: DataFrame, hot: Long = -1L): Unit =
      if (workDir.isDefined) {
        metrics += StageMetrics(name, df.count(), df.rdd.getNumPartitions, hot)
        partMetrics += df
          .groupBy(spark_partition_id().as("partition"))
          .agg(count(lit(1)).as("rows"))
          .select(lit(name).as("stage"), $"partition", $"rows",
            lit(hot).as("hot_keys_dropped"))
      }

    // 1. normalize (byte-identical text per url — north-rule invariant) and
    // assign the compact 64-bit record id used through the shuffle-heavy
    // middle of the pipeline (pairs/scoring/CC move ~100x more rows than
    // docs; 16-byte pairs instead of double urls). Two modes
    // ([[DedupConfig.exactIds]]): xxhash64(url) guarded by an active
    // collision assert (below), or collision-free dense ids via
    // [[exactIdTable]] for 10^11+-doc runs.
    // Null-text pages are KEPT: like a reference record whose field is None
    // they emit no block keys (predicates.py:90-95) but still surface as
    // singleton clusters (api.py:209-218).
    val normalized = stage("normalized") {
      if (cfg.exactIds) {
        val base = pages.select($"url", graft.expr.functions.normalize_text($"text").as("text"))
        base.join(exactIdTable(spark, base.select($"url")), Seq("url"))
          .select($"url", $"nid", $"text")
      } else
        pages.select($"url", xxhash64($"url").as("nid"),
          graft.expr.functions.normalize_text($"text").as("text"))
    }
    // collision guard: a silent xxhash64 merge corrupts clusters; fail
    // loud. A collision == some nid maps to two DISTINCT urls, detected
    // with one ordinary aggregation (min(url) != max(url) per nid) — the
    // r1-r5 double countDistinct needed an Expand over the corpus twice
    // for the same answer (guide §2.3: aggregate cheaper, same result).
    // Launched as a CONCURRENT action (guide §2.6): it reads only `pages`,
    // so its small job back-fills executors while the signature stage
    // materializes below; it is awaited — and its require fails the run —
    // BEFORE any pair state is built or checkpointed.
    val collisionF: Option[scala.concurrent.Future[Long]] =
      if (cfg.exactIds) None
      else Some(scala.concurrent.Future {
        normalized.groupBy($"nid")
          .agg(min($"url").as("u1"), max($"url").as("u2"))
          .filter($"u1" =!= $"u2").count()
      }(scala.concurrent.ExecutionContext.global))

    // 2. signatures (persisted: feeds block keys, doc count and scoring).
    // The 128-long minhash signature is folded into its 16 band keys BEFORE
    // the cache (r6, guide §2.3 narrower types): nothing downstream reads
    // `sig` except the band fold, which the blocking stage would otherwise
    // run twice (counts pass + join pass) over a cached column 8x wider.
    // Cached hash-partitioned on the record id (r6): the scoring stage joins
    // the shingle projection of this cache on each pair side, and AQE does
    // not dedupe those two identical exchanges (see Blocking.candidatePairs)
    // — partitioning the cache itself lets BOTH verify joins read it with
    // the partitioning preserved and plan no shingle exchange at all (the
    // one exchange moves into the cache fill, overlapped with the collision
    // job above). Partition sizes are uniform (one row per record id).
    val sigs = stage("signatures") {
      Blocking.signatures(normalized.filter($"text".isNotNull)
        .select($"nid", $"text"), cfg, idCol = "nid")
        .withColumn("bkeys", graft.expr.functions.band_keys($"sig", cfg.bands))
        .drop("sig")
    }.repartition($"nid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materializes the signature cache (the doc count feeds the hot-key cap)
    // while the collision job above is still in flight
    val nDocs = sigs.count()
    record("signatures", sigs)
    collisionF.foreach { f =>
      val bad = scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration.Inf)
      require(bad == 0,
        s"xxhash64(url) record-id collision ($bad colliding ids); " +
          "rerun with DedupConfig(exactIds = true)")
    }

    // 3. candidate pairs. The SimHash prefilter runs INSIDE the blocking
    // self-join (key rows carry the 8-byte fingerprint) — pairs beyond
    // `scoreMaxHamming` never materialize and the scoring stage skips its
    // two fingerprint joins over the full candidate stream (guide §2.3/§2.4;
    // r6: the two prefilter joins were the single most expensive step of the
    // whole pipeline at sf0.1). Survivor set is IDENTICAL: the filter
    // commutes with the deferred distinct.
    val inJoinPrefilter = cfg.useSimHash && cfg.scoreMaxHamming < 64
    var hotDropped = -1L
    var blocking: Blocking.BlockingResult = null
    val pairs = stage("pairs") {
      val keys = Blocking.blockKeys(sigs, cfg, idCol = "nid",
        carryFp = inJoinPrefilter)
      // distinct deferred to post-prefilter in the scoring stage
      val res = Blocking.candidatePairs(keys, nDocs, cfg, idCol = "nid", dedup = false,
        maxHamming = if (inJoinPrefilter) cfg.scoreMaxHamming else 64)
      // stats are lazy — only pay their driver job when metrics are recorded
      if (workDir.isDefined) hotDropped = res.hotKeysDropped
      blocking = res
      res.pairs
    }
    record("pairs", pairs, hotDropped)

    // 4. scored pairs, with no second prefilter (maxHamming stays 64): the
    // in-join prefilter above already applied `scoreMaxHamming`, and with
    // useSimHash = false every fingerprint is 0, so no pair could fail it
    val scored = stage("scored") {
      Scoring.scorePairs(pairs, sigs, idCol = "nid", minScore = cfg.minScore, dedupePairs = true,
        scoreLcs = cfg.scoreLcs, lcsWindow = cfg.lcsWindow, lcsPrefix = cfg.lcsPrefix,
        suffixWidth = cfg.suffixWidth, suffixEvery = cfg.suffixEvery,
        seed = cfg.seed, lcsDfCap = cfg.hotKeyAbsCap)
    }
    record("scored", scored)

    // 5. connected components (+ oversized refilter)
    val labeled = stage("components") {
      ConnectedComponents.withRefilter(scored, cfg.maxComponents)
    }
    record("components", labeled)
    // the scored edges are materialized (withRefilter checkpoints them, or
    // the workDir path wrote the stage tables) — release the blocking
    // stage's caches (counts + the key-partitioned kept stream); null when
    // a resume skipped the pairs stage
    if (blocking != null) blocking.cleanup()

    // 6. hierarchical clusters + singletons (compact ids), then map back to
    // urls with the lexicographically-smallest-member cluster id
    val clusters = stage("clusters") {
      val clustered = ClusterStage.clusterComponents(labeled, cfg.threshold, cfg.maxComponents)
      // singleton completion + url labeling fused into one left join
      ClusterStage.completeAndLabel(normalized.select($"nid", $"url"), clustered)
    }
    record("clusters", clusters)

    // metrics + lineage tables
    workDir.foreach { dir =>
      TableIO.write(metrics.toSeq.toDF(), s"$dir/metrics")
      // per-partition rows (+ the stage's hot-key drops) for EVERY stage
      if (partMetrics.nonEmpty)
        TableIO.write(partMetrics.reduce(_ unionByName _), s"$dir/partition_metrics")
      // per-partition lineage of the output (north rule)
      TableIO.write(
        clusters.groupBy(spark_partition_id().as("partition"))
          .agg(count(lit(1)).as("rows")),
        s"$dir/lineage_clusters")
      // (config.json already written before stage 1 — see the read-back guard)
    }

    clusters
  }
}
