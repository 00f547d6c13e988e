package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.cluster.LocalClustering
import graft.data.WebText
import graft.dedup._
import graft.texthash.TextHash

/**
 * The `webtext` workload: `Pipeline.run` on seeded pages, one run at a time
 * (closed loop, `local[4]`), each written to a noop sink so that every
 * output column is computed. The traced run calls the stages one by one in
 * `Pipeline.run`'s order and must produce the same output.
 */
final class PipelineBench(spark: SparkSession, meter: Meter, report: Report,
                          expected: Expected, args: Main.Args) {
  import spark.implicits._

  private val cfg = DedupConfig()
  private val SetupRounds = 3
  /** Untimed runs before the timed loop; the last one's output is collected
    * and checked. The first run takes about four times as long as a warm
    * one, and wall time keeps falling over the next four or five as the
    * JIT compiles the query planning code. */
  private val WarmupRuns = 6

  /** The seeded input, materialized as a local checkpoint, with its row
    * count and digest. */
  private def materialize(): (DataFrame, Long, String) = {
    val df = Workloads.webtext(spark, args.seed).localCheckpoint(eager = true)
    val (rows, dig) = Workloads.digest(df)
    (df, rows, dig)
  }

  def run(): Unit = {
    var truth: Set[(String, String)] = null
    var reference: (Long, String) = null
    val input = Main.setup(spark, report, SetupRounds)(materialize()) {
      case (df, rows, dig) =>
        expected.check(report, "inputs", s"webtext/${args.seed}", rows, Some(dig))
        truth = WebText.truePairs(df).as[(String, String)].collect().toSet
        val before = Main.persistentIds(spark)
        val t0 = System.nanoTime()
        for (i <- 1 until WarmupRuns) {
          Pipeline.run(spark, df.select("url", "text"), cfg).write.format("noop").mode("overwrite").save()
          Main.releaseLeaks(spark, before)
          Main.log(s"warm-up run #$i")
        }
        val obs = Observation("warmup")
        val out = Workloads.observed(Pipeline.run(spark, df.select("url", "text"), cfg), obs).collect()
        val warm = (System.nanoTime() - t0) / 1e9
        Main.releaseLeaks(spark, before)
        reference = Workloads.digestOf(obs)
        checkOutput(df, rows, out, truth)
        warm
    }
    val pages = input._1.select("url", "text")
    val baseline = Main.persistentIds(spark)

    // timed closed loop
    val costs = scala.collection.mutable.ArrayBuffer.empty[Cost]
    val leaks = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < args.seconds) {
      report.attempt(s"Pipeline.run #$i") {
        val obs = Observation(s"timed-$i")
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val (_, cost) = meter.span(s"timed-$i") {
          Workloads.observed(Pipeline.run(spark, pages, cfg), obs)
            .write.format("noop").mode("overwrite").save()
        }
        report.check(Workloads.digestOf(obs) == reference, s"run #$i output differs from the checked warm-up output")
        costs += cost
        Main.log(f"timed run #$i: ${cost.wallS}%.3f s, cpu ${cost.cpuS}%.3f s, gc ${cost.gcS}%.3f s, codegen compiles ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled}")
      }
      leaks += Main.releaseLeaks(spark, baseline)
      i += 1
    }
    report.check(costs.nonEmpty, "no successful timed run")
    report.metric("wall_s", Report.median(costs.map(_.wallS).toSeq), "s")
    report.metric("cpu_s", Report.median(costs.map(_.cpuS).toSeq), "s")
    report.metric("shuffle_mb", Report.median(costs.map(_.shuffleMb).toSeq), "MB")
    report.metric("peak_cache_mb", Report.median(costs.map(_.peakCacheMb).toSeq), "MB")
    report.metric("dedup.leaked_caches", Report.median(leaks.map(_._1.toDouble).toSeq), "count")
    report.metric("dedup.leaked_cache_mb", Report.median(leaks.map(_._2).toSeq), "MB")

    if (args.trace) traced(pages, reference, Report.median(costs.map(_.wallS).toSeq))
  }

  /** Every input url exactly once; dup-pair quality against the entity
    * ground truth. */
  private def checkOutput(input: DataFrame, rows: Long, out: Array[Row],
                          truth: Set[(String, String)]): Unit = {
    val urls = out.map(_.getString(0))
    val inputUrls = input.select("url").as[String].collect().toSet
    report.check(urls.length == rows && urls.toSet == inputUrls,
      s"output has ${urls.length} rows / ${urls.toSet.size} urls for $rows input urls")
    PipelineBench.pairQuality(report, out, truth)
  }

  /** Per-stage run: each public stage call under its own job group, its
    * output materialized at the boundary. */
  private def traced(pages: DataFrame, reference: (Long, String), untracedWall: Double): Unit = {
    val before = Main.persistentIds(spark)
    val kept = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Dataset[_]]
    def keep(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      kept += p
      (p, p.count())
    }
    val stages = scala.collection.mutable.LinkedHashMap.empty[String, Cost]
    def stage[A](name: String)(body: => A): A = {
      val (a, c) = meter.span(s"dedup.$name")(body)
      stages(name) = c
      a
    }
    def funnel[A](body: => A): A = meter.span("funnel")(body)._1

    val inJoin = cfg.useSimHash && cfg.scoreMaxHamming < 64
    val (normalized, nPages) = stage("normalize") {
      val n = keep(pages.select($"url", xxhash64($"url").as("nid"),
        graft.expr.functions.normalize_text($"text").as("text")))
      val collisions = n._1.groupBy($"nid").agg(min($"url").as("u1"), max($"url").as("u2"))
        .filter($"u1" =!= $"u2").count()
      report.check(collisions == 0, s"$collisions record-id collisions")
      n
    }
    val (sigs, nDocs) = stage("signatures") {
      keep(Blocking.signatures(normalized.filter($"text".isNotNull).select($"nid", $"text"), cfg, idCol = "nid")
        .withColumn("bkeys", graft.expr.functions.band_keys($"sig", cfg.bands))
        .drop("sig")
        .repartition($"nid"))
    }
    val (blocking, keys, (pairs, candidates)) = stage("pairs") {
      val keys = Blocking.blockKeys(sigs, cfg, idCol = "nid", carryFp = inJoin)
      val res = Blocking.candidatePairs(keys, nDocs, cfg, idCol = "nid", dedup = false,
        maxHamming = if (inJoin) cfg.scoreMaxHamming else 64)
      (res, keys, keep(res.pairs))
    }
    val (keyRows, hotDropped, survivors) =
      funnel((keys.count(), blocking.hotKeysDropped, pairs.select("a", "b").distinct().count()))
    val (scored, nScored) = stage("scored") {
      keep(Scoring.scorePairs(pairs, sigs, idCol = "nid", minScore = cfg.minScore,
        maxHamming = if (inJoin) 64 else cfg.scoreMaxHamming, dedupePairs = true,
        scoreLcs = cfg.scoreLcs, lcsWindow = cfg.lcsWindow, lcsPrefix = cfg.lcsPrefix,
        suffixWidth = cfg.suffixWidth, suffixEvery = cfg.suffixEvery,
        seed = cfg.seed, lcsDfCap = cfg.hotKeyAbsCap))
    }
    val labeled = stage("components") {
      val l = ConnectedComponents.withRefilter(scored, cfg.maxComponents)
      l.count()
      l
    }
    blocking.cleanup()
    val local = nScored <= ConnectedComponents.LocalEdgeThreshold
    val (clustered, nClustered) = stage("cluster") {
      val c = ClusterStage.clusterComponents(labeled, cfg.threshold, cfg.maxComponents)
        .persist(StorageLevel.MEMORY_AND_DISK)
      kept += c
      (c, c.count())
    }
    val obs = Observation("traced")
    stage("label") {
      val out = ClusterStage.completeAndLabel(normalized.select($"nid", $"url"), clustered)
      Workloads.observed(out, obs).write.format("noop").mode("overwrite").save()
    }
    report.check(Workloads.digestOf(obs) == reference, "traced stage-by-stage output differs from Pipeline.run")
    val tracedWall = stages.values.map(_.wallS).sum

    val edges = funnel(labeled.select($"a", $"b", $"score".cast("double"), $"comp")
      .as[(Long, Long, Double, Long)].collect())
    val nComponents = edges.map(_._4).distinct.length
    val nClusters = funnel(clustered.select($"cluster_nid").distinct().count())
    report.check(local, s"$nScored scored edges: expected the driver-local components path")

    for ((name, c) <- stages) {
      report.metric(s"dedup.$name.wall_s", c.wallS, "s")
      report.metric(s"dedup.$name.cpu_s", c.cpuS, "s")
      report.metric(s"dedup.$name.shuffle_mb", c.shuffleMb, "MB")
      report.metric(s"dedup.$name.spill_mb", c.spillMb, "MB")
      report.metric(s"dedup.$name.gc_s", c.gcS, "s")
      report.metric(s"dedup.$name.jobs", c.jobs.toDouble, "count")
    }
    report.metric("dedup.key_rows", keyRows.toDouble, "count")
    report.metric("dedup.hot_keys_dropped", hotDropped.toDouble, "count")
    report.metric("dedup.candidate_pairs", candidates.toDouble, "count")
    report.metric("dedup.survivor_pairs", survivors.toDouble, "count")
    report.metric("dedup.scored_edges", nScored.toDouble, "count")
    report.metric("dedup.components", nComponents.toDouble, "count")
    report.metric("dedup.clusters", nClusters.toDouble, "count")
    report.metric("dedup.singletons", (nPages - nClustered).toDouble, "count")
    report.metric("dedup.pair_emissions_per_survivor", candidates.toDouble / math.max(1L, survivors), "ratio")
    report.metric("dedup.verify_yield", nScored.toDouble / math.max(1L, survivors), "ratio")
    report.metric("trace.overhead_s", tracedWall - untracedWall, "s")

    kernels(pages, normalized, scored, edges)
    CatalogBench.layerMetrics.foreach { case (name, unit) => report.metric(name, 0.0, unit) }
    kept.foreach(_.unpersist(blocking = true))
    Main.releaseLeaks(spark, before)
  }

  /** Single-thread kernel costs on this workload's own texts and pairs. */
  private def kernels(pages: DataFrame, normalized: DataFrame, scored: DataFrame,
                      edges: Array[(Long, Long, Double, Long)]): Unit = {
    val raw = pages.select("text").as[String].collect()
    val norm = raw.map(TextHash.normalizeText)
    val shingles = norm.map(TextHash.shingleHashes(_, cfg.shingleK, cfg.seed))
    val byNid = normalized.join(scored.select($"a".as("nid")).union(scored.select($"b".as("nid"))).distinct(), "nid")
      .select($"nid", $"text").as[(Long, String)].collect()
      .map { case (n, t) => n -> TextHash.shingleHashes(t, cfg.shingleK, cfg.seed) }.toMap
    val pairs = scored.select($"a", $"b").as[(Long, Long)].collect().map { case (a, b) => (byNid(a), byNid(b)) }

    report.metric("texthash.normalize_ns_per_doc", Kernel.nsPerItem(raw)(TextHash.normalizeText(_).length.toLong), "ns")
    report.metric("texthash.shingles_ns_per_doc",
      Kernel.nsPerItem(norm)(TextHash.shingleHashes(_, cfg.shingleK, cfg.seed).length.toLong), "ns")
    report.metric("texthash.minhash_ns_per_doc",
      Kernel.nsPerItem(shingles)(TextHash.minhashSignature(_, cfg.numHashes, cfg.seed)(0)), "ns")
    report.metric("texthash.simhash_ns_per_doc", Kernel.nsPerItem(norm)(TextHash.simhashText(_, cfg.seed)), "ns")
    report.metric("texthash.suffix_keys_ns_per_doc",
      Kernel.nsPerItem(norm)(TextHash.suffixKeys(_, cfg.suffixWidth, cfg.suffixEvery, cfg.seed).length.toLong), "ns")
    report.metric("texthash.jaccard_ns_per_pair",
      Kernel.nsPerItem(pairs) { case (x, y) => (TextHash.jaccardSorted(x, y) * 1e6).toLong }, "ns")

    val components = edges.groupBy(_._4).values
      .map(_.toSeq.map { case (a, b, s, _) => LocalClustering.Edge(a, b, s) }).toArray
    report.metric("cluster.linkage_us_per_component",
      Kernel.nsPerItem(components)(LocalClustering.clusterComponent(_, cfg.threshold).length.toLong) / 1e3, "us")
  }
}

object PipelineBench {
  /** Dup-pair recall and precision of (url, cluster_id) rows against true
    * (a, b) url pairs; `gated` applies the `DedupPipelineSpec` floors. */
  def pairQuality(report: Report, out: Array[Row], truth: Set[(String, String)],
                  gated: Boolean = true): Unit = {
    val found = out.groupBy(_.getString(1)).valuesIterator.flatMap { members =>
      val us = members.map(_.getString(0)).sorted
      for (i <- us.indices.iterator; j <- (i + 1 until us.length).iterator) yield (us(i), us(j))
    }.toSet
    val tp = found.count(truth.contains)
    val recall = if (truth.isEmpty) 1.0 else tp.toDouble / truth.size
    val precision = if (found.isEmpty) 1.0 else tp.toDouble / found.size
    report.metric("pair_recall", recall, "share")
    report.metric("pair_precision", precision, "share")
    report.check(!gated || recall >= 0.99, s"pair_recall $recall < 0.99")
    report.check(!gated || precision >= 0.95, s"pair_precision $precision < 0.95")
  }

  val Stages: Seq[String] = Seq("normalize", "signatures", "pairs", "scored", "components", "cluster", "label")

  /** Every per-layer metric a traced pipeline run reports, with its unit. */
  def layerMetrics: Seq[(String, String)] =
    Seq("normalize", "shingles", "minhash", "simhash", "suffix_keys").map(k => s"texthash.${k}_ns_per_doc" -> "ns") ++
      Seq("texthash.jaccard_ns_per_pair" -> "ns", "cluster.linkage_us_per_component" -> "us") ++
      Stages.flatMap(s => Seq(s"dedup.$s.wall_s" -> "s", s"dedup.$s.cpu_s" -> "s", s"dedup.$s.shuffle_mb" -> "MB",
        s"dedup.$s.spill_mb" -> "MB", s"dedup.$s.gc_s" -> "s", s"dedup.$s.jobs" -> "count")) ++
      Seq("key_rows", "hot_keys_dropped", "candidate_pairs", "survivor_pairs", "scored_edges",
        "components", "clusters", "singletons").map(f => s"dedup.$f" -> "count") ++
      Seq("dedup.pair_emissions_per_survivor" -> "ratio", "dedup.verify_yield" -> "ratio",
        "dedup.leaked_caches" -> "count", "dedup.leaked_cache_mb" -> "MB")
}

/** Single-thread timing of a kernel over a fixed sample. */
object Kernel {
  /** Median ns per item over passes of the whole sample, after one warm-up
    * pass; passes repeat until 0.2 s have been measured. The result of every
    * call feeds a sink so the call cannot be elided. */
  def nsPerItem[T](items: Array[T])(f: T => Long): Double = {
    if (items.isEmpty) return 0.0
    var sink = 0L
    def pass(): Long = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < items.length) { sink ^= f(items(i)); i += 1 }
      System.nanoTime() - t0
    }
    pass()
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var total = 0L
    while (total < 200000000L || times.length < 3) {
      val t = pass(); total += t; times += t.toDouble / items.length
    }
    if (sink == 42L) Console.err.print("")
    Report.median(times.toSeq)
  }
}
