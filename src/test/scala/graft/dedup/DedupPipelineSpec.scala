package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.cluster.LocalClustering
import graft.cluster.LocalClustering.Edge
import graft.data.WebText

/** End-to-end pipeline correctness (FIXTURES.md F5/F6): singleton
  * completeness, determinism under parallelism, recall vs ground truth,
  * cluster-equivalence vs the in-JVM reference-semantics oracle, resume. */
class DedupPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cfg = DedupConfig()
  private lazy val pages = WebText.synthetic(spark, 300).toDF().cache()
  private lazy val clusters = Pipeline.run(spark, pages, cfg).cache()

  test("every input url appears in exactly one output cluster (api.py:209-218)") {
    val n = pages.count()
    assert(clusters.count() == n)
    assert(clusters.select("url").distinct().count() == n)
  }

  test("dup-pair recall >= 0.99 and precision >= 0.95 vs entity ground truth (common.py:64-81)") {
    val truth = WebText.truePairs(pages.toDF()).cache()
    val predicted = clusters.select($"url".as("a"), $"cluster_id").as("x")
      .join(clusters.select($"url".as("b"), $"cluster_id").as("y"), "cluster_id")
      .filter($"a" < $"b")
      .select($"a", $"b").cache()
    val nTrue = truth.count().toDouble
    val nPred = predicted.count().toDouble
    val tp = predicted.join(truth, Seq("a", "b"), "left_semi").count().toDouble
    val recall = tp / nTrue
    val precision = if (nPred == 0) 1.0 else tp / nPred
    info(f"recall=$recall%.4f precision=$precision%.4f true=${nTrue.toLong} pred=${nPred.toLong}")
    assert(recall >= 0.99, f"recall $recall%.4f below gate")
    assert(precision >= 0.95, f"precision $precision%.4f below gate")
  }

  test("cluster equivalence vs in-JVM reference-semantics oracle at same config") {
    // same scored edges -> distributed CC + flatMapGroups clustering must
    // produce the same partition as the local reference-semantics oracle
    val normalized = pages.select($"url", graft.expr.functions.normalize_text($"text").as("text"))
      .filter($"text".isNotNull)
    val sigs = Blocking.signatures(normalized, cfg).cache()
    val keys = Blocking.blockKeys(sigs, cfg)
    val pairs = Blocking.candidatePairs(keys, sigs.count(), cfg).pairs
    val scored = Scoring.scorePairs(pairs, sigs).cache()

    val edges = scored.as[(String, String, Float)].collect()
      .map { case (a, b, s) => Edge(a, b, s.toDouble) }.toSeq
    val oracle = LocalClustering.addSingletons(
      normalized.select("url").as[String].collect().toSeq,
      LocalClustering.cluster(edges, cfg.threshold, cfg.maxComponents))
    val oraclePartition = oracle.map(_.members.toSet).toSet

    val sparkPartition = clusters.groupBy($"cluster_id")
      .agg(collect_set($"url").as("members"))
      .select($"members").as[Seq[String]].collect()
      .map(_.toSet).toSet

    assert(sparkPartition == oraclePartition)
  }

  test("deterministic under parallelism: local repartition does not change clusters") {
    val repartitioned = Pipeline.run(spark, pages.repartition(17), cfg)
    val a = clusters.select($"url", $"cluster_id").as[(String, String)].collect().toMap
    val b = repartitioned.select($"url", $"cluster_id").as[(String, String)].collect().toMap
    assert(a == b)
  }

  test("exactIds mode: dense collision-free ids, identical clusters (Pipeline.exactIdTable)") {
    // dense-id property
    val ids = Pipeline.exactIdTable(spark, pages.select($"url"))
    val n = pages.count()
    assert(ids.count() == n)
    val (mn, mx, distinct) = ids.agg(min($"nid"), max($"nid"), countDistinct($"nid"))
      .as[(Long, Long, Long)].head()
    assert(mn == 0L && mx == n - 1 && distinct == n, s"ids not dense: [$mn,$mx] n=$distinct")
    // rank order follows url order
    val ordered = ids.orderBy($"nid").select($"url").as[String].collect()
    assert(ordered.toSeq == ordered.toSeq.sorted)
    // same cluster partition as the default xxhash-id mode
    val exact = Pipeline.run(spark, pages, cfg.copy(exactIds = true))
      .select($"url", $"cluster_id")
    val canon = (df: org.apache.spark.sql.DataFrame) => df
      .groupBy($"cluster_id").agg(sort_array(collect_list($"url")).as("members"))
      .select($"members").as[Seq[String]].collect().toSet
    assert(canon(exact) == canon(clusters.select($"url", $"cluster_id").toDF()))
  }

  test("scoreLcs rescues a long verbatim containment that token Jaccard drops") {
    // shared 120-char prefix, unrelated 180-char tails: char-shingle Jaccard
    // ~0.2 (< minScore 0.3 -> dropped by the default config), but
    // LCS/prefix = 120/256 ~ 0.47 survives. The simhash prefilter is opened
    // (maxHamming=64): an LCS-rescue config must widen it, since a 25%-
    // containment pair sits far outside the default hamming-16 radius.
    val shared = (1 to 20).map(i => s"common$i").mkString(" ").take(120)
    def tail(seed: String) = (1 to 30).map(i => s"$seed$i").mkString(" ").take(180)
    val fixture = Seq(
      ("u1", shared + " " + tail("alpha")),
      ("u2", shared + " " + tail("omega"))).toDF("url", "text")
    val sigs = Blocking.signatures(
      fixture.select($"url", graft.expr.functions.normalize_text($"text").as("text")), cfg)
    val pairs = Seq(("u1", "u2")).toDF("a", "b")
    val without = Scoring.scorePairs(pairs, sigs, minScore = cfg.minScore, maxHamming = 64)
      .count()
    assert(without == 0L, "fixture must be a sub-threshold Jaccard pair")
    val rescued = Scoring.scorePairs(pairs, sigs, minScore = cfg.minScore, maxHamming = 64,
      scoreLcs = true)
      .select($"score").as[Float].collect()
    assert(rescued.length == 1, "LCS blend must rescue the containment pair")
    assert(rescued.head > 0.4f && rescued.head < 0.6f,
      s"expected lcs/prefix ~0.47, got ${rescued.head}")
  }

  test("scoreLcs + DEFAULT maxHamming: suffix co-blocked containment scores without widening") {
    // the round-4 gap: LCS only scored prefilter SURVIVORS, so a verbatim
    // containment at Hamming > 16 needed a GLOBAL maxHamming widening.
    // Round 5: rare suffix-pass co-blocked pairs feed the LCS channel
    // directly — the same fixture now scores under scoreMaxHamming = 16.
    val shared = (1 to 20).map(i => s"common$i").mkString(" ").take(120)
    def tail(seed: String) = (1 to 30).map(i => s"$seed$i").mkString(" ").take(180)
    val fixture = Seq(
      ("u1", shared + " " + tail("alpha")),
      ("u2", shared + " " + tail("omega"))).toDF("url", "text")
    val sigs = Blocking.signatures(
      fixture.select($"url", graft.expr.functions.normalize_text($"text").as("text")), cfg)
    val fps = sigs.select($"url", $"simhash").as[(String, Long)].collect().toMap
    assert(graft.texthash.TextHash.hamming64(fps("u1"), fps("u2")) > cfg.scoreMaxHamming,
      "fixture must sit OUTSIDE the default prefilter radius")
    // EMPTY candidate stream: the pair's only provenance is the suffix pass
    val noPairs = Seq.empty[(String, String)].toDF("a", "b")
    val rescued = Scoring.scorePairs(noPairs, sigs, minScore = cfg.minScore,
      maxHamming = cfg.scoreMaxHamming, scoreLcs = true)
      .select($"a", $"b", $"score").as[(String, String, Float)].collect()
    assert(rescued.map(r => (r._1, r._2)).toSeq == Seq(("u1", "u2")),
      s"suffix co-blocking must surface exactly the containment pair, got ${rescued.toSeq}")
    assert(rescued.head._3 > 0.4f && rescued.head._3 < 0.6f,
      s"expected lcs/prefix ~0.47, got ${rescued.head._3}")
  }

  test("useSimHash = false: every input url appears exactly once") {
    // every fingerprint is 0 here, so neither prefilter can drop a pair
    val urls = Pipeline.run(spark, pages, cfg.copy(useSimHash = false))
      .select($"url").as[String].collect()
    assert(urls.length == pages.count())
    assert(urls.toSet == pages.select($"url").as[String].collect().toSet)
  }

  test("config.json with the removed simhash fields still resumes") {
    // written by the build that still had simhashBands/simhashMaxHamming,
    // which never changed the pipeline's output
    val old = """{"version":1,"shingleK":5,"numHashes":128,"bands":16,"seed":42,""" +
      """"threshold":0.5,"minScore":0.3,"scoreMaxHamming":16,"hotKeyMin":1000,""" +
      """"hotKeyFrac":0.05,"hotKeyAbsCap":50,"maxComponents":30000,"useSimHash":true,""" +
      """"simhashBands":4,"simhashMaxHamming":3,"useSuffix":true,"suffixWidth":40,""" +
      """"suffixEvery":20,"useExact":true,"exactIds":false,"scoreLcs":false,""" +
      """"lcsWindow":6,"lcsPrefix":256}"""
    assert(DedupConfig.fromJson(old) == DedupConfig())
  }

  test("pipeline under scoreLcs config: recall and singleton completeness hold") {
    val lcsClusters = Pipeline.run(spark, pages, cfg.copy(scoreLcs = true))
    val n = pages.count()
    assert(lcsClusters.count() == n)
    val truth = WebText.truePairs(pages.toDF())
    val predicted = lcsClusters.select($"url".as("a"), $"cluster_id").as("x")
      .join(lcsClusters.select($"url".as("b"), $"cluster_id").as("y"), "cluster_id")
      .filter($"a" < $"b").select($"a", $"b")
    val tp = predicted.join(truth, Seq("a", "b"), "left_semi").count().toDouble
    val recall = tp / truth.count().toDouble
    val precision = if (predicted.count() == 0) 1.0 else tp / predicted.count().toDouble
    info(f"lcs-config recall=$recall%.4f precision=$precision%.4f")
    assert(recall >= 0.99, f"recall $recall%.4f below gate under scoreLcs")
    assert(precision >= 0.95, f"precision $precision%.4f below gate under scoreLcs")
    // settings codec covers the new fields
    assert(DedupConfig.fromJson(cfg.copy(scoreLcs = true, lcsPrefix = 128).toJson) ==
      cfg.copy(scoreLcs = true, lcsPrefix = 128))
  }

  test("over-cap component fails loudly; refilter bounds components below the cap") {
    // a 40-node component with cap 10 would allocate an n^2/2 matrix in one
    // task — the guard must fail with the bound, not OOM
    val big = (0L until 39L).map(i => (i, i + 1, 0.9f, 0L))
      .toDF("a", "b", "score", "comp")
    val e = intercept[Exception] {
      ClusterStage.clusterComponents(big, 0.5, maxComponents = 10).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("maxComponents")), chain(e).mkString(" | "))
    // the refilter at the same cap emits only components the guard accepts
    val scored = (0L until 39L).map(i => (i, i + 1, 0.2f + 0.02f * (i % 20).toFloat))
      .toDF("a", "b", "score")
    val labeled = ConnectedComponents.withRefilter(scored, 10)
    val maxSz = labeled.select($"comp", $"a".as("n"))
      .unionAll(labeled.select($"comp", $"b".as("n")))
      .groupBy($"comp").agg(countDistinct($"n").as("sz"))
      .agg(max($"sz")).as[Long].head()
    assert(maxSz <= 10, s"refiltered component of $maxSz nodes exceeds the cap")
    ClusterStage.clusterComponents(labeled, 0.5, maxComponents = 10).collect() // must not throw
  }

  test("confidences match the reference formula per cluster") {
    // spot-check: all confidences in (0, 1]; singletons exactly 1.0
    val bad = clusters.filter($"confidence" <= 0.0 || $"confidence" > 1.0).count()
    assert(bad == 0)
    val singles = clusters.groupBy($"cluster_id").agg(count(lit(1)).as("n"), max($"confidence").as("c"))
      .filter($"n" === 1 && $"c" =!= 1.0).count()
    assert(singles == 0)
  }

  test("pipeline resumes from per-stage checkpoints (north rule)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val first = Pipeline.run(spark, pages, cfg, Some(dir))
      .select($"url", $"cluster_id").as[(String, String)].collect().toMap
    // all stage checkpoints written
    Seq("normalized", "signatures", "pairs", "scored", "components", "clusters", "metrics")
      .foreach { s =>
        assert(graft.io.TableIO.checkpointExists(spark, s"$dir/$s"), s"missing checkpoint $s")
      }
    // per-partition metrics (north rule: per-partition lineage + metrics):
    // (stage, partition, rows, hot_keys_dropped), per-stage row sums equal
    // to the global metrics table's counts
    val pm = graft.io.TableIO.read(spark, s"$dir/partition_metrics")
    assert(pm.columns.toSeq == Seq("stage", "partition", "rows", "hot_keys_dropped"))
    val pmSums = pm.groupBy($"stage").agg(sum($"rows")).as[(String, Long)].collect().toMap
    val globalRows = graft.io.TableIO.read(spark, s"$dir/metrics")
      .select($"stage", $"rows").as[(String, Long)].collect().toMap
    assert(pmSums == globalRows, s"per-partition sums $pmSums != stage counts $globalRows")
    assert(pm.filter($"stage" === "pairs").select(max($"hot_keys_dropped"))
      .as[Long].head() >= 0L, "pairs stage must carry its hot-key drop count")
    // resume: delete the LAST stage only; rerun must reuse earlier stages and
    // reproduce identical output
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/clusters"), true)
    val resumed = Pipeline.run(spark, pages.limit(0), cfg, Some(dir)) // input ignored where checkpoints exist
      .select($"url", $"cluster_id").as[(String, String)].collect().toMap
    assert(resumed == first)
    // settings read-back (api.py:1036-1067): resuming under a DIFFERENT
    // config must refuse rather than silently mix checkpoint semantics
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, pages, cfg.copy(threshold = 0.9), Some(dir))
    }
    assert(e.getMessage.contains("different config"))
    // round trip of the settings codec itself
    assert(DedupConfig.fromJson(cfg.toJson) == cfg)
    assert(DedupConfig.fromJson(cfg.copy(exactIds = true, seed = 7L).toJson) ==
      cfg.copy(exactIds = true, seed = 7L))
  }
}
