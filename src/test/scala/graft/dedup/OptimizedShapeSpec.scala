package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.data.WebText
import graft.expr.{functions => gf}

/** Focused equivalence tests for the round-6 optimized operator internals:
  * every reshaped path must produce the exact rows of the shape it replaced
  * (the catalog oracle checks end results; these pin the internals).
  */
class OptimizedShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def det(i: Long): Long = graft.texthash.TextHash.mix64(i)

  // ---------------------------------------------------------------- kernels

  test("LcsLen kernel == brute-force longest common substring (incl. unicode)") {
    def brute(a: String, b: String): Int = {
      val ca = a.codePoints().toArray; val cb = b.codePoints().toArray
      var best = 0
      for (i <- ca.indices; j <- cb.indices) {
        var k = 0
        while (i + k < ca.length && j + k < cb.length && ca(i + k) == cb(j + k)) k += 1
        best = math.max(best, k)
      }
      best
    }
    // whole code points only (a split surrogate pair is not a valid string
    // and Spark's UTF-8 round-trip would rewrite it)
    val alpha = Seq("a", "b", "c", "é", "≤", "😀", "x")
    val rnd = new scala.util.Random(42)
    val cases = Seq(("", ""), ("a", ""), ("abc", "abc"), ("abcdef", "xxcdexx")) ++
      (1 to 200).map { _ =>
        def s() = (0 until rnd.nextInt(20)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
        (s(), s())
      }
    for ((a, b) <- cases) {
      val got = Seq((a, b)).toDF("a", "b")
        .select(gf.lcs_len(col("a"), col("b"))).as[Long].head()
      assert(got == brute(a, b).toLong, s"lcs('$a','$b')")
    }
  }

  test("DotI64/Norm2I64/DistSqI64 == the HOF forms, including length-mismatch nulls") {
    val rows = Seq(
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),
      (Array.empty[Long], Array.empty[Long]),
      (Array(7L), Array(8L, 9L)), // mismatch -> HOF null-pads -> NULL
      (Array(-5L, 1000000L), Array(3L, -2L))
    ).toDF("a", "b")
    val got = rows.select(
      gf.dot_i64(col("a"), col("b")).as("dot"),
      gf.dist_sq_i64(col("a"), col("b")).as("d2"),
      gf.norm2_i64(col("a")).as("n2"))
    val want = rows.select(
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("dot"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)").as("d2"),
      expr("aggregate(a, 0L, (acc, x) -> acc + x * x)").as("n2"))
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  // --------------------------------------- blocking: prefilter inside the join

  test("in-join SimHash prefilter == separate prefilter joins (pair set identical)") {
    val cfg = DedupConfig()
    val pages = WebText.synthetic(spark, 300).toDF()
    val normalized = pages.select($"url", xxhash64($"url").as("nid"),
      gf.normalize_text($"text").as("text"))
    val sigs = Blocking.signatures(
      normalized.filter($"text".isNotNull).select($"nid", $"text"), cfg, idCol = "nid")
      .cache()
    val n = sigs.count()

    // old shape: plain candidate pairs, then fingerprint joins + hamming filter
    val plainKeys = Blocking.blockKeys(sigs, cfg, idCol = "nid")
    val plainPairs = Blocking.candidatePairs(plainKeys, n, cfg, idCol = "nid", dedup = false).pairs
    val fp = sigs.select($"nid".as("sid"), $"simhash")
    val expected = plainPairs
      .join(fp.withColumnRenamed("sid", "a").withColumnRenamed("simhash", "h_a"), Seq("a"))
      .join(fp.withColumnRenamed("sid", "b").withColumnRenamed("simhash", "h_b"), Seq("b"))
      .filter(gf.hamming64($"h_a", $"h_b") <= cfg.scoreMaxHamming)
      .select($"a", $"b").distinct().as[(Long, Long)].collect().toSet

    // new shape: fp carried on the key rows, hamming filtered in the join
    val fpKeys = Blocking.blockKeys(sigs, cfg, idCol = "nid", carryFp = true)
    val got = Blocking.candidatePairs(fpKeys, n, cfg, idCol = "nid", dedup = false,
      maxHamming = cfg.scoreMaxHamming).pairs
      .distinct().as[(Long, Long)].collect().toSet

    assert(got == expected)
    assert(got.nonEmpty)
    sigs.unpersist()
  }

  test("blockKeys over pre-folded bkeys == blockKeys over sig (key rows identical)") {
    val cfg = DedupConfig()
    val pages = WebText.synthetic(spark, 250).toDF()
    val sigs = Blocking.signatures(
      pages.select($"url", xxhash64($"url").as("nid"), gf.normalize_text($"text").as("text"))
        .filter($"text".isNotNull).select($"nid", $"text"), cfg, idCol = "nid")
      .cache()
    val folded = sigs.withColumn("bkeys", gf.band_keys($"sig", cfg.bands)).drop("sig")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"key", $"nid", $"fp").as[(Long, Long, Long)].collect().sorted.toSeq
    val viaSig = canon(Blocking.blockKeys(sigs, cfg, idCol = "nid", carryFp = true))
    val viaBkeys = canon(Blocking.blockKeys(folded, cfg, idCol = "nid", carryFp = true))
    assert(viaSig == viaBkeys)
    assert(viaSig.nonEmpty)
    sigs.unpersist()
  }

  test("candidatePairs caches are released by cleanup()") {
    val cfg = DedupConfig()
    val pages = WebText.synthetic(spark, 200).toDF()
    val sigs = Blocking.signatures(
      pages.select($"url", xxhash64($"url").as("nid"), gf.normalize_text($"text").as("text"))
        .filter($"text".isNotNull).select($"nid", $"text"), cfg, idCol = "nid").cache()
    val n = sigs.count() // materialize the sig cache before sampling the baseline
    val before = spark.sparkContext.getPersistentRDDs.size
    val res = Blocking.candidatePairs(
      Blocking.blockKeys(sigs, cfg, idCol = "nid", carryFp = true),
      n, cfg, idCol = "nid", dedup = false, maxHamming = cfg.scoreMaxHamming)
    res.pairs.count() // materializes the counts + kept caches
    assert(spark.sparkContext.getPersistentRDDs.size >= before + 2)
    res.cleanup()
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
    sigs.unpersist()
  }

  // ------------------------------------------------- cluster tail equivalence

  test("completeAndLabel == driver-side reference (row-for-row)") {
    val cfg = DedupConfig()
    val pages = WebText.synthetic(spark, 400).toDF()
    val clusters = Pipeline.run(spark, pages, cfg) // exercises completeAndLabel
    // the same clustered rows, from the stage calls Pipeline.run makes
    val normalized = pages.select($"url", xxhash64($"url").as("nid"))
    val sigs = Blocking.signatures(
      pages.select($"url", xxhash64($"url").as("nid"), gf.normalize_text($"text").as("text"))
        .filter($"text".isNotNull).select($"nid", $"text"), cfg, idCol = "nid").cache()
    val n = sigs.count()
    val keys = Blocking.blockKeys(sigs, cfg, idCol = "nid", carryFp = true)
    val pairs = Blocking.candidatePairs(keys, n, cfg, idCol = "nid", dedup = false,
      maxHamming = cfg.scoreMaxHamming).pairs
    val scored = Scoring.scorePairs(pairs, sigs, idCol = "nid",
      minScore = cfg.minScore, maxHamming = 64, dedupePairs = true)
    val labeled = ConnectedComponents.withRefilter(scored, cfg.maxComponents)
    val clustered = ClusterStage.clusterComponents(labeled, cfg.threshold, cfg.maxComponents)
      .collect().map(r => r.nid -> r).toMap
    // reference on the driver: a missing nid is its own cluster with
    // confidence 1.0, and a cluster is named by its smallest member url
    val byNid = normalized.as[(String, Long)].collect().map { case (url, nid) =>
      clustered.get(nid).fold((url, nid, 1.0))(r => (url, r.cluster_nid, r.confidence))
    }
    val name = byNid.groupBy(_._2).map { case (c, ms) => c -> ms.map(_._1).min }
    val reference = byNid.map { case (url, c, conf) => (url, name(c), conf) }.toSeq
      .toDF("url", "cluster_id", "confidence")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"url", $"cluster_id", round($"confidence", 9).as("c"))
        .as[(String, String, Double)].collect().sorted.toSeq
    assert(clustered.nonEmpty && clustered.size < byNid.length,
      "fixture must have both clustered and singleton pages")
    assert(canon(clusters) == canon(reference))
    sigs.unpersist()
  }

  test("clusterComponents: driver-local fast path == distributed path") {
    // deterministic labeled edges in several components
    val edges = (0L until 60L).flatMap { c =>
      val base = c * 10
      Seq((base, base + 1, 0.8f + (c % 3) * 0.05f, base),
        (base + 1, base + 2, 0.6f, base),
        (base, base + 2, 0.9f, base))
    }
    val localDf = edges.toDF("a", "b", "score", "comp") // LocalRelation -> fast path
    val distDf = localDf.repartition(7)                 // exchange -> distributed path
    def canon(ds: org.apache.spark.sql.Dataset[ClusterStage.ClusterRow]) =
      ds.collect().map(r => (r.nid, r.cluster_nid, math.rint(r.confidence * 1e9))).sorted.toSeq
    val local = canon(ClusterStage.clusterComponents(localDf, 0.5))
    val dist = canon(ClusterStage.clusterComponents(distDf, 0.5))
    assert(local == dist)
    assert(local.nonEmpty)
  }

  // --------------------------------------------------- flagship LCS channel

  test("Scoring.lcsScores kernel shape: containment scores and normalization hold") {
    val base = (0 until 60).map(i => s"w${det(i) % 997}").mkString(" ")
    val texts = Seq(
      (1L, base),
      (2L, "zzz qqq " + base.substring(0, 80) + " extra tail words here"),
      (3L, "completely different content with no overlap at all dissimilar")
    ).toDF("nid", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    // pair (1,2): an 80-char verbatim containment -> high normalized score
    val rows = Scoring.lcsScores(pairs, texts, "nid", w = 6, prefix = 256)
      .as[(Long, Long, Double)].collect().toList
    assert(rows.exists { case (a, b, s) => a == 1L && b == 2L && s > 0.5 },
      s"containment not scored: $rows")
    // pair (1,3): no 6-char common substring -> no row
    assert(!rows.exists { case (a, b, _) => a == 1L && b == 3L }, s"$rows")
  }
}
