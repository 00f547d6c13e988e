package graft

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main (driver-run): times the flagship near-dup pipeline plus a
 * curated set of catalog operators on `SPARK_GRAFT_SF_DIR`, printing ONE
 * JSON line. The headline metric is end-to-end pipeline seconds; docs/sec is
 * included for BASELINE.md's throughput row.
 */
object Bench {

  // dedup_minhash_lsh / dedup_ngram_jaccard are benchable since round 2:
  // the band-key hot-key cap + simhash prefilter bound their join sizes
  // even on the vocab-30 synthetic corpus.
  private val benchQueries = Seq(
    "q1_agg", "q_join_agg", "q_window_topn", "q_anti_join", "q_sort_limit",
    "pred_token_field", "pred_fingerprint", "pred_common_four_gram",
    "pairs_self_join", "score_jaccard_tokens", "score_cosine_tfidf",
    "score_lcs_suffix", "cluster_cc",
    "dedup_exact", "dedup_minhash_sig", "dedup_simhash16",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_embed_cosine",
    "tfidf_search",
    "text_token_stats", "text_quality", "text_langid", "text_fingerprint",
    "ann_l2_topk", "mm_binary_meta",
    "learn_cover", "learn_weighted_sample")

  /** The session both benchmark mains run in: `local[cores]`, shuffle and
    * spill files under `SPARK_GRAFT_LOCAL_DIR`. */
  def session(cores: Int, shufflePartitions: Int): SparkSession = {
    // shuffle/spill on tmpfs: the sandbox's single shared-host disk is not a
    // per-node NVMe; round 1 measured it serializing the whole bench at the
    // disk's bandwidth (90s -> 30s for the same pipeline)
    val localDir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark")
    new java.io.File(localDir).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "256m") // the ~15MB/10^6-doc
      // fingerprint map must broadcast reliably at bench scale (prod jobs set
      // 100-512m); at 10^12 docs it exceeds any threshold and AQE picks SMJ
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = session(cpus, cpus)

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // flagship: full near-dup clustering of the webtext table derived from
    // this SF's documents (counts force full materialization)
    val pages = graft.data.WebText.benchCorpus(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = pages.count()
    val pipelineSec = time {
      graft.dedup.Pipeline.run(spark, pages, graft.dedup.DedupConfig()).count()
    }
    val docsPerSec = nDocs / pipelineSec

    // a query that throws is named under `failed`, leaves `queries` and
    // `total`, and makes the run exit non-zero once the JSON line is out
    val results = scala.collection.mutable.LinkedHashMap[String, Double](
      "dedup_pipeline" -> pipelineSec)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    benchQueries.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try results(name) = time(fn(spark, sfDir).count())
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name failed: $e")
          failed += name
        }
      }
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.values.sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""docs":$nDocs,"docs_per_sec":${f"$docsPerSec%.1f"},"sf":"$sfDir",""" +
        s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    // the JSON must survive sbt's log prefixes: write it to a bare file
    // (env-overridable path) AND print it as its own raw stdout line
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
