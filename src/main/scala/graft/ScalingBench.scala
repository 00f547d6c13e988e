package graft

import org.apache.spark.sql.SparkSession

/**
 * Two-cluster-size scaling evidence (north rule: throughput scaling
 * efficiency >= 0.8 between N and 4N executors; in-sandbox realized as
 * local[N] vs local[4N] on the same input — see BASELINE.md).
 *
 * Methodology:
 *  - trials are INTERLEAVED (lo, hi, lo, hi, ...) so shared-host drift hits
 *    both levels equally; the reported value is the per-level MEDIAN of >= 3
 *    trials;
 *  - each trial gets a fresh SparkSession and an untimed warmup run on a
 *    small slice (JIT + codegen; a real cluster's executors are long-lived);
 *  - the session is [[Bench.session]]'s: shuffle/spill dirs on tmpfs, so
 *    the shared-host disk does not serialize every level at its bandwidth
 *    instead of measuring compute scaling;
 *  - output row counts are asserted identical across all trials and levels.
 *
 * Efficiency = (docs/sec at 4N) / (docs/sec at N) / 4. The corpus is sized
 * by `mult` so fixed per-job scheduling overhead — a constant that vanishes
 * at real scale — does not dominate.
 *
 * Usage: runMain graft.ScalingBench [sfDir] [nCores] [n4Cores] [mult] [trials]
 * JSON written to scaling_out.json (env SPARK_GRAFT_SCALING_OUT) and stdout.
 */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val nLo = args.lift(1).map(_.toInt).getOrElse(8)
    val nHi = args.lift(2).map(_.toInt).getOrElse(32)
    val mult = args.lift(3).map(_.toInt).getOrElse(60)
    val trials = args.lift(4).map(_.toInt).getOrElse(3)

    def runAt(cores: Int): (Long, Double, Long) = {
      val spark = Bench.session(cores, math.max(cores * 2, 16))

      // untimed warmup on a small slice (JIT/codegen; executors on a real
      // cluster are warm long before a 10^12-doc job's steady state)
      val warm = graft.data.WebText.synthetic(spark, 2000).toDF()
      graft.dedup.Pipeline.run(spark, warm, graft.dedup.DedupConfig()).count()

      val pages = graft.data.WebText.benchCorpus(spark, sfDir, mult)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDocs = pages.count()
      val t0 = System.nanoTime()
      val out = graft.dedup.Pipeline.run(spark, pages, graft.dedup.DedupConfig()).count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      (nDocs, sec, out)
    }

    val lo = scala.collection.mutable.ArrayBuffer.empty[Double]
    val hi = scala.collection.mutable.ArrayBuffer.empty[Double]
    var docs = 0L
    var outRows = -1L
    for (t <- 1 to trials) {
      val (d1, s1, o1) = runAt(nLo)
      val (d2, s2, o2) = runAt(nHi)
      require(o1 == o2, s"output rows differ across parallelism: $o1 vs $o2")
      require(outRows == -1L || outRows == o1, s"output rows differ across trials: $outRows vs $o1")
      docs = d1; outRows = o1
      lo += s1; hi += s2
      System.err.println(f"[scaling trial $t/$trials] lo[$nLo]=$s1%.1fs hi[$nHi]=$s2%.1fs eff=${(s1 / s2) / (nHi.toDouble / nLo)}%.3f")
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    val secLo = median(lo.toSeq)
    val secHi = median(hi.toSeq)
    val tpLo = docs / secLo
    val tpHi = docs / secHi
    val eff = (tpHi / tpLo) / (nHi.toDouble / nLo)
    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.1f").mkString("[", ",", "]")
    val json =
      f"""{"metric":"scaling_efficiency","value":$eff%.3f,"unit":"ratio","cores_lo":$nLo,"cores_hi":$nHi,""" +
        f""""docs":$docs,"sec_lo":$secLo%.1f,"sec_hi":$secHi%.1f,"docs_per_sec_lo":$tpLo%.1f,"docs_per_sec_hi":$tpHi%.1f,""" +
        f""""trials":$trials,"sec_lo_all":${arr(lo.toSeq)},"sec_hi_all":${arr(hi.toSeq)},"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALING_OUT", "scaling_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath), (json + "\n").getBytes("UTF-8"))
    println(json)
  }
}
