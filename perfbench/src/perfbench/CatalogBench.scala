package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Observation, Row, SparkSession}

import graft.data.WebText

/**
 * The catalog workload: a fixed list of `SparkEntry.queries` over the
 * committed `data/sf0.001` tables, each written to a noop sink, one query at
 * a time. A pass over the list is one operation. The input is fixed, so the
 * seed does not change it.
 */
final class CatalogBench(spark: SparkSession, meter: Meter, report: Report,
                         expected: Expected, args: Main.Args) {
  import CatalogBench._
  import spark.implicits._

  private val dir = s"${args.bench}/data/sf0.001"
  private val seen = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Long, String)]]

  def run(): Unit = {
    Main.setup(spark, report, 3) {
      Tables.map(t => t -> Workloads.digest(spark.read.parquet(s"$dir/$t.parquet")))
    } { digests =>
      digests.foreach { case (t, (rows, dig)) =>
        expected.check(report, "inputs", s"catalog/$t", rows, Some(dig))
      }
      // the second warm-up pass is still up to a third faster than the first
      (pass("warmup") ++ pass("warmup-2")).map(_._2.wallS).sum
    }

    // timed loop: the queries in turn, the first pass always complete, then
    // until --seconds have passed; a query's cost is its median over its
    // successful runs, and a pass costs the sum of those medians
    val costs = mutable.LinkedHashMap(Queries.map(_ -> mutable.ArrayBuffer.empty[Cost]): _*)
    val t0 = System.nanoTime()
    var n = 0
    while (n < Queries.length || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      val q = Queries(n % Queries.length)
      runQuery(q, s"timed-${n / Queries.length}").foreach(costs(q) += _)
      n += 1
    }
    for ((q, cs) <- costs) report.check(cs.nonEmpty, s"no successful timed run of $q")
    def perPass(f: Cost => Double, combine: Iterable[Double] => Double = _.sum) =
      combine(costs.values.filter(_.nonEmpty).map(cs => Report.median(cs.map(f).toSeq)))
    val wall = perPass(_.wallS)
    report.metric("wall_s", wall, "s")
    report.metric("cpu_s", perPass(_.cpuS), "s")
    report.metric("shuffle_mb", perPass(_.shuffleMb), "MB")
    report.metric("peak_cache_mb", perPass(_.peakCacheMb, _.max), "MB")

    if (args.trace) {
      val traced = pass("traced")
      for ((q, c) <- traced) {
        report.metric(s"ops.$q.wall_s", c.wallS, "s")
        report.metric(s"ops.$q.cpu_s", c.cpuS, "s")
      }
      report.metric("trace.overhead_s", traced.map(_._2.wallS).sum - wall, "s")
      PipelineBench.layerMetrics.foreach { case (name, unit) => report.metric(name, 0.0, unit) }
    }

    checkOutputs()
  }

  /** One pass over the catalog; returns the cost of each query that ran. */
  private def pass(tag: String): Seq[(String, Cost)] = Queries.flatMap(q => runQuery(q, tag).map(q -> _))

  /** One query, or None when it threw. The warm-up pass collects the
    * flagship query's output to check its dup-pair quality; later runs must
    * reproduce its digest. */
  private def runQuery(q: String, tag: String): Option[Cost] = {
    val before = Main.persistentIds(spark)
    val done = report.attempt(s"$q ($tag)") {
      val obs = Observation(s"$tag-$q")
      val (rows, cost) = meter.span(s"ops.$q") {
        val out = Workloads.observed(graft.SparkEntry.queries(q)(spark, dir), obs)
        if (q == Flagship && tag == "warmup") out.collect()
        else { out.write.format("noop").mode("overwrite").save(); Array.empty[Row] }
      }
      seen.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += Workloads.digestOf(obs)
      if (q == Flagship && tag == "warmup") {
        val pages = WebText.fromDocuments(spark, dir).toDF()
        PipelineBench.pairQuality(report, rows, WebText.truePairs(pages).as[(String, String)].collect().toSet,
          gated = false)
      }
      Main.log(f"$tag $q ${cost.wallS}%.3f s, cpu ${cost.cpuS}%.3f s")
      cost
    }
    Main.releaseLeaks(spark, before)
    done
  }

  /** Row count and digest of every query output against the recorded values;
    * a query whose digest varied within this run is recorded as rows-only. */
  private def checkOutputs(): Unit = for ((q, outs) <- seen) {
    val rowsOnly = outs.map(_._2).distinct.length > 1 || expected.rowsOnly("catalog", q)
    outs.distinct.foreach { case (rows, dig) =>
      expected.check(report, "catalog", q, rows, if (rowsOnly) None else Some(dig), rowsOnly)
    }
    report.check(outs.map(_._1).distinct.length == 1, s"$q row count varies within the run")
  }
}

object CatalogBench {
  /** The flagship pipeline as a catalog query, on pages derived from the
    * committed documents. Its dup-pair quality against `WebText`'s entity
    * ground truth is the workload's quality metric; the synthetic-corpus
    * gates of the pipeline workloads do not apply to these pages, whose
    * output is pinned by its recorded digest instead. */
  val Flagship = "dedup_cluster_webtext"

  /** One query each for relational operators and learned blocking cover,
    * the open ROADMAP items `tfidf_search`, `score_cosine_tfidf` and
    * `ann_cosine_topk` (whose first run is several times slower than a warm
    * one), and the flagship. A warm pass takes 7 to 9 s on 4 cores. */
  val Queries: Seq[String] = Seq("q_join_agg", "learn_cover", "tfidf_search", "score_cosine_tfidf",
    "ann_cosine_topk", Flagship)

  /** Input tables the queries read. */
  val Tables: Seq[String] = Seq("documents", "embeddings", "orders", "customer")

  def layerMetrics: Seq[(String, String)] =
    Queries.flatMap(q => Seq(s"ops.$q.wall_s" -> "s", s"ops.$q.cpu_s" -> "s"))
}
