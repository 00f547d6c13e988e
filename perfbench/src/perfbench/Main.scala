package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point. One run measures one workload:
 *
 *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *   --work <dir>       scratch directory for Spark (inside the checkout)
 *   --bench <dir>      the benchmark's own directory (expected values, data)
 *   --record           rewrite the expected input and output digests from
 *                      this run instead of checking them
 *   --record-seeds <n> only record the webtext input digests of seeds 0..n-1
 *   --train            only load the classes runs use (for the class-data
 *                      archive the build makes)
 *
 * It prints one JSON object as its last stdout line and exits non-zero when
 * an operation failed or an output check did not hold.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, bench: String, record: Boolean, recordSeeds: Int)

  private def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Args(kv.getOrElse("--workload", ""), kv.getOrElse("--seed", "0").toLong,
      kv.getOrElse("--seconds", "0").toDouble, kv.get("--trace").contains("1"),
      kv("--work"), kv("--bench"), a.contains("--record"),
      kv.get("--record-seeds").map(_.toInt).getOrElse(0))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "256m")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.ui.enabled", "false")
      // One Pipeline.run generates more distinct classes than the default
      // cache (100) keeps, so every run recompiled ~60 of them and ran them
      // cold, which made its CPU time vary by a fifth between JVMs.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = new Report
    val meter = new Meter(spark.sparkContext)
    val expected = new Expected(new File(args.bench, "expected"), args.record || args.recordSeeds > 0)
    if (argv.contains("--train")) {
      train(spark, args)
      spark.stop()
      return
    }
    if (args.recordSeeds > 0) {
      for (seed <- 0 until args.recordSeeds) {
        val (rows, dig) = Workloads.digest(Workloads.webtext(spark, seed))
        expected.check(report, "inputs", s"webtext/$seed", rows, Some(dig))
      }
      expected.save()
      spark.stop()
      return
    }
    try {
      args.workload match {
        case "webtext" => new PipelineBench(spark, meter, report, expected, args).run()
        case "catalog" => new CatalogBench(spark, meter, report, expected, args).run()
        case other => report.check(false, s"unknown workload $other")
      }
      if (args.trace) jvmMetrics(report)
      expected.save()
    } catch {
      case e: Throwable =>
        report.check(false, s"benchmark aborted: $e")
        e.printStackTrace()
    }
    println(report.json)
    spark.stop()
    sys.exit(if (report.correct && report.failed == 0) 0 else 1)
  }

  /** Loads the classes a benchmark run uses, by running the pipeline on a
    * small input and each catalog query once; the build dumps them into a
    * class-data archive that cuts JVM and Spark start-up time of every run. */
  private def train(spark: SparkSession, args: Args): Unit = {
    val pages = Workloads.webtext(spark, 0L, 100L).localCheckpoint(eager = true)
    Workloads.digest(pages)
    val obs = org.apache.spark.sql.Observation("train")
    Workloads.observed(graft.dedup.Pipeline.run(spark, pages.select("url", "text"),
      graft.dedup.DedupConfig()), obs).collect()
    Workloads.digestOf(obs)
    for (q <- CatalogBench.Queries)
      graft.SparkEntry.queries(q)(spark, s"${args.bench}/data/sf0.001")
        .write.format("noop").mode("overwrite").save()
  }

  private val started = System.nanoTime()
  private val startCpu = hostCpu()

  /** Jiffies of the host's aggregate cpu line: (steal, total). */
  private def hostCpu(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    val fields = try f.getLines().next().trim.split("\\s+").tail.map(_.toLong) finally f.close()
    (fields(7), fields.take(8).sum)
  }

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    Console.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  private def jvmMetrics(report: Report): Unit = {
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    report.metric("jvm.peak_rss_mb", hwmKb / 1024, "MB")
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    report.metric("jvm.gc_s", gcMs / 1e3, "s")
    val (steal, total) = hostCpu()
    report.metric("host.steal_share", (steal - startCpu._1).toDouble / math.max(1L, total - startCpu._2), "share")
  }

  /** Setup, shared by every workload: `rounds` times build the inputs,
    * materialize and digest them (the median round is reported), then one
    * untimed warm-up. Returns the last round's inputs; earlier rounds' are
    * released. */
  def setup[I](spark: SparkSession, report: Report, rounds: Int)(build: => I)(warmup: I => Double): I = {
    val times = (1 to rounds).map { r =>
      val before = persistentIds(spark)
      val t0 = System.nanoTime()
      val in = build
      val t = (System.nanoTime() - t0) / 1e9
      if (r < rounds) releaseLeaks(spark, before)
      log(s"setup round $r")
      (t, in)
    }
    val in = times.last._2
    val warm = warmup(in)
    log("warm-up done")
    report.metric("setup_s", Report.median(times.map(_._1)) + warm, "s")
    in
  }

  /** Clean state after an operation: unpersists every RDD the operation left
    * persisted (the diff of `getPersistentRDDs` against `before`, after a GC
    * so that only reachable RDDs count) and drops Dataset caches. Returns the
    * number of leaked caches and their stored MB. */
  def releaseLeaks(spark: SparkSession, before: Set[Int]): (Int, Double) = {
    val sc = spark.sparkContext
    System.gc()
    val leaked = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    val ids = leaked.keySet
    val mb = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1e6
    leaked.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    (leaked.size, mb)
  }

  def persistentIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet
}

/** Recorded digests (`expected/<name>.json`): checked on every run, or rewritten
  * from the run with `--record`. */
final class Expected(dir: File, record: Boolean) {
  private val mapper = new ObjectMapper()
  private val files = scala.collection.mutable.Map.empty[String, ObjectNode]

  private def file(name: String): ObjectNode = files.getOrElseUpdate(name, {
    val f = new File(dir, s"$name.json")
    if (f.exists) mapper.readTree(f).asInstanceOf[ObjectNode] else mapper.createObjectNode()
  })

  /** Compares (rows, digest) with the value recorded under `name/key`;
    * `digest = None` checks rows only. Unrecorded keys are reported, not
    * failed. */
  def check(report: Report, name: String, key: String, rows: Long, digest: Option[String],
            rowsOnly: Boolean = false): Unit = {
    val obj = file(name)
    if (record) {
      val n = mapper.createObjectNode()
      n.put("rows", rows)
      if (rowsOnly) n.putNull("digest") else n.put("digest", digest.orNull)
      obj.set[JsonNode](key, n)
    } else Option(obj.get(key)) match {
      case None => Console.err.println(s"no recorded digest for $name/$key (rows=$rows digest=${digest.orNull})")
      case Some(e) =>
        report.check(e.get("rows").asLong == rows,
          s"$name/$key: $rows rows, recorded ${e.get("rows").asLong}")
        if (!e.get("digest").isNull)
          report.check(digest.contains(e.get("digest").asText),
            s"$name/$key: digest ${digest.orNull}, recorded ${e.get("digest").asText}")
    }
  }

  def rowsOnly(name: String, key: String): Boolean =
    Option(file(name).get(key)).exists(_.get("digest").isNull)

  def save(): Unit = if (record) files.foreach { case (name, obj) =>
    dir.mkdirs()
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(dir, s"$name.json"), obj)
  }
}
