package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.cluster.LocalClustering
import graft.cluster.LocalClustering.Edge

/**
 * Per-component hierarchical clustering + singleton completion — the
 * distributed realization of `cluster` (`clustering.py:213-255`) and
 * `_add_singletons` (`api.py:209-218`).
 *
 * Components (capped at `maxComponents` nodes by
 * [[ConnectedComponents.withRefilter]] — the same memory bound the reference
 * relies on) are shuffled once via `groupByKey(comp)` and clustered inside
 * `flatMapGroups` with the scipy-parity centroid-linkage port
 * ([[graft.cluster.Hierarchical]]).
 *
 * Output schema: (url, cluster_id, confidence) — the normalized form of the
 * reference's (members tuple, confidences tuple) stream; cluster_id is the
 * lexicographically smallest member (deterministic under any parallelism).
 */
object ClusterStage {

  final case class LabeledEdge(a: Long, b: Long, score: Float, comp: Long)
  final case class ClusterRow(nid: Long, cluster_nid: Long, confidence: Double)

  /** @param labeled (a, b, score, comp) scored edges (compact long ids) with
    *               component labels — MUST have passed
    *               [[ConnectedComponents.withRefilter]] at `maxComponents`:
    *               the centroid-linkage kernel allocates n(n-1)/2 doubles
    *               per component in one task (see
    *               [[DedupConfig.maxComponents]]), so an over-cap component
    *               here fails loudly instead of OOMing the executor
    * @param maxComponents the refilter cap to enforce; <= 0 disables */
  def clusterComponents(labeled: DataFrame, threshold: Double,
                        maxComponents: Int = 30000): Dataset[ClusterRow] = {
    val spark = labeled.sparkSession
    import spark.implicits._
    def clusterOne(edges: Seq[Edge[Long]]): Iterator[ClusterRow] = {
      if (maxComponents > 0) {
        val nNodes = edges.iterator.flatMap(e => Iterator(e.a, e.b)).toSet.size
        if (nNodes > maxComponents) throw new IllegalStateException(
          s"component of $nNodes nodes exceeds maxComponents=$maxComponents — " +
            "the condensed distance matrix would need " +
            s"~${nNodes.toLong * (nNodes - 1) / 2 * 8 / (1 << 20)} MB in one task; " +
            "run ConnectedComponents.withRefilter first (Pipeline does)")
      }
      LocalClustering.clusterComponent(edges, threshold).iterator.flatMap { c =>
        val clusterId = c.members.min
        c.members.zip(c.confidences).map { case (m, conf) => ClusterRow(m, clusterId, conf) }
      }
    }
    val typed = labeled
      .select($"a", $"b", $"score".cast("float").as("score"), $"comp")
      .as[LabeledEdge]
    labeled.queryExecution.optimizedPlan match {
      // Driver-local fast path (r6): when the refilter ran its local path
      // (edge list under [[ConnectedComponents.LocalEdgeThreshold]]) the
      // labeled edges are already a driver-side LocalRelation — re-grouping
      // them through a groupByKey shuffle + flatMapGroups costs an exchange
      // and a typed ser/deser round-trip for data the driver already holds.
      // Same kernel per component (order-insensitive, determinism
      // spec-pinned), one parallelize of the result instead.
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val rows = typed.collect().groupBy(_.comp).iterator.flatMap { case (_, es) =>
          clusterOne(es.iterator.map(e => Edge(e.a, e.b, e.score.toDouble)).toSeq)
        }.toSeq
        spark.createDataset(rows)
      case _ =>
        typed
          .groupByKey(_.comp)
          .flatMapGroups { (_, it) =>
            clusterOne(it.map(e => Edge(e.a, e.b, e.score.toDouble)).toSeq)
          }
    }
  }

  /** Singleton completion (`api.py:209-218`): each row of `ids` (`nid` plus
    * any columns carried along) gets its `cluster_nid` and `confidence`, and
    * an nid missing from `clustered` becomes its own cluster with confidence
    * 1.0 — one LEFT join. Each nid appears in at most one cluster row, so
    * every row of `ids` comes out exactly once. */
  def withSingletons(ids: DataFrame, clustered: Dataset[ClusterRow]): DataFrame =
    ids.join(clustered.toDF(), Seq("nid"), "left")
      .select(ids.columns.map(col).toSeq ++ Seq(
        coalesce(col("cluster_nid"), col("nid")).as("cluster_nid"),
        coalesce(col("confidence"), lit(1.0)).as("confidence")): _*)

  /** Singleton completion + url labeling (r6, guide §2.4): [[withSingletons]]
    * over the (nid, url) table, then each cluster is named by its
    * lexicographically smallest member url. */
  def completeAndLabel(ids: DataFrame, clustered: Dataset[ClusterRow]): DataFrame = {
    val byNid = withSingletons(ids, clustered)
    // Cluster naming as a window min over ONE pass of byNid (r6, guide §2.4):
    // the groupBy + rejoin shape evaluated the ids⋈clustered join subtree
    // twice (Spark has no cross-branch subplan sharing) and paid an extra
    // join; min(url) over the cluster partition attaches the same
    // lexicographically-smallest member url row-for-row. Window partitions
    // are bounded by maxComponents (plus size-1 singletons), so no
    // mega-partition task exists at any corpus size.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_nid"))
    byNid.select(col("url"), min(col("url")).over(w).as("cluster_id"),
      col("confidence"))
  }
}
