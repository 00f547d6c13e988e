package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.data.WebText

/** The seeded pipeline input and the digest of a table. */
object Workloads {

  /** Entities of the `webtext` workload (~2 pages each). Sized so that one
    * `Pipeline.run` takes a few seconds on 4 cores and a whole run fits the
    * benchmark's time budget. */
  val WebtextEntities = 3000L

  /** (url, text, entity_id) pages of `WebText.synthetic`. */
  def webtext(spark: SparkSession, seed: Long, entities: Long = WebtextEntities): DataFrame =
    WebText.synthetic(spark, entities, seed).toDF().select("url", "text", "entity_id")

  /** Order-independent content digest: row count and the sum of a 64-bit hash
    * of every row. Map columns are hashed through their JSON form. */
  def digestColumns(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("digest"))
  }

  /** `df` with its digest collected into `obs` as it is written. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val c = digestColumns(df)
    df.observe(obs, c.head, c.tail: _*)
  }

  def digestOf(obs: Observation): (Long, String) = {
    val r = obs.get
    (r("rows").asInstanceOf[Long], r("digest").asInstanceOf[java.math.BigDecimal].toPlainString)
  }

  def digest(df: DataFrame): (Long, String) = {
    val c = digestColumns(df)
    val r = df.agg(c.head, c.tail: _*).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }
}
