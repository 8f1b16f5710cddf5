package medbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

import graft.etl._

/** The zone layout of one pipeline instance: each layer writes its zone
  * as parquet and the next layer reads it back. Curated versions are
  * numbered so an SCD2 merge reads version v-1 while writing v.
  */
final class Zones(val root: String) {
  val raw = s"$root/raw"
  val meta = s"$root/raw_meta"
  val staging = s"$root/staging"
  def curated(v: Int): String = s"$root/curated_$v"
  def table(v: Int, name: String): String = s"${curated(v)}/$name"
  def live(v: Int): Seq[String] = Seq(raw, meta, staging, curated(v))
}

/** One dashboard query execution. */
final case class Served(name: String, seconds: Double, spanId: Int,
    result: Either[Throwable, (Seq[String], Array[Row])], broadcasts: Int)

/** Calls into the pipeline's public entry points, one span per layer. */
final class Medallion(spark: SparkSession, t: Tracer) {

  /** The source table as a function of the watermark, with the
    * watermark predicate pushed into the parquet scan the way a JDBC
    * source pushes it into the database.
    */
  def source(files: Seq[String]): Option[String] => DataFrame = { wm =>
    val df = spark.read.schema(Schemas.inventory).parquet(files: _*)
    wm.fold(df)(w => df.filter(col("date") > to_timestamp(lit(w))))
  }

  /** Raw → staging → curated for one cycle. The curated layer merges
    * its SCD2 dims against version `prev` when given (the pipeline's
    * default reference semantics) and writes version `v`.
    * Returns the rows the raw layer ingested.
    */
  def land(z: Zones, files: Seq[String], prev: Option[Int], v: Int, asOf: Timestamp): Long = {
    val ingested = t.span("raw") { RawLayer.runOnce(spark, source(files), z.raw, z.meta) }
    t.span("staging") {
      StagingLayer.clean(spark.read.schema(Schemas.inventory).parquet(z.raw))
        .write.mode(SaveMode.Overwrite).parquet(z.staging)
    }
    t.span("curated") {
      val staging = spark.read.parquet(z.staging)
      def existing(name: String) = prev.map(p => spark.read.parquet(z.table(p, name)))
      def write(name: String, df: DataFrame): Unit =
        t.span(s"curated.$name") { df.write.mode(SaveMode.Overwrite).parquet(z.table(v, name)) }
      write("dim_date", CuratedLayer.dimDate(staging))
      write("dim_store", CuratedLayer.dimStore(staging, existing("dim_store"), asOf))
      write("dim_product", CuratedLayer.dimProduct(staging, existing("dim_product"), asOf))
      write("fact_sales", CuratedLayer.factSales(staging))
    }
    ingested
  }

  /** Registers the star-schema views over curated version `v` and runs
    * the four dashboard queries, collecting each result. A query that
    * throws is returned as a failed execution, never as a fast one.
    */
  def serve(z: Zones, v: Int, year: Int, plans: Boolean): Seq[Served] = t.span("serve") {
    def read(name: String) = spark.read.parquet(z.table(v, name))
    Pipeline.registerViews(spark, Pipeline.CuratedOutputs(
      read("dim_date"), read("dim_store"), read("dim_product"), read("fact_sales"),
      spark.read.parquet(z.staging)))
    Medallion.dashboard(year).map { case (name, sql) =>
      var broadcasts = 0
      val result =
        try Right(t.span(s"serve.$name") {
          val df = spark.sql(sql)
          val rows = df.collect()
          if (plans) broadcasts = Medallion.broadcasts(df)
          (df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").toSeq, rows)
        })
        catch { case e: Exception => Left(e) }
      val s = t.spans.last
      Served(name, s.seconds, s.id, result, broadcasts)
    }
  }
}

object Medallion extends AdaptiveSparkPlanHelper {

  /** The dashboard's four queries, by name, as the serving layer defines them. */
  def dashboard(year: Int): Seq[(String, String)] = Seq(
    "q1" -> DashboardQueries.q1, "q2" -> DashboardQueries.q2(year),
    "q3" -> DashboardQueries.q3, "q4" -> DashboardQueries.q4)

  /** Broadcast exchanges in the plan the query actually ran. */
  def broadcasts(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: BroadcastExchangeExec => b
    }.size
}
