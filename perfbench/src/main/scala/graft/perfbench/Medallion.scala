package graft.perfbench

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.bronze.Ingest
import graft.gold.{GoldWriter, JdbcSink}
import graft.quality.QualityChecks
import graft.silver.SilverTransform

/** The medallion pipeline driven through its public functions, the way a
  * pipeline operator runs it: bronze fetch + land, silver build + parquet
  * write, quality gate, gold load. Every call into a layer is a span.
  */
final class Medallion(spark: SparkSession, tracer: Tracer) {
  private val Ts = "20260101T000000Z"
  private val ProcessedAt = "2026-01-01T00:00:00Z"
  private val SeriesKey = Seq("geo", "coicop", "unit")

  /** Bronze: fetch (with the unit fallback), wrap, land. Returns the wrapped
    * payload and its landed path.
    */
  private def bronze(fetch: Ingest.Fetch, root: String, dataset: String, geo: String,
                     coicop: String, unit: Option[String]): (String, String) =
    tracer.span("bronze") {
      val (body, params) = Ingest.fetchWithFallback(fetch, Inputs.Base, dataset, geo, coicop, unit)
      val wrapped = Ingest.wrap(body, dataset, params, ProcessedAt)
      (wrapped, Ingest.land(spark, root, dataset, geo, coicop, Ts, wrapped))
    }

  /** Silver: build (JSON-stat parse + densify + transforms), then write. */
  private def silver(wrapped: String, rawPath: String, path: String): DataFrame = {
    val df = tracer.span("silver.build") {
      SilverTransform.silver(spark, wrapped, ProcessedAt, rawPath)
    }
    tracer.span("silver.write") {
      df.write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
  }

  /** Quality gate: Q1–Q7, the report, and the gold-side gate. True on PASS,
    * false when the gate refuses; a gate that disagrees with its own report
    * is a program fault and throws.
    */
  private def gate(silverDf: DataFrame, reportDir: String, blob: String): Boolean =
    tracer.span("quality") {
      val report = QualityChecks.runChecks(silverDf, SilverTransform.CanonicalCols,
        Seq("time") ++ SeriesKey, "time", "value", SeriesKey)
      GoldWriter.writeReport(spark, reportDir, report, Ts, blob)
      (report.passed, Try(GoldWriter.requirePass(spark, reportDir))) match {
        case (true, Success(_)) => true
        case (false, Failure(_: IllegalStateException)) => false
        case (passed, verdict) =>
          throw new IllegalStateException(s"gate passed=$passed but requirePass gave $verdict")
      }
    }

  /** One `medallion_series` request: the series bronze → silver → gate →
    * JDBC delete + append. A gapped series must be refused by the gate (and
    * so never reach gold); any other verdict is a failure.
    */
  def seriesRun(dir: String, s: SeriesSpec, fetch: Ingest.Fetch,
                cfg: JdbcSink.JdbcConfig): (Outcome, Long) = {
    val ds = s.payload.spec.dataset
    val unit = s.payload.spec.units.head
    val (wrapped, rawPath) = bronze(fetch, s"$dir/bronze", ds, s.geo, s.coicop, Some(unit))
    val silverPath = s"$dir/silver/$ds/geo=${s.geo}/coicop=${s.coicop}"
    val silverDf = silver(wrapped, rawPath, silverPath)
    val passed = gate(silverDf, s"$dir/quality/$ds/geo=${s.geo}/coicop=${s.coicop}", silverPath)
    if (passed == s.gapAt.isDefined)
      throw new IllegalStateException(
        s"gate passed=$passed for ${s.geo}/${s.coicop} with gap ${s.gapAt}")
    if (!passed) (Outcome.Rejected, 0L)
    else {
      tracer.span("gold.jdbc") {
        JdbcSink.loadSeries(GoldWriter.goldProjection(silverDf), cfg, s.geo, s.coicop, unit)
      }
      (Outcome.Ok, s.months.toLong)
    }
  }
}
