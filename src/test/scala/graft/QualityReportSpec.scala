package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.IngestJob
import graft.quality.QualityReport

/** Quality-report sections + threshold gates over the reference
  * corpus ingest (data_quality.py semantics).
  */
class QualityReportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val ts = Timestamp.valueOf("2026-01-01 00:00:00")
  private lazy val r = IngestJob.run(spark,
    IngestJob.readRaw(spark, ReferenceCorpus.path),
    1, "raw_dockets.json", "ref", ts)

  test("volume summary totals the run ledger") {
    ReferenceCorpus.assumePresent()
    val v = QualityReport.volumeSummary(r.runLedger, None).collect()(0)
    assert(v.getLong(0) == 502 && v.getLong(1) == 501 &&
      v.getLong(2) == 1 && v.getLong(3) == 0)
  }

  test("completeness: 57 cases missing a judge, none missing court/type") {
    ReferenceCorpus.assumePresent()
    val c = QualityReport.completeness(r.cases, None).collect()(0)
    assert(c.getAs[Long]("total") == 501)
    // 57 raw records have blank/title-only judges; the duplicate
    // case_number collapse keeps this at the case level
    assert(c.getAs[Long]("no_judge") > 0)
    assert(c.getAs[Long]("no_court") == 0)
    assert(c.getAs[Long]("no_case_type") == 0)
  }

  test("entity normalization sanity: variations collapse") {
    ReferenceCorpus.assumePresent()
    val n = QualityReport.entityNormalization(r.judges, r.courts).collect()
      .map(row => row.getString(0) -> row).toMap
    assert(n("judges").getAs[Long]("total") == 95)
    assert(n("courts").getAs[Long]("total") == 71)
    // normalized_name is unique per dim row by construction
    assert(n("judges").getAs[Long]("distinct_normalized") == 95)
    assert(n("courts").getAs[Long]("distinct_normalized") == 71)
  }

  test("parties coverage + role histogram") {
    ReferenceCorpus.assumePresent()
    val cov = QualityReport.partiesCoverage(r.caseParties, r.cases).collect()(0)
    assert(cov.getAs[Long]("cases_with_parties") > 400)
    assert(cov.getAs[Long]("cases_with_plaintiff") > 0)
    val roles = QualityReport.roleHistogram(r.caseParties).collect()
    assert(roles.nonEmpty && roles.map(_.getAs[Long]("cnt")).toSeq ==
      roles.map(_.getAs[Long]("cnt")).toSeq.sorted.reverse)
  }

  test("gates: clean run passes, >5% failure fails") {
    assert(QualityReport.exitCode(502, 0, 501, 57, 0, 0) == 1 ||
      57.0 / 501 * 100 <= 10.0) // 57/501 = 11.4% > 10 → gate fires
    assert(QualityReport.exitCode(502, 0, 501, 0, 0, 0) == 0)
    assert(QualityReport.exitCode(100, 6, 100, 0, 0, 0) == 1)
    assert(QualityReport.exitCode(100, 5, 100, 0, 0, 0) == 0)
  }

  test("render produces the report sections") {
    ReferenceCorpus.assumePresent()
    val text = QualityReport.render(
      QualityReport.volumeSummary(r.runLedger, None),
      QualityReport.errorBreakdown(r.errors, None),
      QualityReport.completeness(r.cases, None),
      QualityReport.dateSanity(r.cases, r.errors, None),
      QualityReport.entityNormalization(r.judges, r.courts),
      QualityReport.partiesCoverage(r.caseParties, r.cases),
      QualityReport.roleHistogram(r.caseParties),
      QualityReport.recentDaily(r.runLedger))
    assert(text.contains("DATA QUALITY REPORT"))
    assert(text.contains("COMPLETENESS"))
    assert(text.contains("Total records: 502"))
  }

  test("error breakdown scopes by run id and by since-date (J7 join)") {
    import spark.implicits._
    val errors = Seq((1L, "BAD_DATE", ts), (1L, "BAD_DATE", ts),
      (2L, "FK_COURT", ts)).toDF("run_id", "error_code", "last_seen_at")
    val runs = Seq(
      (1L, Timestamp.valueOf("2025-12-01 00:00:00")),
      (2L, Timestamp.valueOf("2026-01-05 00:00:00")))
      .toDF("run_id", "started_at")
    val byRun = QualityReport.errorBreakdown(errors, Some(1L)).collect()
    assert(byRun.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("BAD_DATE" -> 2L))
    val since = QualityReport.errorBreakdown(errors, None,
      Some("2026-01-01"), Some(runs)).collect()
    assert(since.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("FK_COURT" -> 1L))
  }

  test("ascii bar matches the reference shape") {
    assert(QualityReport.asciiBar(20, 40, 40) == "█" * 20 + "░" * 20)
    assert(QualityReport.asciiBar(0, 40, 40) == "░" * 40)
    assert(QualityReport.asciiBar(40, 40, 40) == "█" * 40)
  }
}
