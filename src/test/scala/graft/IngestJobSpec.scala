package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.IngestJob

/** End-to-end ingest on the reference's shipped corpus
  * (data/raw_dockets.json, 502 records) — the de-facto correctness
  * fixture (SURVEY §5). Expected numbers were derived by executing the
  * reference's validation/normalization semantics over the corpus:
  * read=502, inserted=501, updated=1 (one intra-file duplicate
  * case_number), failed=0; dims: 71 courts, 95 judges, 4 case types,
  * 290 parties.
  */
class IngestJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ts = Timestamp.valueOf("2026-01-01 00:00:00")

  private lazy val result = IngestJob.run(spark,
    IngestJob.readRaw(spark, ReferenceCorpus.path),
    runId = 1, sourceName = "raw_dockets.json",
    sourceUri = ReferenceCorpus.path, ts = ts)

  test("summary counts match the reference semantics") {
    ReferenceCorpus.assumePresent()
    assert(result.summary.read == 502)
    assert(result.summary.inserted == 501)
    assert(result.summary.updated == 1)
    assert(result.summary.failed == 0)
  }

  test("cases: one row per case_number, last duplicate wins") {
    ReferenceCorpus.assumePresent()
    assert(result.cases.count() == 501)
    assert(result.cases.select("case_number").distinct().count() == 501)
  }

  test("dim cardinalities") {
    ReferenceCorpus.assumePresent()
    assert(result.courts.count() == 71)
    assert(result.judges.count() == 95)
    assert(result.caseTypes.count() == 4)
    assert(result.parties.count() == 290)
  }

  test("case types are the lowercased set") {
    ReferenceCorpus.assumePresent()
    val names = result.caseTypes.select("name").collect().map(_.getString(0)).toSet
    assert(names == Set("civil", "criminal", "employment", "personal injury"))
  }

  test("dims unique by normalized key; ids collision-free") {
    ReferenceCorpus.assumePresent()
    def check(df: org.apache.spark.sql.DataFrame, key: String): Unit = {
      assert(df.select(key).distinct().count() == df.count())
      assert(df.select("id").distinct().count() == df.count())
    }
    check(result.courts, "normalized_name")
    check(result.judges, "normalized_name")
    check(result.parties, "normalized_name")
    check(result.caseTypes, "name")
  }

  test("padded titles flow through untrimmed (ingest.py:632-636 quirk)") {
    ReferenceCorpus.assumePresent()
    val padded = result.cases
      .filter(col("title") =!= trim(col("title"))).count()
    assert(padded > 0, "corpus has whitespace-padded titles that must be preserved")
  }

  test("court variation seen_counts sum to records that reached the court step") {
    ReferenceCorpus.assumePresent()
    val total = result.courtVariations.agg(sum("seen_count")).collect()(0).getLong(0)
    assert(total == 502) // all 502 records validate through the court stage
  }

  test("every case row joins to a court dim row") {
    ReferenceCorpus.assumePresent()
    val unmatched = result.cases.join(result.courts.select(col("id").as("court_id")),
      Seq("court_id"), "left_anti").count()
    assert(unmatched == 0)
  }

  test("case_parties reference valid parties and cases") {
    ReferenceCorpus.assumePresent()
    val cp = result.caseParties
    assert(cp.join(result.parties.select(col("id").as("party_id")),
      Seq("party_id"), "left_anti").count() == 0)
    assert(cp.join(result.cases.select(col("id").as("case_id")),
      Seq("case_id"), "left_anti").count() == 0)
    val roles = cp.select("role").distinct().collect().map(_.getString(0)).toSet
    assert(roles.subsetOf(Set("plaintiff", "defendant", "third_party", "intervenor", "other")))
  }

  test("clean corpus: no quarantine, no errors") {
    ReferenceCorpus.assumePresent()
    assert(result.quarantine.count() == 0)
    assert(result.errors.count() == 0)
  }

  test("a messy batch routes failures to quarantine with envelope + ledger") {
    import spark.implicits._
    val messy = Seq(
      ("C-ok", "S.D.N.Y", "t", "2024-10-03", "A (plaintiff)", "civil", "J", "txt", "active"),
      ("", "S.D.N.Y", "t", "2024-10-03", "", "civil", "J", "txt", "active"),      // missing cn
      ("C-bad", "S.D.N.Y", "t", "13-40-2024", "", "civil", "J", "txt", "active"), // bad date
      ("C-bad", "S.D.N.Y", "t", "13-40-2024", "", "civil", "J", "txt", "active"), // same again → retry
      ("C-st", "S.D.N.Y", "t", "2024-10-03", "", "civil", "J", "txt", "archived")) // bad status
      .toDF("case_number", "court", "title", "filed_date", "parties",
        "case_type", "judge", "docket_text", "status")
    val r = IngestJob.run(spark, IngestJob.withSeq(spark, messy), 2, "messy", "mem", ts)
    assert(r.summary.read == 5 && r.summary.failed == 4 && r.summary.inserted == 1)
    assert(r.quarantine.count() == 4)
    val env = r.quarantine.columns.toSet
    assert(env == Set("run_id", "error_code", "why", "raw", "ts", "record_hash"))
    // identical raw records collapse in the error ledger with retry_count
    assert(r.errors.count() == 3)
    val retry = r.errors.filter(col("case_number") === "C-bad")
      .select("retry_count").collect()(0).getLong(0)
    assert(retry == 1)
    val codes = r.errors.select("error_code").collect().map(_.getString(0)).toSet
    assert(codes == Set("MISSING_CASE_NUMBER", "BAD_DATE", "STATUS_UNMAPPED"))
    // bad-status record still created its case_type dim row (partial-work
    // semantics) and its court variation
    assert(r.courtVariations.agg(sum("seen_count")).collect()(0).getLong(0) == 2)
  }

  test("re-ingesting the same file classifies everything as updated") {
    ReferenceCorpus.assumePresent()
    val again = IngestJob.run(spark,
      IngestJob.readRaw(spark, ReferenceCorpus.path),
      runId = 3, sourceName = "raw_dockets.json", sourceUri = "x", ts = ts,
      priorCaseNumbers = Some(result.cases.select("case_number")))
    assert(again.summary.inserted == 0)
    assert(again.summary.updated == 502)
  }
}
