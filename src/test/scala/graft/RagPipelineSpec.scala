package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.IngestJob
import graft.rag.{HashingEmbedder, RagPipeline}
import graft.api.GraftApi

/** RAG pipeline + API facade over the reference corpus: chunk
  * semantics (incl. the empty-text sentinel, rag.py:146-148), search
  * shape (candidate pool, best-per-case, 4-dp rounding, top-k), and
  * the three endpoint equivalents.
  */
class RagPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ts = Timestamp.valueOf("2026-01-01 00:00:00")
  private lazy val ingest = IngestJob.run(spark,
    IngestJob.readRaw(spark, ReferenceCorpus.path),
    1, "raw_dockets.json", "ref", ts)
  private val embedder = HashingEmbedder(64)
  private lazy val embeddings = RagPipeline.backfill(ingest.cases, None, embedder)

  test("backfill covers every case exactly (one chunk per short docket)") {
    ReferenceCorpus.assumePresent()
    // docket_text is 53-128 chars (BASELINE.md) → one 1200-char chunk each
    assert(embeddings.select("case_number").distinct().count() == 501)
    assert(embeddings.count() == 501)
    assert(embeddings.filter(col("chunk_id") =!= 0).count() == 0)
  }

  test("empty docket_text gets the (0, \"\") sentinel row") {
    val one = Seq(("C-empty", "")).toDF("case_number", "docket_text")
    val chunks = RagPipeline.chunkCases(one).collect()
    assert(chunks.length == 1)
    assert(chunks(0).getInt(1) == 0 && chunks(0).getString(2) == "")
  }

  test("backfill with existing table only embeds missing cases") {
    ReferenceCorpus.assumePresent()
    val delta = RagPipeline.backfill(ingest.cases, Some(embeddings), embedder)
    assert(delta.count() == 0)
  }

  test("search: self-query ranks the source case first with similarity 1") {
    ReferenceCorpus.assumePresent()
    val probe = ingest.cases.select("case_number", "docket_text")
      .orderBy("case_number").limit(1).collect()(0)
    val qvec = embedder.embed(probe.getString(1))
    val res = RagPipeline.search(embeddings, ingest.cases, ingest.judges,
      ingest.courts, qvec, topK = 5).collect()
    assert(res.length == 5)
    assert(res(0).getAs[String]("case_number") == probe.getString(0))
    assert(math.abs(res(0).getAs[Double]("best_similarity") - 1.0) < 1e-9)
    // descending similarity, 4-dp rounded
    val sims = res.map(_.getAs[Double]("best_similarity"))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(sims.forall(s => (s * 10000).round / 10000.0 == s))
  }

  test("search output has the reference's result columns") {
    ReferenceCorpus.assumePresent()
    val res = RagPipeline.searchText(embeddings, ingest.cases, ingest.judges,
      ingest.courts, "breach of contract", 3, embedder)
    assert(res.columns.toSeq == Seq("case_number", "title", "filed_date",
      "judge", "court", "best_similarity", "best_chunk_id", "best_chunk_snippet"))
    assert(res.count() == 3)
  }

  test("batched embedding == per-row embedding") {
    ReferenceCorpus.assumePresent()
    val chunks = RagPipeline.chunkCases(
      ingest.cases.limit(200).select("case_number", "docket_text"))
    val single = RagPipeline.embedChunks(chunks, embedder)
    val batched = RagPipeline.embedChunksBatched(chunks, embedder, batchSize = 7)
    assert(single.exceptAll(batched).count() == 0)
    assert(batched.exceptAll(single).count() == 0)
  }

  test("cell-probe search: self-query still found, scans one cell") {
    ReferenceCorpus.assumePresent()
    val probe = ingest.cases.select("case_number", "docket_text")
      .orderBy("case_number").limit(1).collect()(0)
    val qvec = embedder.embed(probe.getString(1))
    val withCells = RagPipeline.withCells(embeddings, planes = 4, dim = 64)
    val res = RagPipeline.searchCellProbe(withCells, ingest.cases,
      ingest.judges, ingest.courts, qvec, topK = 5, planes = 4).collect()
    // the query vector's own case shares its cell by construction
    assert(res.nonEmpty)
    assert(res(0).getAs[String]("case_number") == probe.getString(0))
    assert(math.abs(res(0).getAs[Double]("best_similarity") - 1.0) < 1e-9)
    // the probed cell holds a strict subset of the corpus
    val qCell = graft.functions.VectorFunctions.hyperplaneSignatureLocal(qvec, 4)
    val cellSize = withCells.filter(col("cell") === qCell).count()
    assert(cellSize < embeddings.count())
  }

  test("stored chunk-ANN search: exhaustive probe equals the exact " +
    "search; narrow probe reads a pruned candidate pool") {
    ReferenceCorpus.assumePresent()
    val store = new graft.store.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("graft-rag-ann").toString)
    RagPipeline.indexChunks(store, embeddings, lists = 8)
    val probe = ingest.cases.select("case_number", "docket_text")
      .orderBy("case_number").limit(1).collect()(0)
    val qvec = embedder.embed(probe.getString(1))
    // nprobe = lists ⇒ the stored path degenerates to the exact scan:
    // identical results, proving the composition on top is unchanged
    val exact = RagPipeline.search(embeddings, ingest.cases, ingest.judges,
      ingest.courts, qvec, topK = 5).collect().toSeq
    val exhaustive = RagPipeline.searchStored(store, ingest.cases,
      ingest.judges, ingest.courts, qvec, topK = 5, nprobe = 8)
      .collect().toSeq
    assert(exhaustive == exact)
    // narrow probe: self-query's own chunk shares its list by
    // construction (it IS a corpus member), pool strictly prunes
    val narrow = RagPipeline.searchStored(store, ingest.cases,
      ingest.judges, ingest.courts, qvec, topK = 5, nprobe = 2).collect()
    assert(narrow.nonEmpty)
    assert(narrow(0).getAs[String]("case_number") == probe.getString(0))
    val cents = graft.rag.AnnStore.centroidsOf(
      store.read("chunk_ann_centroids").get)
    val lists = graft.rag.AnnStore.probeListsOf(cents, qvec, 2)
    val poolSize = store.read("chunk_ann_assignments").get
      .filter(col("list_id").isin(lists: _*)).count()
    assert(poolSize < embeddings.count(),
      "narrow probe did not prune the candidate pool")
  }

  test("incremental chunk-index merge equals assigning every chunk " +
    "against the stored centroids (pgvector's insert path)") {
    ReferenceCorpus.assumePresent()
    val storeRoot =
      java.nio.file.Files.createTempDirectory("graft-rag-inc").toString
    val store = new graft.store.SnapshotStore(spark, storeRoot)
    // base index over half the cases, then the other half arrives as a
    // backfill delta — new chunks must join the EXISTING lists
    val caseIds = ingest.cases.select("case_number").orderBy("case_number")
      .collect().map(_.getString(0))
    val (baseIds, deltaIds) = caseIds.splitAt(caseIds.length / 2)
    val base = embeddings.filter(col("case_number").isin(baseIds.toSeq: _*))
    val delta = embeddings.filter(col("case_number").isin(deltaIds.toSeq: _*))
    RagPipeline.indexChunks(store, base, lists = 4)
    val vCents = store.currentVersion("chunk_ann_centroids")
    RagPipeline.mergeChunkIndex(store, delta)
    // centroids untouched (insert path never retrains)
    assert(store.currentVersion("chunk_ann_centroids") == vCents)
    val cents = graft.rag.AnnStore.centroidsOf(
      store.read("chunk_ann_centroids").get)
    val got = store.read("chunk_ann_assignments").get
      .select("case_number", "chunk_id", "list_id").collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        r.getAs[Number]("list_id").intValue).toMap
    val expect = graft.rag.AnnStore.assignListId(embeddings, "embedding",
      cents.map(_._2))
      .select("case_number", "chunk_id", "list_id").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(got == expect, "merged index diverged from a full assignment")
    // and a re-ingested chunk REPLACES its row (LWW on the chunk key)
    RagPipeline.mergeChunkIndex(store, delta)
    assert(store.read("chunk_ann_assignments").get.count() == expect.size)
    // the case→list sidecar map (the merge's pruned collide-set
    // source) stays exactly the distinct (case, list) projection
    def mapPairs = store.read("chunk_ann_case_map").get
      .select("case_number", "list_id").collect()
      .map(r => (r.getString(0), r.getAs[Number](1).intValue)).toSet
    def assignPairs = store.read("chunk_ann_assignments").get
      .select("case_number", "list_id").distinct().collect()
      .map(r => (r.getString(0), r.getAs[Number](1).intValue)).toSet
    assert(mapPairs == assignPairs,
      "case map diverged from the assignments after merges")
    // migration: a store indexed before the map existed (simulated by
    // dropping the table) backfills it on the next merge and stays
    // correct
    val mapDir = java.nio.file.Paths.get(storeRoot, "chunk_ann_case_map")
    val w = java.nio.file.Files.walk(mapDir)
    try w.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    finally w.close()
    assert(store.currentVersion("chunk_ann_case_map").isEmpty)
    RagPipeline.mergeChunkIndex(store, delta)
    assert(mapPairs == assignPairs,
      "migrated case map diverged from the assignments")
  }

  test("api: searchDockets through a search store probes the stored " +
    "chunk-ANN index and matches the exact path at full probe width") {
    ReferenceCorpus.assumePresent()
    val store = new graft.store.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("graft-rag-api-ann").toString)
    RagPipeline.indexChunks(store, embeddings, lists = 4)
    // DefaultNprobe = 4 = lists here, so the stored path is exhaustive
    // and must agree with the embeddings-scan path exactly
    val apiStored = new GraftApi(spark, ingest.cases, ingest.judges,
      ingest.courts, ingest.caseTypes, ingest.parties, ingest.caseParties,
      Some(embeddings), embedder, Some(store))
    val apiExact = new GraftApi(spark, ingest.cases, ingest.judges,
      ingest.courts, ingest.caseTypes, ingest.parties, ingest.caseParties,
      Some(embeddings), embedder)
    val q = "motion for summary judgment"
    assert(apiStored.searchDockets(q, 4) == apiExact.searchDockets(q, 4))
  }

  test("api: listCases by judge + year filters and orders") {
    ReferenceCorpus.assumePresent()
    val api = new GraftApi(spark, ingest.cases, ingest.judges, ingest.courts,
      ingest.caseTypes, ingest.parties, ingest.caseParties, Some(embeddings), embedder)
    val rows = api.listCases(judge = Some("Maria Rodriguez"), year = None)
    assert(rows.collect().forall(_.judge.exists(
      j => j.toLowerCase.contains("maria rodriguez"))))
    val y2023 = api.listCases(judge = None, year = Some(2023)).collect()
    assert(y2023.nonEmpty)
    assert(y2023.forall(_.filed_date.startsWith("2023")))
    val dates = y2023.map(_.filed_date)
    assert(dates.sameElements(dates.sorted.reverse))
    intercept[IllegalArgumentException](api.listCases(None, None))
  }

  test("api: listCases year filter prunes snapshot partitions") {
    ReferenceCorpus.assumePresent()
    // persist cases the way GraftCli does (hive-partitioned by
    // filed_year) and assert the year path reads ONE year directory:
    // the pruning evidence lives in the scan's PartitionFilters, same
    // style as BucketedJoinSpec
    val root = java.nio.file.Files.createTempDirectory("graft-api-store").toString
    val store = new graft.store.SnapshotStore(spark, root)
    store.write("cases", ingest.cases, partitionCols = Seq("filed_year"))
    val snap = store.read("cases").get
    val api = new GraftApi(spark, snap, ingest.judges, ingest.courts,
      ingest.caseTypes, ingest.parties, ingest.caseParties)
    val ds = api.listCases(judge = None, year = Some(2023))
    val got = ds.collect() // trigger execution so the adaptive plan finalizes
    val plan = ds.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*filed_year[^\\]]*\\].*"),
      s"filed_year not in PartitionFilters:\n$plan")
    // the scan must actually select a strict subset of partitions. Under AQE
    // both AdaptiveSparkPlanExec and the QueryStageExec wrappers it inserts
    // are LEAF nodes holding their subtree in a field, so a plain collect
    // never reaches the scan — recurse through them explicitly.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
    }.flatten
    val scans = allScans(ds.queryExecution.executedPlan)
    assert(scans.nonEmpty,
      s"no FileSourceScanExec found in:\n${ds.queryExecution.executedPlan}")
    assert(scans.exists(_.selectedPartitions.partitionCount <
      snap.select("filed_year").distinct().count()), "no partition was pruned")
    // and the pruned path returns the same rows as the unpruned input
    val expect = new GraftApi(spark, ingest.cases, ingest.judges, ingest.courts,
      ingest.caseTypes, ingest.parties, ingest.caseParties)
      .listCases(judge = None, year = Some(2023)).collect()
    assert(got.toSeq == expect.toSeq)
  }

  test("api: getCase + getParties") {
    ReferenceCorpus.assumePresent()
    val api = new GraftApi(spark, ingest.cases, ingest.judges, ingest.courts,
      ingest.caseTypes, ingest.parties, ingest.caseParties, Some(embeddings), embedder)
    val detail = api.getCase("1:23-cv-12345")
    assert(detail.isDefined)
    assert(detail.get.case_type.contains("civil"))
    assert(detail.get.docket_text.nonEmpty)
    assert(api.getCase("no-such-case").isEmpty)
    val ps = api.getParties("1:23-cv-12345")
    assert(ps.nonEmpty)
    assert(ps == ps.sortBy(p => (p.role, p.name)))
  }

  test("api: searchDockets returns k results") {
    ReferenceCorpus.assumePresent()
    val api = new GraftApi(spark, ingest.cases, ingest.judges, ingest.courts,
      ingest.caseTypes, ingest.parties, ingest.caseParties, Some(embeddings), embedder)
    val res = api.searchDockets("motion for summary judgment", 4)
    assert(res.length == 4)
    intercept[IllegalArgumentException](api.searchDockets("x", 3))
    intercept[IllegalArgumentException](api.searchDockets("valid query", 51))
    intercept[IllegalArgumentException](
      api.listCases(judge = None, year = Some(1800)))
  }
}
