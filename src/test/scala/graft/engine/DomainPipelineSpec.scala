package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The composed domain pipeline: execution-mode parity (lazy single plan
  * vs Orchestrator stage fold with materialised edges — plumbing must
  * never change semantics), CRM conservation (covered + unsecured
  * reconstitutes EAD at exposure grain, reference
  * `tests/properties/test_conservation.py`), and contract discipline on
  * the derived domain tables.
  */
class DomainPipelineSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("orchestrated stage fold equals the lazy single-plan summary") {
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val lazySummary = DomainPipeline.summary(spark, sfDir).collect().toSeq
    val withMemo = persisted
    // the fold's edges share plans with the memo's, and a plan is cached
    // once: release the memo so the fold's own persists can be counted
    DomainPipeline.releaseLedger(spark, sfDir)
    val before = persisted
    // the memo held the ledger and its summary: its build persists no edge
    assert(withMemo - before == 2, s"${withMemo - before} RDDs held by the memo")
    val (stages, kSummary) = DomainPipeline.stages(spark, sfDir)
    val ctx = Orchestrator.runStages(stages, PipelineContext())
    val orchestrated = ctx.get(kSummary).collect().toSeq
    assert(lazySummary == orchestrated,
      s"execution modes diverge:\n lazy=$lazySummary\n orch=$orchestrated")
    assert(ctx.timings.map(_._1) ==
      Seq("load_enrich", "hierarchy_classify", "calc_crm_rwa", "aggregate"))
    // one edge outlives the fold (the ledger the summary reads), and only
    // until the caller releases it
    assert(persisted == before + 1, s"${persisted - before} RDDs left by the fold")
    ctx.release()
    assert(persisted == before, s"${persisted - before} RDDs left after release")
  }

  test("CRM conservation: covered + unsecured = EAD per exposure (to the cent)") {
    val led = DomainPipeline.ledger(spark, sfDir)
    // q2-rounding of each allocated item can move a leg by <1 cent; with
    // <=5 CRM items per exposure the reconstruction error is bounded by
    // a few cents, never more.
    val bad = led.filter(
      abs(col("coll_covered") + col("guar_covered") + col("unsecured")
        - col("ead_pre_crm")) > 0.05)
    assert(bad.count() == 0, s"conservation violated: ${bad.head(3).toSeq}")
    // and coverage never exceeds EAD (the waterfall cap)
    val over = led.filter(
      col("coll_covered") + col("guar_covered") > col("ead_pre_crm") + 0.05)
    assert(over.count() == 0, s"over-allocation: ${over.head(3).toSeq}")
  }

  test("ledger memo: one frame per (dir, regime); eviction rebuilds; release unpersists") {
    import org.apache.spark.storage.StorageLevel
    val a = DomainPipeline.ledger(spark, sfDir)
    // memo hit: the SAME DataFrame object — consumers share one
    // materialisation by identity, not by canonical-plan matching. The
    // handed-out frame is a re-rooted LogicalRDD leaf (plan-size
    // discipline); persistence lives on the underlying build handle.
    assert(DomainPipeline.ledger(spark, sfDir) eq a)
    val aH = DomainPipeline.persistedHandle(spark, sfDir).get
    assert(aH.storageLevel != StorageLevel.NONE)
    // distinct regimes are distinct memo entries
    assert(DomainPipeline.ledger(spark, sfDir, irbMode = false) ne a)
    // an external cache sweep evicts the data -> the next call must
    // REBUILD a fresh plan (never re-persist the stale frame)
    spark.catalog.clearCache()
    val b = DomainPipeline.ledger(spark, sfDir)
    assert(b ne a)
    val bH = DomainPipeline.persistedHandle(spark, sfDir).get
    assert(bH.storageLevel != StorageLevel.NONE)
    // release drops the entry and unpersists; the next call is fresh
    DomainPipeline.releaseLedger(spark, sfDir)
    assert(bH.storageLevel == StorageLevel.NONE)
    assert(DomainPipeline.ledger(spark, sfDir) ne b)
    DomainPipeline.releaseLedger(spark, sfDir)
    DomainPipeline.releaseLedger(spark, sfDir, irbMode = false)
  }

  test("ledger is per-exposure, carries the audit columns, matches contracts") {
    val led = DomainPipeline.ledger(spark, sfDir)
    val cols = led.columns.toSet
    val required = Set("exposure_reference", "exposure_type",
      "counterparty_reference", "parent_group", "exposure_class", "approach",
      "effective_cqs", "ead_pre_crm", "own_rw", "coll_covered",
      "guar_covered", "unsecured", "rwa_pre_sf", "sf_factor", "rwa")
    assert(required.subsetOf(cols), s"missing: ${required -- cols}")
    val n = led.count()
    val distinctRefs = led.select("exposure_reference").distinct().count()
    assert(n == distinctRefs, "ledger must stay at exposure grain")
    // conform discipline: unrated counterparties keep null own_cqs (no
    // silent fill), but effective_cqs is always resolved
    assert(led.filter(col("own_cqs").isNull).count() > 0)
    assert(led.filter(col("effective_cqs").isNull).count() == 0)
  }

  test("reporting scope: the scoped run equals the full run filtered to " +
    "the entity (the perimeter is closed under every window partition)") {
    import org.apache.spark.sql.functions._
    import graft.queries.Q.dsum
    val scoped = graft.queries.Domain.q168ReportingScope
      .build(spark, sfDir)
      .select("exposure_class", "approach", "n_exposures", "total_rwa")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val filtered = DomainPipeline.ledger(spark, sfDir)
      .filter(col("parent_group") === "GRP-3")
      .groupBy(col("exposure_class"), col("approach"))
      .agg(count(lit(1)).as("n"), dsum(col("rwa"), 2).as("rwa"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(scoped === filtered)
  }
}
