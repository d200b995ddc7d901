package graft.engine

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

import graft.SparkSpec
import graft.api.{CalcConfig, CreditRiskCalc}

/** What the memoised ledger and its summary cost their readers: the
  * re-rooted leaf scans the cached blocks without converting rows, the
  * summary is computed at most once per ledger and only when read, every
  * persist is released with the ledger, and the build joins no constant
  * rule table. */
class LedgerMemoSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Whether `df` is registered in the cache AND its blocks were built. */
  private def cacheFilled(df: DataFrame): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  test("reading the re-rooted ledger converts no rows to or from Row") {
    val led = DomainPipeline.ledger(spark, sfDir)
    val leaves = led.queryExecution.analyzed.collect { case r: LogicalRDD => r }
    assert(leaves.size == 1, led.queryExecution.analyzed.toString)
    val lineage = leaves.head.rdd.toDebugString
    assert(!lineage.contains("at createDataFrame at") && !lineage.contains("at rdd at"),
      s"Row conversion in the ledger leaf's lineage:\n$lineage")
    assert(led.count() > 0)
    DomainPipeline.releaseLedger(spark, sfDir)
  }

  test("summary: one frame per ledger and regime, computed only when read") {
    DomainPipeline.releaseLedger(spark, sfDir)
    val calc = new CreditRiskCalc(spark, CalcConfig(sfDir, permissionMode = "irb"))
    val res = calc.calculate()
    val sm = res.summary.get
    assert(DomainPipeline.summary(spark, sfDir) eq sm)
    assert(calc.calculate().summary.get eq sm)
    assert(!cacheFilled(sm), "calculate() must not run the summary")
    val total = res.totalRwa
    assert(cacheFilled(sm), "the first read fills the summary's cache")
    assert(calc.calculate().totalRwa == total)
    // the regime is part of the key
    assert(DomainPipeline.summary(spark, sfDir, b31 = true) ne sm)
    // an evicted ledger is rebuilt, and its summaries with it
    spark.catalog.clearCache()
    assert(DomainPipeline.summary(spark, sfDir) ne sm)
    DomainPipeline.releaseLedger(spark, sfDir)
  }

  test("releaseLedger unpersists the ledger and its summaries") {
    DomainPipeline.releaseLedger(spark, sfDir)
    val before = spark.sparkContext.getPersistentRDDs.size
    for (fw <- Seq("CRR", "BASEL_3_1")) {
      val res = new CreditRiskCalc(spark,
        CalcConfig(sfDir, framework = fw, permissionMode = "irb")).calculate()
      res.totalRwa
      res.summary.get.collect()
      res.ledger.get.count()
    }
    // the ledger and one summary per regime: the build persists no edge
    val held = spark.sparkContext.getPersistentRDDs.size - before
    assert(held == 3, s"$held persisted RDDs")
    DomainPipeline.releaseLedger(spark, sfDir)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("calculate() in a fresh session starts at most 14 Spark jobs") {
    // the cache is shared by sessions: a plan cached by an earlier test
    // would let the build skip its stages
    spark.catalog.clearCache()
    val s = spark.newSession()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(counter)
    try {
      assert(new CreditRiskCalc(s, CalcConfig(sfDir, permissionMode = "irb"))
        .calculate().success)
      ListenerBusBridge.drain(sc)
    } finally sc.removeSparkListener(counter)
    info(s"${jobs.get} Spark jobs")
    assert(jobs.get <= 14, s"${jobs.get} jobs")
    DomainPipeline.releaseLedger(s, sfDir)
  }

  test("the ledger build joins no constant rule table") {
    DomainPipeline.ledger(spark, sfDir)
    val plan = DomainPipeline.persistedHandle(spark, sfDir).get.queryExecution.analyzed
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    val withTable = joins.filter(_.children.exists(_.exists(_.isInstanceOf[LocalRelation])))
    assert(withTable.isEmpty, s"joins over a LocalRelation:\n${withTable.mkString("\n")}")
    DomainPipeline.releaseLedger(spark, sfDir)
  }
}
