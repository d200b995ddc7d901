package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.storage.StorageLevel

import graft.api.{CalcConfig, CreditRiskCalc, RestServer}
import graft.engine.DomainPipeline
import graft.reporting.TemplateBundle

/** The session scope owns every memo and every persisted query frame: a
  * released session leaves nothing behind, a query's end unpersists what
  * it persisted (and only that), a memo is built once however many
  * readers race for it, and the REST server's evictions hand back what
  * the evicted run made. */
class SessionScopeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  test("fresh sessions, each released, leave no memo and no cached block") {
    // the cache is shared by sessions: a plan cached by another suite
    // would make this session's persist a no-op and its release the
    // other session's loss
    spark.catalog.clearCache()
    val (size0, rdds0) = (SessionScope.size, persisted)
    for (_ <- 1 to 5) {
      val s = spark.newSession()
      val res = new CreditRiskCalc(s, CalcConfig(sfDir, permissionMode = "irb")).calculate()
      assert(res.success && res.totalRwa > 0)
      assert(SparkEntry.queries("q130_ov1_overview")(s, sfDir).collect().nonEmpty)
      assert(SparkEntry.queries("q159_validation_catalogue")(s, sfDir).collect().nonEmpty)
      assert(SessionScope.size > size0)
      TemplateBundle.releaseSession(s)
      assert(SessionScope.size == size0, "the released session left memo entries")
      assert(persisted == rdds0, s"${persisted - rdds0} RDDs left by a released session")
    }
  }

  /** Every battery query whose build persists a frame (directly or in an
    * operator it calls). */
  private val persistingQueries = Seq(
    "q141_corep_c34", "q162_ccr_wwr_gate",
    "q158_corep_c09", "q160_corep_c0902",
    "q86_run_comparison", "q93_reconciliation", "q98_securitisation_allocator",
    "q99_transition", "q115_tieouts", "q168_reporting_scope",
    "q60_dedup_exact", "q61_minhash_lsh", "q62_simhash", "q63_ngram_jaccard",
    "q64_cosine_topk", "q65_ann_ivf", "q70_multimodal", "q71_embedding_near_dup",
    "q75_dedup_clusters", "q78_sequence_packing", "q119_pq_ann", "q142_bm25_topk",
    "q173_semdedup",
    "q113_life_insurance", "q114_third_party_deposit",
    "q49_hierarchy_resolve")

  test("a query's end unpersists every frame it persisted and keeps the memos") {
    spark.catalog.clearCache()
    val s = spark.newSession()
    def ledgers(): Unit = Seq(true, false).foreach(DomainPipeline.releaseLedger(s, sfDir, _))
    try {
      for (name <- persistingQueries) {
        ledgers()
        val before = persisted
        SparkEntry.queries(name)(s, sfDir).collect()
        SessionScope.endQuery(s)
        // the memoised ledger (and its summaries) are not the query's
        for (irb <- Seq(true, false); h <- DomainPipeline.persistedHandle(s, sfDir, irb))
          assert(h.storageLevel != StorageLevel.NONE, s"$name's end evicted the ledger")
        ledgers()
        assert(persisted == before, s"$name left ${persisted - before} persisted RDDs")
      }
      // the distributed hierarchy resolution pins one frame per round
      val edges = spark.createDataFrame(
        (1 to 6).map(i => (s"n$i", s"n${i + 1}"))).toDF("child", "parent")
      val before = persisted
      assert(operators.Hierarchy.resolveByFixpoint(edges, "child", "parent").count() == 6)
      assert(persisted > before)
      SessionScope.endQuery(spark)
      assert(persisted == before, s"${persisted - before} hierarchy rounds left")
    } finally TemplateBundle.releaseSession(s)
  }

  test("concurrent first readers build a memo once") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val reads = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          SessionScope.memo(s, "scope-spec", "k") {
            builds.incrementAndGet()
            Thread.sleep(50)
            new Object
          }
        })
      }
      start.countDown()
      val values = reads.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1, s"${builds.get} builds")
      assert(values.forall(_ eq values.head))
    } finally {
      pool.shutdownNow()
      SessionScope.release(s)
    }
  }

  test("REST: /validate and an evicted run hand back the memos they made") {
    def book(): Path = {
      val d = Files.createTempDirectory("scope-spec-book")
      Files.list(java.nio.file.Paths.get(sfDir)).forEach(f =>
        Files.copy(f, d.resolve(f.getFileName)))
      d
    }
    def http(port: Int, path: String, body: String): (Int, String) = {
      val conn = new URI(s"http://127.0.0.1:$port$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
      val status = conn.getResponseCode
      val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
      (status, new String(is.readAllBytes(), StandardCharsets.UTF_8))
    }
    val s = spark.newSession()
    val srv = new RestServer(s)
    val port = srv.start()
    val (p, q) = (book(), book())
    try {
      val before = SessionScope.size
      val (vs, vb) = http(port, "/api/validate", s"""{"dataPath": "$p"}""")
      assert(vs == 200 && vb.contains("\"valid\":true"), vb)
      assert(SessionScope.size == before, "/validate left memo entries")
      // one stored run on p, then 32 on q (a new file in q changes the
      // run fingerprint): the store holds 32, so p's run is evicted
      val (cs, cb) = http(port, "/api/calculate", s"""{"dataPath": "$p"}""")
      assert(cs == 200 && cb.contains("\"success\":true"), cb)
      assert(DomainPipeline.persistedHandle(s, p.toString).nonEmpty)
      for (i <- 1 to 32) {
        Files.writeString(q.resolve(s"stamp-$i"), "")
        val (qs, qb) = http(port, "/api/calculate", s"""{"dataPath": "$q"}""")
        assert(qs == 200 && qb.contains("\"reused\":false"), qb)
      }
      assert(DomainPipeline.persistedHandle(s, p.toString).isEmpty,
        "the evicted run's ledger is still memoised")
      SessionScope.drop(s, q.toString)
      assert(SessionScope.size == before, "the evicted run left memo entries")
    } finally {
      srv.stop()
      SessionScope.release(s)
      Seq(p, q).foreach(d => Files.walk(d).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f)))
    }
  }
}
