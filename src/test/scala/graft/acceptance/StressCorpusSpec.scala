package graft.acceptance

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Dedup, TextAnalysis}

/** Corpus-scale stress tier for the LLM-data half of the engine — the
  * analogue of `Stress1M` for the dedup/ANN/packing stack (r17 verdict
  * item 1). The RWA pipeline has measured 100K/1M posture; this tier
  * gives the corpus battery its first MEASURED (not plan-argued) scale
  * datapoint: a multi-million-doc synthetic corpus, parquet-staged
  * (generate-then-time, the reference benchmark's own split —
  * `tests/benchmarks/test_pipeline_benchmark.py:246-283` for the tier
  * discipline), run through the PRODUCTION paths — exact digest dedup,
  * 8×4 minhash-LSH at the production `maxBucket = 2000`, the xxhash64
  * 64-bit simhash chunk-LSH, connected components, and the sequence-
  * packing census — with per-stage wall/spill/skew/exchange telemetry
  * recorded to `STRESS_r{N}.json` (verdict item 4).
  *
  * The corpus plants its own ground truth: per 10-doc block, doc 9 is
  * an EXACT copy of doc 0 and doc 8 a NEAR-dup (last token changed), so
  * recall is a hard number at any scale, not a fixture artifact.
  * Sources are skewed on purpose (one source holds ~40% of the corpus)
  * — the per-source packing window's funnel is a known sequential
  * shape, and this tier is where its cost is measured rather than
  * argued.
  */
object CorpusBook {

  /** Deterministic synthetic corpus, generated DISTRIBUTED (spark.range
    * + seed-stable xxhash64 — never a driver-side Seq; see the staging
    * rule in the verify recipe). Per 10-block: docs 0..7 unique, doc 8 =
    * near-dup of doc 0 (last token swapped), doc 9 = exact dup of doc 0.
    * Token count 20..99 per doc, ~30k-word vocabulary, source split
    * web 40% / books 20% / code 15% / 25 small tail sources. */
  def buildCorpus(spark: SparkSession, nDocs: Long, vocab: Int = 30000): DataFrame = {
    val u = pmod(xxhash64(lit("src"), col("doc_id")), lit(100))
    spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("m", pmod(col("doc_id"), lit(10)))
      // doc 8 and 9 borrow the BLOCK ROOT's seed so their text derives
      // from doc 0's token stream
      .withColumn("seed_id",
        when(col("m") <= 7, col("doc_id")).otherwise(col("doc_id") - col("m")))
      .withColumn("toks", transform(
        sequence(lit(0),
          (lit(19) + pmod(xxhash64(lit("len"), col("seed_id")), lit(80))).cast("int")),
        i => concat(lit("w"),
          pmod(xxhash64(lit("tok"), col("seed_id"), i), lit(vocab)).cast("string"))))
      .withColumn("toks2",
        when(col("m") === 8,
          concat(slice(col("toks"), lit(1), size(col("toks")) - 1),
            array(lit("znearduptoken"))))
          .otherwise(col("toks")))
      .select(
        col("doc_id"),
        when(u < 40, "web").when(u < 60, "books").when(u < 75, "code")
          .otherwise(concat(lit("src"), u.cast("string"))).as("source"),
        array_join(col("toks2"), " ").as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
  }

  /** The planted dup pairs for recall measurement: (block root, root +
    * `offset`) — offset 9 = exact dups, offset 8 = near-dups. */
  def plantedPairs(spark: SparkSession, nDocs: Long, offset: Int): DataFrame =
    spark.range(nDocs / 10).select(
      (col("id") * 10).as("id_a"), (col("id") * 10 + offset).as("id_b"))
}

object CorpusStress {

  /** Run the production corpus chain at `nDocs`; returns per-stage
    * telemetry. Every stage both TIMES the production operator and
    * ASSERTS its planted-ground-truth contract, so the tier is a
    * correctness gate at scale, not just a stopwatch. */
  def run(spark: SparkSession, nDocs: Long,
      info: String => Unit): Seq[StageProbe.StageTel] = {
    require(nDocs % 10 == 0, "nDocs must be a multiple of the 10-doc block")
    val nBlocks = nDocs / 10
    val probe = new StageProbe(spark, info, "corpus")
    import probe.{fullWidth, stage}

    // ---- stage 0: generate + parquet-stage (untimed by convention —
    // the reference's generate-then-time split; wall reported for info)
    val dir = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    val tg0 = System.nanoTime()
    CorpusBook.buildCorpus(spark, nDocs)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/documents")
    val d = spark.read.parquet(s"$dir/documents")
    info(f"[corpus] staged $nDocs docs in ${(System.nanoTime() - tg0) / 1e9}%.1f s (untimed) at $dir")

    // ---- stage 1: exact dedup (md5 digest groupBy, rank-1 survivor)
    stage("exact_dedup", note = "one shuffle on digest") {
      val (survivors, _) = Dedup.exact(d, "doc_id", md5(col("text")))
      val r = fullWidth(survivors)
      assert(r._1 == nDocs - nBlocks,
        s"exact dedup must collapse exactly the planted (root,9) pairs: ${r._1} vs ${nDocs - nBlocks}")
      r
    }
    spark.catalog.clearCache()

    // ---- stage 2: minhash-LSH at the PRODUCTION config (8×4, cap 2000)
    val cands = Dedup.minhashLshCandidates(
      d, "doc_id", "text", shingleN = 3, k = 32, bands = 8, maxBucket = 2000)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stage("minhash_lsh", note = "8x4 bands, maxBucket=2000") {
      fullWidth(cands)
    }
    // recall against the planted truth (cheap joins on the persisted set)
    val exactFound = cands.join(
      CorpusBook.plantedPairs(spark, nDocs, 9), Seq("id_a", "id_b"), "left_semi").count()
    val nearFound = cands.join(
      CorpusBook.plantedPairs(spark, nDocs, 8), Seq("id_a", "id_b"), "left_semi").count()
    info(f"[corpus] minhash recall: exact $exactFound/$nBlocks, near $nearFound/$nBlocks (${100.0 * nearFound / nBlocks}%.2f%%)")
    assert(exactFound == nBlocks, "identical docs must always collide in every band")
    assert(nearFound >= (0.9 * nBlocks).toLong,
      s"near-dup recall $nearFound/$nBlocks under the 8x4 banding floor")

    // ---- stage 3: connected components over the candidate pairs —
    // BOTH arms measured: the size-guarded driver union-find fast path
    // (what production takes when the LSH pair set fits the guard) and
    // the forced distributed pointer-doubling fixpoint (the over-guard
    // 100 TB arm), asserted against the same planted block count.
    def ccStage(stageName: String, note: String, limit: Long): Unit =
      stage(stageName, note = note) {
        val cc = Dedup.connectedComponents(
          cands.filter(col("est_jaccard") >= 0.5).select(col("id_a"), col("id_b")),
          driverEdgeLimit = limit)
        val comps = cc.agg(countDistinct(col("component")).as("n"),
          count(lit(1)).as("nodes"))
        val row = comps.collect()(0)
        val (nComps, nNodes) = (row.getLong(0), row.getLong(1))
        info(s"[corpus] components[$stageName]: $nComps over $nNodes nodes (planted blocks: $nBlocks)")
        assert(nComps >= (0.99 * nBlocks).toLong && nComps <= (1.001 * nBlocks).toLong + 1,
          s"cluster count $nComps must track the $nBlocks planted blocks")
        (nComps, comps.queryExecution.executedPlan.toString)
      }
    ccStage("connected_components", "size-guarded driver union-find (production arm)",
      2000000L)
    ccStage("connected_components_distributed",
      "pointer-doubling fixpoint (forced over-guard arm)", 0L)
    cands.unpersist()
    spark.catalog.clearCache()

    // ---- stage 4: simhash chunk-LSH (production xxhash64 64-bit tier)
    stage("simhash", note = "64-bit xxhash64, 4x16-bit chunks") {
      val sc = Dedup.simhashCandidates(d, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val r = fullWidth(sc)
      val scExact = sc.join(
        CorpusBook.plantedPairs(spark, nDocs, 9), Seq("id_a", "id_b"), "left_semi").count()
      sc.unpersist()
      assert(scExact == nBlocks,
        s"hamming-0 pairs are pigeonhole-guaranteed: $scExact vs $nBlocks")
      r
    }
    spark.catalog.clearCache()

    // ---- stage 5: sequence-packing census (q78 shape, skewed source —
    // the two-level prefix sum keeps web=40% off a single task)
    stage("packing_census", note = "two-level prefix sum; web=40% stays parallel") {
      val cap = 8192L
      val seq0 = d.select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      val census = graft.operators.PrefixSum.bucketedRunningSum(
        seq0, Seq("source"), expr("doc_id DIV 65536"),
        Seq(col("doc_id")), col("n_tokens"), "cum_end")
        .withColumn("bin_start", expr(s"(cum_end - n_tokens) DIV $cap"))
        .withColumn("bin_end", expr(s"(cum_end - 1) DIV $cap"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          count(when(col("bin_end") > col("bin_start"), lit(1))).as("n_straddlers"))
      val rows = census.collect()
      assert(rows.map(_.getLong(1)).sum == nDocs, "packing census must cover every doc")
      (rows.map(_.getLong(1)).sum, census.queryExecution.executedPlan.toString)
    }

    // ---- stage 6: compressed shard export + reload — q182's PRODUCTION
    // write path (repartitionByRange, no window) at the corpus tier
    // (r18 "What's missing" #2: the write path's file-estate behaviour
    // was unmeasured at scale). Conservation is asserted per source
    // through the gzip round-trip, and the file estate must scale with
    // the q156 plan.
    probe.stageDynamic("shard_export") {
      import graft.contracts.{ColumnSpec, EdgeContract}
      import org.apache.spark.sql.types.{LongType, StringType}
      val target = 1048576L
      val plan = graft.queries.SourceOps.shardPlanOf(d, target, overhead = 16L)
      val nBins = plan.agg(sum(col("n_shards"))).head().getLong(0).toInt
      val out = s"$dir/shards"
      graft.queries.SourceOps.shardExportRange(
        d.select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
          col("source")),
        nBins, out)
      val contract = EdgeContract("documents_shards", Seq(
        "doc_id" -> ColumnSpec(LongType, required = true),
        "text" -> ColumnSpec(StringType, required = true),
        "lang" -> ColumnSpec(StringType),
        "n_chars" -> ColumnSpec(LongType),
        "source" -> ColumnSpec(StringType)))
      val loaded = graft.sources.Loader.loadNdjson(spark, out, contract)
      assert(loaded.errors.isEmpty, s"reload must seal clean: ${loaded.errors}")
      def conserve(df: DataFrame) = df.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(length(coalesce(col("text"), lit(""))).cast("long")).as("sum_chars"))
      val in = conserve(d)
      val back = conserve(loaded.df)
      assert(in.exceptAll(back).isEmpty && back.exceptAll(in).isEmpty,
        "per-source conservation must hold through the gzip round-trip")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      val files = walk(new java.io.File(out)).filter(_.getName.endsWith(".json.gz"))
      val bytes = files.map(_.length).sum
      assert(files.size >= math.max(nBins / 2, 1),
        s"placement regressed: ${files.size} files for $nBins planned bins")
      (nDocs, back.queryExecution.executedPlan.toString,
        s"${files.size} gz files, $bytes bytes, nBins=$nBins, 1 MiB target")
    }
    probe.telemetry
  }
}

/** `Test/runMain graft.acceptance.StressCorpus` — the on-demand
  * multi-million-doc tier (default 3M docs; override with
  * GRAFT_CORPUS_DOCS). Records its telemetry as the `corpus` tier of
  * `STRESS_r{N}.json`. */
object StressCorpus {
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.get("GRAFT_CORPUS_DOCS").flatMap(_.toLongOption)
      .getOrElse(3000000L)
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val tels = CorpusStress.run(spark, nDocs, println)
    val total = (System.nanoTime() - t0) / 1e9
    println(f"[corpus] tier total (incl. staging): $total%.1f s")
    val path = StressArtifact.record("corpus",
      f"""{"n_docs": $nDocs, "total_s": $total%.1f, "loadavg": "${StressArtifact.loadavg()}", "stages": {${tels.map(_.json).mkString(", ")}}}""")
    println(s"[corpus] telemetry recorded to $path")
    spark.stop()
  }
}

/** Ungated small-scale pass of the SAME chain (correctness of the
  * planted-truth contracts rides the census suite; the telemetry tier
  * is the env-gated main above). */
class StressCorpusSpec extends SparkSpec {
  test("corpus stress chain holds its planted ground truth at suite scale") {
    val tels = CorpusStress.run(spark, nDocs = 20000L, info(_))
    // 7 stages since the r19 shard_export stage landed (exact dedup,
    // minhash LSH, both connected-components arms, simhash, packing
    // census, shard export) — the r19 driver's tests_ok failure was this
    // assertion still expecting the pre-shard_export count of 6.
    assert(tels.size == 7)
    assert(tels.forall(_.rows > 0))
  }
}
