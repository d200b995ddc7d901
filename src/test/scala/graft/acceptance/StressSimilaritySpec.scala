package graft.acceptance

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** Corpus-scale stress tier for the similarity/ANN half of the engine
  * (r18 verdict item 2: `operators/Similarity.scala` had never run above
  * sf0.1's ~600K rows of 8-dim toy vectors). Multi-million vectors at a
  * REALISTIC dimensionality (128), parquet-staged (generate-then-time,
  * the reference benchmark's split — `tests/benchmarks/
  * test_pipeline_benchmark.py:246-283` for the tier discipline), run
  * through the PRODUCTION paths with planted ground truth asserted at
  * scale: scorable's full-table keep-first hygiene window, sign-LSH
  * near-dup, k-means IVF train/assign/probe with a planted-cluster
  * recall pin, PQ coding + ADC scoring, and the sign-bit IVF tier.
  * Telemetry (wall/spill/skew/exchanges per stage) lands in the
  * `similarity` tier of `STRESS_r{N}.json`.
  */
object SimilarityBook {

  /** Isotropic corpus with planted structure, generated DISTRIBUTED
    * (spark.range + seed-stable xxhash64, never a driver-side Seq).
    * Per 10-block: docs 0..7 unique, doc 8 a NEAR-dup of doc 0
    * (±0.02 per-component perturbation → cosine ≈ 0.9998), doc 9 an
    * EXACT copy of doc 0. Hygiene plants for the scorable contract:
    * vec_id ≡ 13 (mod 10000) carries a NULL embedding, ≡ 17 a zero
    * vector — neither residue ever collides with the block structure
    * (13 → m=3, 17 → m=7). */
  def buildVectors(spark: SparkSession, nVecs: Long, dim: Int = 128): DataFrame = {
    def u(tag: String, id: org.apache.spark.sql.Column,
        j: org.apache.spark.sql.Column) =
      pmod(xxhash64(lit(tag), id, j), lit(2001)).cast("double") / lit(1000.0) - lit(1.0)
    spark.range(nVecs).select(col("id").as("vec_id"))
      .withColumn("m", pmod(col("vec_id"), lit(10)))
      .withColumn("seed_id",
        when(col("m") >= 8, col("vec_id") - col("m")).otherwise(col("vec_id")))
      .withColumn("embedding",
        when(pmod(col("vec_id"), lit(10000)) === 13,
          lit(null).cast("array<float>"))
        .when(pmod(col("vec_id"), lit(10000)) === 17,
          transform(sequence(lit(1), lit(dim)), _ => lit(0.0f)))
        .otherwise(transform(sequence(lit(1), lit(dim)), j =>
          (u("v", col("seed_id"), j) +
            when(col("m") === 8, u("p", col("vec_id"), j) * lit(0.02))
              .otherwise(lit(0.0))).cast("float"))))
      .select(col("vec_id"), col("embedding"))
  }

  /** Planted-cluster corpus for the k-means IVF recall pin: `k` compact
    * Gaussian-ish clusters (center amplitude ~U[-1,1] per dim, noise
    * ±0.15) — intra-cluster cosine ≈ 0.98, inter ≈ 0 ± 0.09 at 128
    * dims, so a probe's true neighbours are provably intra-cluster. */
  def buildClustered(spark: SparkSession, nVecs: Long, dim: Int = 128,
      k: Int = 64): DataFrame = {
    def u(tag: String, id: org.apache.spark.sql.Column,
        j: org.apache.spark.sql.Column) =
      pmod(xxhash64(lit(tag), id, j), lit(2001)).cast("double") / lit(1000.0) - lit(1.0)
    spark.range(nVecs).select(col("id").as("vec_id"))
      .withColumn("cluster", pmod(col("vec_id"), lit(k)))
      .withColumn("embedding", transform(sequence(lit(1), lit(dim)), j =>
        (u("cc", col("cluster"), j) + u("cn", col("vec_id"), j) * lit(0.15))
          .cast("float")))
      .select(col("vec_id"), col("embedding"))
  }

  /** Planted pairs (block root, root + offset): 9 = exact, 8 = near. */
  def plantedPairs(spark: SparkSession, nVecs: Long, offset: Int): DataFrame =
    spark.range(nVecs / 10).select(
      (col("id") * 10).as("id_a"), (col("id") * 10 + offset).as("id_b"))
}

object SimilarityStress {

  /** Run the production similarity chain at `nVecs`; every stage TIMES
    * the production operator and ASSERTS its planted-truth contract. */
  def run(spark: SparkSession, nVecs: Long, dim: Int = 128,
      info: String => Unit): Seq[StageProbe.StageTel] = {
    require(nVecs % 10000 == 0, "nVecs must be a multiple of 10000 (hygiene plants)")
    val nBlocks = nVecs / 10
    val probe = new StageProbe(spark, info, "similarity")
    import probe.{fullWidth, stage}

    // ---- stage 0: generate + parquet-stage (untimed by convention)
    val dir = java.nio.file.Files.createTempDirectory("graft_simstress").toString
    val tg0 = System.nanoTime()
    SimilarityBook.buildVectors(spark, nVecs, dim)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/vectors")
    SimilarityBook.buildClustered(spark, nVecs, dim)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/clustered")
    val vecs = spark.read.parquet(s"$dir/vectors")
    val clustered = spark.read.parquet(s"$dir/clustered")
    info(f"[similarity] staged 2x$nVecs vectors (dim $dim) in ${(System.nanoTime() - tg0) / 1e9}%.1f s (untimed) at $dir")

    // ---- stage 1: scorable hygiene — the full-table keep-first window
    val nPlanted = 2 * (nVecs / 10000) // null + zero plants
    val e = Similarity.scorable(vecs, "vec_id", "embedding")
    stage("scorable_hygiene", note = "keep-first window over the full table") {
      val r = fullWidth(e)
      assert(r._1 == nVecs - nPlanted,
        s"scorable must drop exactly the planted null/zero vectors: ${r._1} vs ${nVecs - nPlanted}")
      r
    }

    // ---- stage 2: sign-LSH near-dup at corpus-width banding. Band keys
    // must OUT-SCALE the corpus: 2^rowsPerBand ≥ nVecs keeps expected
    // bucket size ~1 (16-bit keys at 2M vectors meant ~30/bucket —
    // ~490M join pairs, and in-band collisions share 16 screen bits, so
    // the Hamming pre-filter passed half of them: measured 561 s with
    // ~89 GB spill before this sizing). 6×21 covers 126 of 128 dims;
    // per-band miss for a planted near-dup (cosine ≈ 0.9998, per-bit
    // flip ~0.005) is ~0.10, so recall ≈ 1 − 0.1^6. hammingMax 24 is
    // +7 sigma above a true cosine-0.95 pair's expected first-64-bit
    // Hamming distance and screens residual junk before the distinct.
    stage("sign_lsh", note = "6x21 bands (keys out-scale corpus), cap 1000, hamming<=24 pre-distinct") {
      val cands = Similarity.signLshNearDup(vecs, "vec_id", "embedding",
        bands = 6, rowsPerBand = 21, minCosine = 0.95, maxBucket = 1000,
        hammingMax = 24)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val r = fullWidth(cands)
      val exactFound = cands.join(
        SimilarityBook.plantedPairs(spark, nVecs, 9), Seq("id_a", "id_b"), "left_semi").count()
      val nearFound = cands.join(
        SimilarityBook.plantedPairs(spark, nVecs, 8), Seq("id_a", "id_b"), "left_semi").count()
      cands.unpersist()
      info(f"[similarity] sign-LSH recall: exact $exactFound/$nBlocks, near $nearFound/$nBlocks (${100.0 * nearFound / nBlocks}%.3f%%)")
      assert(exactFound == nBlocks, "identical vectors collide in every band")
      assert(nearFound >= (0.99 * nBlocks).toLong,
        s"near-dup recall $nearFound/$nBlocks under the 8x16 banding floor")
      r
    }
    graft.SessionScope.endQuery(spark)
    spark.catalog.clearCache()

    // ---- stage 3: k-means IVF train + assign (the spark.ml production
    // quantiser) over the planted-cluster corpus
    val (assignments0, model) = {
      var out: (DataFrame, org.apache.spark.ml.clustering.KMeansModel) = null
      stage("ivf_kmeans_train_assign", note = "nlist=64, full fit + assign") {
        val (a, m) = Similarity.ivfIndex(clustered, "vec_id", "embedding", nlist = 64)
        val slim = a.select(col("vec_id"), col("embedding"), col("cell"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        out = (slim, m)
        fullWidth(slim.select(col("vec_id"), col("cell")))
      }
      out
    }

    // ---- stage 4: IVF probe — planted-cluster recall, nprobe ladder
    stage("ivf_probe", note = "64 probes (one per planted cluster), k=10") {
      val probes = clustered.filter(col("vec_id") < 64)
      def intraFrac(nprobe: Int): Double = {
        val res = Similarity.ivfTopK(assignments0, model, probes,
          "vec_id", "embedding", k = 10, nprobe = nprobe)
        val n = res.count()
        val intra = res.filter(
          pmod(col("cand_id"), lit(64)) === pmod(col("probe_id"), lit(64))).count()
        if (n == 0) 0.0 else intra.toDouble / n
      }
      val at1 = intraFrac(1)
      val at4 = intraFrac(4)
      info(f"[similarity] IVF planted-cluster hit rate: nprobe=1 $at1%.3f, nprobe=4 $at4%.3f")
      assert(at4 >= 0.9, s"nprobe=4 planted-cluster hit rate $at4 under 0.9")
      assert(at4 >= at1 - 1e-9, "nested candidate sets: recall must be monotone in nprobe")
      val res4 = Similarity.ivfTopK(assignments0, model,
        probes, "vec_id", "embedding", k = 10, nprobe = 4)
      (res4.count(), res4.queryExecution.executedPlan.toString)
    }
    assignments0.unpersist()
    graft.SessionScope.endQuery(spark)
    spark.catalog.clearCache()

    // ---- stage 5: PQ code + ADC score (q119's shape at scale: codes by
    // map-side-combined argmin aggregation, candidates scored by code
    // lookups only)
    stage("pq_adc", note = "m=8 subspaces, 16 cents, 8 probes, ADC top-10") {
      val ev = Similarity.scorable(vecs, "vec_id", "embedding")
      val dv = ev.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val cents = dv.filter(col("vec_id") < 16)
        .select(col("vec_id").as("k"), col("v").as("c"))
      // codes by per-sub argmin aggregation — the exploded distance
      // diamond this replaces spilled ~11 GB and took 116 s at this tier
      val codes = Similarity.pqCodes(dv, cents, "vec_id", "v", 8, dim / 8)
      val probeIds = (0 until 8).map(_ * 10L) // block roots
      val ptable = Similarity.pqSubDistances(
          dv.filter(col("vec_id").isin(probeIds: _*)), cents,
          "vec_id", "v", 8, dim / 8)
        .select(col("pq_id").as("probe_id"), col("k"), col("sub"), col("dist"))
      val adc = codes.join(ptable, Seq("sub", "k"))
        .filter(col("cand_id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("cand_id"))
        .agg(sum(col("dist")).as("adc_dist"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id")).orderBy(col("adc_dist"), col("cand_id"))
      val top = adc.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = top.count()
      // the exact dup shares the probe's codes, so its ADC distance is
      // the global minimum over code space — it cannot miss the top-k
      val dupHits = top.filter(col("cand_id") === col("probe_id") + 9).count()
      assert(dupHits == probeIds.size.toLong,
        s"every probed root's exact dup must land in ADC top-10: $dupHits/${probeIds.size}")
      val plan = top.queryExecution.executedPlan.toString
      top.unpersist()
      (n, plan)
    }
    graft.SessionScope.endQuery(spark)
    spark.catalog.clearCache()

    // ---- stage 6: sign-bit IVF (q65's engine-portable tier) at a
    // corpus-sized cell count
    stage("sign_ivf", note = "signBits=8 (256 cells), 64 probes, k=10") {
      val probes = vecs.filter(col("vec_id") < 640 && pmod(col("vec_id"), lit(10)) === 0)
      val res = Similarity.signIvfTopK(vecs, probes, "vec_id", "embedding",
        k = 10, signBits = 8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = res.count()
      val top1Dup = res.filter(col("rank") === 1 &&
        col("cand_id") === col("probe_id") + 9).count()
      assert(top1Dup == 64L,
        s"every probe's exact dup (cosine 1.0, same cell) must rank 1: $top1Dup/64")
      val plan = res.queryExecution.executedPlan.toString
      res.unpersist()
      (n, plan)
    }
    graft.SessionScope.endQuery(spark)
    spark.catalog.clearCache()
    probe.telemetry
  }
}

/** `Test/runMain graft.acceptance.StressSimilarity` — the on-demand
  * multi-million-vector tier (default 2M vectors at dim 128; override
  * with GRAFT_SIM_VECS / GRAFT_SIM_DIM). Records its telemetry as the
  * `similarity` tier of `STRESS_r{N}.json`. */
object StressSimilarity {
  def main(args: Array[String]): Unit = {
    val nVecs = sys.env.get("GRAFT_SIM_VECS").flatMap(_.toLongOption)
      .getOrElse(2000000L)
    val dim = sys.env.get("GRAFT_SIM_DIM").flatMap(_.toIntOption).getOrElse(128)
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val tels = SimilarityStress.run(spark, nVecs, dim, println)
    val total = (System.nanoTime() - t0) / 1e9
    println(f"[similarity] tier total (incl. staging): $total%.1f s")
    val path = StressArtifact.record("similarity",
      f"""{"n_vecs": $nVecs, "dim": $dim, "total_s": $total%.1f, "loadavg": "${StressArtifact.loadavg()}", "stages": {${tels.map(_.json).mkString(", ")}}}""")
    println(s"[similarity] telemetry recorded to $path")
    spark.stop()
  }
}

/** Ungated small-scale pass of the SAME chain (the planted-truth
  * contracts ride the census suite; the telemetry tier is the
  * on-demand main above). */
class StressSimilaritySpec extends SparkSpec {
  test("similarity stress chain holds its planted ground truth at suite scale") {
    val tels = SimilarityStress.run(spark, nVecs = 20000L, dim = 128, info(_))
    assert(tels.size == 6)
    assert(tels.forall(_.rows > 0))
  }
}
