package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over embedding columns (`array<float>`) — SURVEY.md
  * §7.5 beyond-reference scope.
  *
  *  - brute-force cosine top-k: the exactness baseline. O(P·N) dot
  *    products; fine when the probe set is small or N is partitioned.
  *  - IVF (inverted-file) top-k: k-means coarse quantiser (spark.ml),
  *    each vector assigned to its nearest centroid; a probe only scans
  *    the `nprobe` nearest cells — the standard 10-100× pruning that
  *    makes ANN linear-ish at 100 TB (one broadcast of centroids, one
  *    shuffle on cell id).
  */
object Similarity {

  /** Exact decimal dot product: per-element products cast to DECIMAL and
    * summed exactly, so the value is independent of evaluation order
    * (same discipline as [[graft.queries.Q.dsum]]).
    *
    * Production path is the codegen kernel
    * ([[graft.functions.vecfns.dot_exact]]): the `aggregate`/`zip_with`
    * tree evaluates its lambda PER ELEMENT interpreted — at the
    * similarity corpus tier the 128-dim decimal dots dominated every
    * verify/scoring stage (the same defect class the round-18 text-hash
    * kernels removed from minhash). The kernel replicates the decimal
    * semantics bit-for-bit — Cast's string round-trip to DECIMAL(38,14)
    * HALF_UP, the per-step (38,13) rounding of Spark's decimal Add
    * inside the fold, null on any null element or a zip_with length
    * mismatch — pinned against [[dotExactHof]] by
    * VectorParitySpec and end-to-end by the q64/q65/q71/q119/q173
    * oracles. */
  def dotExact(x: Column, y: Column): Column =
    graft.functions.vecfns.dot_exact(x, y)

  /** The interpreted HOF form of [[dotExact]] — kept as the executable
    * specification the kernel is parity-pinned against. The merge result
    * is re-cast to the seed's exact decimal type — Spark's decimal
    * addition widens/caps (38,14)+(38,14) → (38,13), and `aggregate`
    * requires merge-type == seed-type; the cast is lossless while
    * |acc| < 10^24. */
  def dotExactHof(x: Column, y: Column): Column =
    aggregate(
      zip_with(x, y, (p, q) => (p.cast("double") * q.cast("double"))
        .cast(DecimalType(38, 14))),
      lit(0).cast(DecimalType(38, 14)),
      (acc, v) => (acc + v).cast(DecimalType(38, 14))).cast("double")

  /** Exact decimal squared L2 distance (kernel path — see [[dotExact]];
    * parity-pinned against [[sqDistExactHof]]). */
  def sqDistExact(x: Column, y: Column): Column =
    graft.functions.vecfns.sq_dist_exact(x, y)

  /** The interpreted HOF form of [[sqDistExact]] — the executable
    * specification for the parity pin (per-element terms cast to
    * DECIMAL(38,14), decimal-summed in any order). */
  def sqDistExactHof(x: Column, y: Column): Column =
    aggregate(
      zip_with(x, y, (p, q) => ((p.cast("double") - q.cast("double")) *
        (p.cast("double") - q.cast("double"))).cast(DecimalType(38, 14))),
      lit(0).cast(DecimalType(38, 14)),
      (acc, v) => (acc + v).cast(DecimalType(38, 14))).cast("double")

  /** Product-quantisation sub-distances: for every (vector, centroid,
    * subspace) the exact decimal squared distance between the two
    * subvectors. `m` subspaces × `dSub` dims each; centroids frame:
    * (k, c). The m lambda distances are materialised as named columns in
    * their own select BEFORE the posexplode (Catalyst does not CSE
    * lambda-bearing trees), and the centroid side is broadcast — the
    * candidate side carries only its own vector through one pass.
    * Returns (pq_id, k, sub, dist). */
  def pqSubDistances(
      vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, m: Int, dSub: Int): DataFrame = {
    val pairs = vectors
      .select(col(idCol).as("pq_id"), col(vecCol).as("pq_v"))
      .crossJoin(broadcast(centroids.select(col("k"), col("c"))))
    val subCols = (0 until m).map { j =>
      sqDistExact(
        expr(s"slice(pq_v, ${j * dSub + 1}, $dSub)"),
        expr(s"slice(c, ${j * dSub + 1}, $dSub)")).as(s"_d$j")
    }
    pairs.select(Seq(col("pq_id"), col("k")) ++ subCols: _*)
      .select(col("pq_id"), col("k"),
        posexplode(array((0 until m).map(j => col(s"_d$j")): _*))
          .as(Seq("sub", "dist")))
  }

  /** PQ code assignment: per (vector, subspace), the centroid with the
    * minimal exact distance, ties to the smaller centroid id — computed
    * WITHOUT the (vectors × centroids × subspaces) row explosion. The
    * broadcast centroid cross join carries the m sub-distances as
    * COLUMNS, and each subspace's argmin is a `min(struct(dist, k))`
    * aggregation per vector — identical value+tiebreak to a `row_number
    * over (pq_id, sub order by dist, k) = 1` window over exploded rows
    * (struct ordering puts a null dist first, exactly like the window's
    * asc-nulls-first), but map-side partial combine collapses the
    * (vector × centroid) grain before any exchange, where the exploded
    * window form shuffled and spilled the full distance grain (measured
    * at the 2M×128 similarity stress tier: the old shape's persist of
    * 256M distance rows spilled ~11 GB and took 116 s). The sub
    * explode happens AFTER aggregation, at the (vector × m) codes
    * grain the ADC join needs. Returns (cand_id, sub, k). */
  def pqCodes(vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, m: Int, dSub: Int): DataFrame = {
    val pairs = vectors
      .select(col(idCol).as("pq_id"), col(vecCol).as("pq_v"))
      .crossJoin(broadcast(centroids.select(col("k"), col("c"))))
    val subCols = (0 until m).map { j =>
      sqDistExact(
        expr(s"slice(pq_v, ${j * dSub + 1}, $dSub)"),
        expr(s"slice(c, ${j * dSub + 1}, $dSub)")).as(s"_d$j")
    }
    val scored = pairs.select(Seq(col("pq_id"), col("k")) ++ subCols: _*)
    val aggs = (0 until m).map(j =>
      min(struct(col(s"_d$j").as("dist"), col("k").as("k"))).as(s"_m$j"))
    scored.groupBy(col("pq_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("pq_id").as("cand_id"),
        posexplode(array((0 until m).map(j => col(s"_m$j").getField("k")): _*)))
      .withColumnRenamed("pos", "sub")
      .withColumnRenamed("col", "k")
  }

  /** Deterministic cosine from exact decimal dots; sqrt and the final
    * divisions are correctly-rounded IEEE ops. Hot paths should
    * precompute the per-vector norms ONCE (see bruteForceTopK /
    * signLshNearDup) instead of calling this per pair — the value is
    * bit-identical either way, but the per-pair form re-evaluates two
    * lambda dot products that only depend on one side.
    */
  def cosineExact(a: Column, b: Column): Column =
    dotExact(a, b) / (sqrt(dotExact(a, a)) * sqrt(dotExact(b, b)))

  /** Entry hygiene shared by the similarity operators: a vector with a
    * null id, a null embedding, or all-zero components has no usable
    * direction — Spark's ANSI division would ERROR on the zero norm
    * where DuckDB quietly NULLs, so exclusion is the only semantics
    * both engines can express identically. A DUPLICATE id is likewise
    * resolved deterministically (keep-first by lexicographic embedding
    * order — the id is the vector's identity; two vectors under one id
    * would desync every id-keyed window/groupBy between engines).
    * Oracle side:
    * `WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND
    *    len(list_filter(embedding, x -> x <> 0)) > 0
    *  QUALIFY row_number() OVER (PARTITION BY vec_id
    *    ORDER BY embedding) = 1`. A no-op on well-formed fixtures.
    *
    * The sanitised frame is PERSISTED: the keep-first window is a full
    * shuffle over the embeddings table, and every similarity query
    * consumes the frame at least twice (probe + corpus side, or
    * candidates + label join-back). Spark's CacheManager canonicalises
    * cached plans, so repeated `scorable` calls over the same input
    * share ONE in-memory copy instead of re-paying the window per
    * consumer (measured: q71 re-ran it 3× at sf0.1, doubling the query).
    *
    * LIFECYCLE: the frame is a query frame of [[graft.SessionScope]]:
    * it lives until the caller ends the query (`SessionScope.endQuery`)
    * or releases the session, whichever comes first. Within a query, LRU
    * eviction bounds memory. */
  def scorable(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // has_nonzero = codegen exists(v, x => x =!= 0) (VectorParitySpec
    // pins the three-valued semantics incl. the any-null case) — the
    // lambda form evaluated interpreted per element over every vector
    df.filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        graft.functions.vecfns.has_nonzero(col(vecCol)))
      .withColumn("_sc_rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col(vecCol))))
      .filter(col("_sc_rn") === 1).drop("_sc_rn")
      .transform(graft.SessionScope.persist)
  }

  /** Plain double dot product (internal ranking only) — codegen kernel,
    * bit-identical to the left-to-right `aggregate(zip_with(...))` fold
    * (same IEEE accumulation order; VectorParitySpec). */
  private def dotPlain(x: Column, y: Column): Column =
    graft.functions.vecfns.dot_plain(x, y)
  private def dot2(x: Column): Column = dotPlain(x, x)

  /** Fast double-precision cosine for internal ranking. */
  def cosine(a: Column, b: Column): Column =
    dotPlain(a, b) / (sqrt(dot2(a)) * sqrt(dot2(b)))

  /** Brute-force cosine top-k: every probe against every candidate.
    * Probes are broadcast (they are the small side by construction);
    * ranking is a per-probe window with id tiebreak for determinism.
    */
  def bruteForceTopK(
      candidates: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int,
      exact: Boolean = true): DataFrame = {
    // per-vector norms once (N + P lambda evaluations), not per pair
    // (3·N·P) — bit-identical cosine, 3× less decimal-lambda work
    val cand = scorable(candidates, idCol, vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"))
      .withColumn("cand_norm",
        if (exact) sqrt(dotExact(col("cand_vec"), col("cand_vec")))
        else sqrt(dot2(col("cand_vec"))))
    val prob = scorable(probes, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
      .withColumn("probe_norm",
        if (exact) sqrt(dotExact(col("probe_vec"), col("probe_vec")))
        else sqrt(dot2(col("probe_vec"))))
    val cos =
      (if (exact) dotExact(col("probe_vec"), col("cand_vec"))
       else dotPlain(col("probe_vec"), col("cand_vec"))) /
        (col("probe_norm") * col("cand_norm"))
    val scored = cand.crossJoin(broadcast(prob))
      .filter(col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cand_id"), cos.as("cosine"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate candidates — the embedding tier of
    * the dedup stack. Sign-bit band LSH: each band's key is the sign
    * pattern of `rowsPerBand` consecutive components (random-hyperplane
    * LSH with axis-aligned hyperplanes — deterministic, so an external
    * engine can replicate the bucketing exactly). Vectors sharing any
    * band key become candidates; candidates are verified with the exact
    * decimal cosine and filtered at `minCosine`.
    *
    * Same 100 TB hygiene as the text tiers: ids-only bucket self-join
    * (vectors joined back after the distinct), and a bucket-size cap so
    * a degenerate sign pattern (e.g. all-positive embeddings) cannot go
    * quadratic.
    *
    * BAND SIZING AT SCALE: keep `2^rowsPerBand` at or above the corpus
    * size so expected bucket occupancy stays ~1 — the bucket join's
    * OUTPUT is Σ bucket², so a saturated key space goes quadratic even
    * under the cap (measured at the 2M×128 similarity stress tier:
    * 8×16-bit bands meant ~30 vectors/bucket, ~490M join pairs and
    * ~89 GB of spill; 6×21-bit bands collapse the same corpus to ~1 per
    * bucket). Widening rows lowers per-band recall — at cosine c a band
    * of r bits agrees with probability (1 − acos(c)/π)^r — so wide-band
    * configs are a NEAR-dup (cosine ≳ 0.99) instrument; add bands to
    * buy recall back.
    *
    * HAMMING PRE-FILTER: before the (expensive) exact decimal cosine,
    * each pair is screened on the Hamming distance of the vectors' full
    * 64-bit sign signatures (two packed 32-bit halves; integer XOR +
    * bit_count — effectively free next to a 64-term decimal dot
    * product). For random-hyperplane LSH E[hamming] = 64·acos(cos)/π,
    * so a pair at the q71 operating point (cosine 0.3) sits at ~26 of
    * 64 with σ≈4; `hammingMax` = 40 is >3σ above it — the screen only
    * drops pairs whose signs are majority-OPPOSED (strongly negative
    * cosine), which no near-dup threshold admits. At scale the bucket
    * join's junk pairs (random collisions on one 8-bit band) dominate
    * the candidate set, and this removes them before they cost a
    * decimal verification.
    */
  def signLshNearDup(
      df: DataFrame, idCol: String, vecCol: String,
      bands: Int = 4, rowsPerBand: Int = 8,
      minCosine: Double = 0.8, maxBucket: Int = 1000,
      hammingMax: Int = 40): DataFrame = {
    val v = scorable(df, idCol, vecCol)
      .select(col(idCol).as("nn_id"), col(vecCol).as("vec"))
    // Band keys + the 64-bit sign signature in ONE codegen pass per
    // vector (graft.functions.vecfns): the former per-band string keys
    // ("0101…" via an interpreted transform/concat of try_element_at
    // whens) materialised bands × corpus strings, and the sigHalf
    // aggregate folds re-walked the vector interpreted. The packed long
    // key is an INJECTIVE image of the string key (bit j == char j,
    // VectorParitySpec pins the bijection per band), so bucket
    // partitions — and the candidate set — are identical; external
    // oracles replicate it as the plain Σ 2^j·(component ≥ 0) sum.
    val sigged = v.select(col("nn_id"),
      graft.functions.vecfns.sign_pack(col("vec"), 1, 32).as("sig1"),
      graft.functions.vecfns.sign_pack(col("vec"), 33, 32).as("sig2"),
      posexplode(graft.functions.vecfns.sign_band_keys(
        col("vec"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_key")
    val wBucket = Window.partitionBy(col("band_idx"), col("band_key"))
    // Persist the capped banded frame: BOTH sides of the bucket self-join
    // consume it, and Catalyst does not CSE across join branches — without
    // the persist the posexplode + bucket-size window (a full shuffle of
    // corpus × bands rows) executes twice per run (plan evidence:
    // plans/r20/q71_embedding_near_dup_before.txt, Window (19) and
    // Window (29) over the same InMemoryRelation). The frame is narrow
    // (id + band + two packed-long sigs), so the cache is far cheaper
    // than the second shuffle at 100 TB (guide §2.4).
    val capped = sigged
      .withColumn("bucket_n", count(lit(1)).over(wBucket))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
      .transform(graft.SessionScope.persist)
    // The 16-byte signatures ride the bucket join so the Hamming screen
    // runs BEFORE the pair distinct (filters deterministic per pair
    // commute with distinct — the simhash lesson from the corpus tier):
    // at corpus scale the bucket join's output is dominated by random
    // key collisions, and screening them here keeps the distinct
    // exchange sized by the plausible pair set instead of the junk.
    val l = capped.select(col("band_idx"), col("band_key"),
      col("nn_id").as("id_a"), col("sig1").as("sig_a1"), col("sig2").as("sig_a2"))
    val r = capped.select(col("band_idx"), col("band_key"),
      col("nn_id").as("id_b"), col("sig1").as("sig_b1"), col("sig2").as("sig_b2"))
    val pairs = l.join(r, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .filter(
        (bit_count(col("sig_a1").bitwiseXOR(col("sig_b1"))) +
          bit_count(col("sig_a2").bitwiseXOR(col("sig_b2")))) <= hammingMax)
      .select(col("id_a"), col("id_b"))
      .distinct()
    // per-vector norms once, not per pair (bit-identical cosine)
    val vn = v.withColumn("norm", sqrt(dotExact(col("vec"), col("vec"))))
    pairs
      .join(vn.select(col("nn_id").as("id_a"), col("vec").as("vec_a"),
        col("norm").as("norm_a")), Seq("id_a"))
      .join(vn.select(col("nn_id").as("id_b"), col("vec").as("vec_b"),
        col("norm").as("norm_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dotExact(col("vec_a"), col("vec_b")) /
          (col("norm_a") * col("norm_b"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Deterministic inverted-file top-k with a SIGN-BIT coarse quantiser
    * and Hamming-1 multi-probe — the engine-portable IVF tier. Cell id =
    * packed sign bits of the first `signBits` components (2^signBits
    * cells; axis-aligned random-hyperplane LSH, so an external engine
    * replicates the partition bit-for-bit); a probe scans its own cell
    * plus the `signBits` cells at Hamming distance 1 (standard
    * multi-probe LSH — flip one hyperplane), i.e. (signBits+1)/2^signBits
    * of the corpus; candidates are ranked by the order-independent exact
    * decimal cosine. The result is therefore EXACTLY "cell-restricted
    * brute force" — a hard external oracle with NO recall assumption
    * (q65's contract), unlike the k-means tier whose partition an
    * external engine cannot recompute.
    *
    * Scale shape: probes (small by construction) explode ×(signBits+1)
    * and BROADCAST onto the cell-partitioned corpus — the corpus side
    * is one scan + one shuffle on cell id; `signBits` grows with corpus
    * size to keep cells executor-sized (16 cells is the toy fixture
    * point; 2^12+ at 100 TB).
    */
  def signIvfTopK(
      candidates: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int,
      signBits: Int = 4): DataFrame = {
    def cellOf(v: Column): Column =
      (0 until signBits).map(j =>
        when(try_element_at(v, lit(j + 1)) >= 0, lit(1 << j))
          .otherwise(lit(0))).reduce(_ + _)
    val cand = scorable(candidates, idCol, vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"))
      .withColumn("cand_norm", sqrt(dotExact(col("cand_vec"), col("cand_vec"))))
      .withColumn("cell", cellOf(col("cand_vec")))
    val probeCells = scorable(probes, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
      .withColumn("probe_norm", sqrt(dotExact(col("probe_vec"), col("probe_vec"))))
      .withColumn("probe_cell", cellOf(col("probe_vec")))
      .withColumn("cell", explode(array(
        (col("probe_cell") +: (0 until signBits).map(j =>
          col("probe_cell").bitwiseXOR(lit(1 << j)))): _*)))
    val scored = cand.join(broadcast(probeCells), Seq("cell"))
      .filter(col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cand_id"),
        (dotExact(col("probe_vec"), col("cand_vec")) /
          (col("probe_norm") * col("cand_norm"))).as("cosine"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF index: assign every vector to its nearest of `nlist` k-means
    * centroids. Returns (assignments, fitted model). The model's centroid
    * set is the broadcastable "index"; assignments carry `cell`.
    */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String, nlist: Int, seed: Long = 42L)
      : (DataFrame, org.apache.spark.ml.clustering.KMeansModel) = {
    // persist the sanitised featurised frame: k-means re-evaluates its
    // input per iteration, and the scorable hygiene window would
    // otherwise be re-paid every pass (measured +0.8 s at sf0.1)
    val feat = scorable(df, idCol, vecCol).select(col(idCol), col(vecCol),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
      .transform(graft.SessionScope.persist)
    val model = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("features")
      .fit(feat)
    (model.transform(feat).withColumnRenamed("prediction", "cell"), model)
  }

  /** IVF top-k: each probe scans only its `nprobe` nearest cells.
    *
    * `exact = true` scores the pruned candidate set with the
    * order-independent decimal cosine (per-vector norms precomputed
    * once, the [[bruteForceTopK]] discipline) instead of the fast
    * double fold — the IVF PRUNING (centroid assignment + nprobe cell
    * scan) is identical; only the ranking arithmetic becomes
    * engine-exact. This is what gives q65 a hard external oracle: with
    * the pruning recall at 100% on a fixture, exact-scored IVF top-k
    * EQUALS brute-force top-k bit-for-bit, so any regression in the
    * cell machinery (assignment, probe ranking, cell join) surfaces as
    * a hash mismatch rather than a silent recall drop. */
  def ivfTopK(
      assignments: DataFrame, model: org.apache.spark.ml.clustering.KMeansModel,
      probes: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int, exact: Boolean = false): DataFrame = {
    val spark = assignments.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
      .toSeq.toDF("cell", "centroid")
    val probCells = scorable(probes, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
      .withColumn("probe_norm",
        if (exact) sqrt(dotExact(col("probe_vec"), col("probe_vec")))
        else lit(null).cast("double"))
      .crossJoin(broadcast(centroids))
      .select(col("probe_id"), col("probe_vec"), col("probe_norm"), col("cell"),
        cosine(col("probe_vec"), col("centroid")).as("cell_sim"))
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("cell_sim").desc, col("cell"))))
      .filter(col("cell_rank") <= nprobe)
      .select(col("probe_id"), col("probe_vec"), col("probe_norm"), col("cell"))
    val cand = assignments.select(col("cell"), col(idCol).as("cand_id"),
      col(vecCol).as("cand_vec"))
      .withColumn("cand_norm",
        if (exact) sqrt(dotExact(col("cand_vec"), col("cand_vec")))
        else lit(null).cast("double"))
    val cos =
      if (exact)
        dotExact(col("probe_vec"), col("cand_vec")) /
          (col("probe_norm") * col("cand_norm"))
      else cosine(col("probe_vec"), col("cand_vec"))
    val scored = cand.join(probCells, Seq("cell"))
      .filter(col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cand_id"), cos.as("cosine"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
