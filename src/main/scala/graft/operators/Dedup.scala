package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.hashfns

/** Deduplication operators for large-scale text corpora — the
  * beyond-reference module the 100 TB north star calls for (SURVEY.md
  * §7.5). Four tiers, cheapest first:
  *
  *  1. exact       — hash-groupBy on a content digest (one shuffle on the
  *                   digest; survivors picked by deterministic min-id).
  *  2. minhash+LSH — shingle → k seeded min-hashes → band → bucket join;
  *                   only same-bucket pairs are compared, so the candidate
  *                   set is ~linear, never the quadratic cross join.
  *  3. simhash     — 64-bit signature, near-dups = small Hamming distance;
  *                   banded by signature prefix for the same reason.
  *  4. n-gram Jaccard — exact set similarity on candidate pairs (the
  *                   verifier for tiers 2/3).
  *
  * All operators are pure DataFrame/Column code (higher-order array
  * functions + the custom SimHash64 expression); no Scala UDFs, and the
  * only driver-side work is [[connectedComponents]]' size-guarded
  * union-find fast path (the sanctioned small-graph driver-kernel
  * pattern of `Hierarchy`/`LinkAllocation`, with the distributed
  * fixpoint as the over-guard fallback) — every other step scales with
  * partition count.
  */
object Dedup {

  /** Whitespace tokens (empty tokens from runs of spaces are kept —
    * matches the oracle's string_split semantics). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles via higher-order functions: for each start
    * offset, join the next n tokens ("w1 w2 w3"). */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))
  }

  /** Exact dedup: digest → keep the lowest id per digest group.
    * Returns (survivors, groupsWithDupes). The keep-first pick is an
    * explicit min (deterministic) — never dropDuplicates, whose survivor
    * is partition-order-dependent (SURVEY §7.4).
    */
  def exact(df: DataFrame, idCol: String, digest: Column): (DataFrame, DataFrame) = {
    val withDigest = df.withColumn("content_digest", digest)
    val w = Window.partitionBy(col("content_digest"))
    val marked = withDigest
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keeper_id", min(col(idCol)).over(w))
    // survivor = rank-1 by id (NULLS LAST) — identical to `id == min(id)`
    // on any group with ids, but a group whose every id is NULL still
    // emits exactly ONE survivor (a plain equality filter null-drops it,
    // desyncing the census from a SQL `GROUP BY digest` oracle)
    val survivors = marked
      .withColumn("_sr", row_number().over(
        w.orderBy(col(idCol).asc_nulls_last)))
      .filter(col("_sr") === 1).drop("_sr")
    val dupes = marked.filter(col("group_size") > 1)
    (survivors, dupes)
  }

  /** MinHash signature as an array<bigint> of `k` seeded minima over an
    * ALREADY-MATERIALISED shingle array column, via the codegen-native
    * single-pass kernel ([[graft.functions.TextHash.minhashK]]): each
    * shingle is base-hashed ONCE (FNV-1a 64) and the k seeds apply only
    * a splitmix finalise — one array pass total, versus the previous
    * k × `transform`/`array_min` higher-order-function stack whose
    * per-element interpreted eval dominated the minhash tier at corpus
    * scale (3M-doc GRAFT_STRESS_CORPUS stage: 156 s → measured after
    * the swap below). The seeded family is engine-stable (published
    * FNV-1a + splitmix64, no JVM/Spark-internal seeds); q61/q63/q75's
    * oracles are hash-family-agnostic by design — they verify the
    * RE-VERIFIED pair set against global brute force, so any min-wise
    * family with complete fixture recall leaves them bit-identical.
    * The shingle array should still be a stored column (the expression
    * references it once, but stored-column hygiene keeps the plan
    * CSE-proof if callers add consumers).
    */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.functions.hashfns.minhash_k(shingleCol, k)

  /** LSH candidate pairs: split the k-length signature into `bands` bands,
    * hash each band, explode to (band_idx, band_hash) buckets, self-join
    * within buckets. Returns DISTINCT candidate id pairs (a < b) with the
    * estimated Jaccard = fraction of agreeing minhash components.
    *
    * 100 TB hygiene (two deliberate shapes):
    *  - **Bucket-size cap**: a real corpus has pathological buckets (empty
    *    docs, boilerplate headers) whose self-join is quadratic. Buckets
    *    larger than `maxBucket` are dropped — their members are
    *    near-identical boilerplate that the *exact* dedup tier already
    *    collapses, and each doc still meets true near-dups in its other
    *    `bands - 1` buckets. The size count is a window over the same
    *    (band_idx, band_hash) key, so it shares the join's shuffle.
    *  - **Ids-only bucket join**: the bucket self-join carries only the id
    *    pair; the two k-element signature arrays are joined back *after*
    *    the pair set is distinct, so the wide arrays never ride through
    *    the bucket shuffle or the distinct.
    */
  def minhashLshCandidates(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      maxBucket: Int = 2000): DataFrame =
    minhashLshCandidatesWithShingles(
      df, idCol, textCol, shingleN, k, bands, maxBucket,
      keepShingles = false)._1

  /** [[minhashLshCandidates]] plus the persisted per-doc shingle frame
    * (`mh_id`, `sh`) for an exact verify tier to reuse — with
    * `keepShingles = true` the verifier joins the SAME materialised
    * arrays instead of re-tokenising the corpus a second time (the cache
    * grows by the shingle payload, which is exactly the recompute it
    * replaces; q63 measured ~1.9s → ~1.2s at sf0.1). With
    * `keepShingles = false` only the k-element signature is cached. */
  def minhashLshCandidatesWithShingles(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      maxBucket: Int = 2000,
      keepShingles: Boolean = true): (DataFrame, DataFrame) = {
    // the band kernel owns the k/bands arithmetic and throws at eval on a
    // non-tiling config; validate here too so a bad call dies at plan
    // time with the caller's stack, not mid-job on an executor
    require(bands > 0 && bands <= k && k % bands == 0,
      s"bands ($bands) must evenly divide the signature length k ($k)")
    // The signature frame is a diamond: it feeds the band explode AND the
    // two post-distinct signature joins. Catalyst does not CSE across
    // join branches, so without materialisation the (dominant) shingle +
    // k-hash compute runs three times per doc. Persisting trades that for
    // one pass + ~(8*k+8) bytes/doc of cache — MEMORY_AND_DISK so a
    // 100 TB corpus spills instead of evicting (measured 3.5s → ~1.4s at
    // sf0.1). The cache is session-managed (bench clears between queries).
    val shingled = df
      .select(col(idCol).as("mh_id"), shingles(col(textCol), shingleN).as("sh"))
    // keepShingles = false (the throughput tier): the FUSED kernel hashes
    // the n-gram byte stream straight off the token array — bit-identical
    // signatures (ShingleParitySpec) without materialising ~len shingle
    // strings per doc, which dominated the signature pass at the 3M-doc
    // corpus tier. The verify tiers (keepShingles = true) materialise the
    // shingle arrays anyway for the exact-Jaccard join, so they hash the
    // stored column.
    val sig = (if (keepShingles)
      shingled.select(col("mh_id"), col("sh"),
        minhashSignature(col("sh"), k).as("sig"))
    // coalesce(text, '') BEFORE tokenising: `tokens(NULL)` is NULL, so
    // the null-strict kernel would emit a NULL signature and silently
    // drop null-text docs from banding — while the stored-shingle path
    // maps NULL text to [""] (concat_ws null-skip) and co-buckets them.
    // The coalesce makes both tiers agree on the API contract
    // (ShingleParitySpec carries a null-text shape pinning it).
    else
      df.select(col(idCol).as("mh_id"),
        graft.functions.hashfns.minhash_shingles(
          tokens(coalesce(col(textCol), lit(""))), shingleN, k).as("sig")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // band keys via the codegen fold (graft.functions.TextHash.bandHashes)
    // — the previous transform/slice/concat_ws/xxhash64 chain STRINGIFIED
    // every band of every doc in interpreted eval (8 × corpus rows); the
    // fold hashes the minima longs directly. Equal minima ⇒ equal key by
    // construction; a 2⁻⁶⁴ collision only adds a candidate the verify
    // tier discards, so the recall contract is untouched.
    val banded = sig.select(
      col("mh_id"),
      posexplode(graft.functions.hashfns.band_hashes(col("sig"), bands)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
    val wBucket = Window.partitionBy(col("band_idx"), col("band_hash"))
    // NOT persisted (measured, round 20): unlike signLshNearDup's capped
    // frame, persisting here REGRESSED q61 0.94 → 4.69 s and q63
    // 1.23 → 3.68 s at sf0.1 — the two join branches re-derive from the
    // already-persisted `sig` (cheap explode over a cached scan) and run
    // their stages overlapped, while a persist serialises the
    // materialisation onto the critical path. Same trade q160 recorded
    // in round 19: persist only pays when recompute beats
    // materialisation.
    val capped = banded
      .withColumn("bucket_n", count(lit(1)).over(wBucket))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val left = capped.select(col("band_idx"), col("band_hash"), col("mh_id").as("id_a"))
    val right = capped.select(col("band_idx"), col("band_hash"), col("mh_id").as("id_b"))
    val pairs = left.join(right, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val cands = pairs
      .join(sig.select(col("mh_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sig.select(col("mh_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        // codegen agreement count (graft.functions.TextHash.agreeCount)
        // — same value as the zip_with/aggregate fold it replaces,
        // without the per-component interpreted lambda eval
        (graft.functions.hashfns.agree_count(col("sig_a"), col("sig_b"))
          .cast("double") / k).as("est_jaccard"))
    val shingleFrame =
      if (keepShingles) sig.select(col("mh_id"), col("sh")) else shingled
    (cands, shingleFrame)
  }

  /** SimHash near-dup candidates: 64-bit signatures, banded by 16-bit
    * chunks, verified by exact Hamming distance.
    *
    * RECALL CONTRACT: a pair at Hamming distance d differs in at most d
    * chunks, so with `chunks` chunks it is GUARANTEED to agree on at least
    * one chunk only when d <= chunks - 1 (pigeonhole). With the default
    * 4 × 16-bit chunks, recall is guaranteed for d <= 3; pairs with
    * 3 < hamming <= maxHamming are still *reported* when they happen to
    * share a chunk, but callers needing guaranteed recall must keep
    * `maxHamming < chunks`. (Raising `chunks` widens the guarantee but
    * shrinks chunk width — 8-bit chunks have only 256 bucket values and
    * go quadratic — so 4×16 is the scale-sane default.)
    *
    * Same bucket-size cap as the MinHash tier: a hot chunk value (e.g.
    * the all-zero chunk of short/empty docs) would make the self-join
    * quadratic; buckets above `maxBucket` are dropped.
    */
  def simhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 4,
      maxBucket: Int = 2000): DataFrame =
    simhashCandidatesFromSig(
      df.select(col(idCol).as("sh_id"),
        hashfns.simhash64(tokens(col(textCol))).as("sig")),
      maxHamming, chunks, sigBits = 64, maxBucket = maxBucket)

  /** The chunk-LSH candidate machinery over an ALREADY-COMPUTED signature
    * frame (`sh_id`, `sig`) — shared by the production 64-bit xxhash64
    * tier ([[simhashCandidates]]) and the oracle-portable tier
    * ([[portableSimhash]] feeds it a 60-bit md5-derived signature so an
    * external engine can recompute the exact side). The pigeonhole
    * recall contract is signature-agnostic: a pair at Hamming distance
    * d ≤ chunks − 1 agrees on at least one chunk and is GUARANTEED to
    * surface (unless its bucket exceeded `maxBucket` — callers needing
    * absolute completeness raise the cap). `sigBits` is the signature
    * width; chunk width = sigBits / chunks. */
  def simhashCandidatesFromSig(
      sig: DataFrame, maxHamming: Int, chunks: Int,
      sigBits: Int = 64, maxBucket: Int = 2000): DataFrame = {
    val width = sigBits / chunks
    val mask = (1L << width) - 1L
    val banded = sig.select(col("sh_id"), col("sig"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("sig"), c * width).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk_val")
    val wBucket = Window.partitionBy(col("chunk_idx"), col("chunk_val"))
    val capped = banded
      .withColumn("bucket_n", count(lit(1)).over(wBucket))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val l = capped.select(col("chunk_idx"), col("chunk_val"),
      col("sh_id").as("id_a"), col("sig").as("sig_a"))
    val r = capped.select(col("chunk_idx"), col("chunk_val"),
      col("sh_id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk_idx", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      // Hamming filter BEFORE the distinct: the filter is deterministic
      // per pair, so filtered-distinct ≡ distinct-filtered — but the
      // order decides what the distinct SHUFFLES. The 16-bit chunk value
      // space saturates at corpus sizes ≫ 65k docs (3M docs → ~46
      // docs/bucket → ~550M join-output pairs), and the old
      // distinct-then-filter pushed all of them through the exchange
      // before discarding ~99.9%; filtering first keeps the exchange
      // sized by the TRUE near-dup pair set (measured at the
      // GRAFT_STRESS_CORPUS tier, round 18).
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Engine-PORTABLE 60-bit SimHash signature: per-token 60-bit hash =
    * the first 15 hex chars of md5(token) (md5 is byte-identical across
    * engines; 15 hex digits keep every intermediate positive in a signed
    * 64-bit integer on engines without unsigned types), signature bit j
    * set iff the ±1 majority vote of the tokens' bit-j values is
    * positive. This exists so q62's driver-visible frame has a hard
    * DuckDB oracle — the production scale path stays the 64-bit xxhash64
    * codegen expression ([[graft.functions.hashfns.simhash64]]), which
    * hashes each token once instead of materialising an md5 hex string.
    *
    * Shape: one explode to (id, token) grain, ONE aggregation back to id
    * grain computing all 60 bit-majorities as codegen'd conditional sums
    * (no lambda-bearing trees, no second pass), then a literal-shift fold
    * into the packed signature. One shuffle on the id at any scale.
    * Docs with NULL text carry no tokens and are excluded (matching the
    * oracle's unnest-of-NULL semantics). */
  def portableSimhash(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bits = 60
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("sh_id"),
        explode(tokens(col(textCol))).as("tok"))
      .select(col("sh_id"),
        conv(substring(md5(col("tok").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("h"))
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"_b$j")
    }
    toks.groupBy(col("sh_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("sh_id"),
        (0 until bits).map(j =>
          when(col(s"_b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  /** Exact word-set Jaccard between two token-array columns (distinct
    * semantics on both sides — matches DuckDB list_intersect). */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    inter / (size(da) + size(db) - size(array_intersect(da, db)))
  }

  /** Connected components over a near-dup PAIR set — the transitive-
    * closure step a real dedup pipeline needs after pair verification
    * (A~B and B~C must collapse to ONE survivor even when A~C was never
    * emitted as a pair). Min-label propagation to fixpoint: every node
    * starts as its own label; each round every node takes the minimum of
    * its own and its neighbours' labels, then additionally follows the
    * label's own label (pointer doubling) — convergence in O(log
    * component diameter) rounds, and `maxIter` caps pathological
    * inputs.
    *
    * Scale shape: each round is one shuffle join of the (ids-only) edge
    * list against the label frame plus a groupBy-min — both sized by the
    * PAIR set, which LSH already bounded to ~linear; the corpus payload
    * never enters the loop. The per-round early-exit check is a bounded
    * `limit(1)` action, the Spark-idiomatic fixpoint (same pattern as
    * `Hierarchy.resolveByFixpoint`).
    *
    * Returns (id, component) with component = min id reachable — the
    * deterministic cluster survivor.
    *
    * SMALL-GRAPH FAST PATH (r19 optimization): the pair set is the
    * LSH-bounded near-dup EDGE list, orders of magnitude smaller than
    * the corpus (it is ids-only, and near-dup rates are a few percent of
    * docs), so like the org-chart graphs in `Hierarchy` it usually fits
    * the sanctioned driver-kernel pattern: one bounded `limit(n+1)`
    * collect of the two id columns, union-find with path compression and
    * min-root union (identical min-label semantics), and a local-relation
    * result. That replaces 3-5 fixpoint ROUNDS of 4 shuffles + one count
    * action each with ONE bounded job — at sf0.1 the q75 fixpoint was
    * ~70% of the query. Over `driverEdgeLimit` edges (or for non-integral
    * id types, where JVM and Spark orderings could diverge) it falls
    * back to the distributed pointer-doubling fixpoint below, which is
    * the 100 TB arm — both arms are pinned equal in DedupSpec. */
  def connectedComponents(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 20, driverEdgeLimit: Long = 2000000L): DataFrame = {
    val integralId = pairs.schema(idA).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (integralId && driverEdgeLimit > 0) {
      val guard = math.min(driverEdgeLimit, Int.MaxValue - 2L).toInt + 1
      // one bounded execution of the pair plan: overflow (== guard rows
      // fetched) means the graph outgrew the driver kernel — fall back
      val head = pairs
        .select(col(idA).cast("long").as("a"), col(idB).cast("long").as("b"))
        .limit(guard).collect()
      val anyNull = head.exists(r => r.isNullAt(0) || r.isNullAt(1))
      if (head.length < guard && !anyNull) {
        // union-find, smaller root wins — component = min reachable id,
        // exactly the distributed arm's min-label fixpoint result
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrDefault(x, x)
          while (p != x) {
            val gp = parent.getOrDefault(p, p)
            parent.put(x, gp); x = p; p = gp
          }
          x
        }
        val nodes = new java.util.TreeSet[java.lang.Long]()
        head.foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          nodes.add(a); nodes.add(b)
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
        val spark = pairs.sparkSession
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row](nodes.size())
        nodes.forEach(n => rows.add(org.apache.spark.sql.Row(n.longValue(), find(n))))
        val idType = pairs.schema(idA).dataType
        val out = spark.createDataFrame(rows,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType, nullable = false))))
        return out.select(col("id").cast(idType), col("component").cast(idType))
      }
    }
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // ids keep their native type: the survivor is the NUMERIC min for an
    // integral id (a string cast would silently switch to lexicographic
    // order — "10" < "9" — and diverge from any numeric oracle)
    val edges = pairs
      .select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .persist(lvl)
    val seed = edges.select(col("src").as("cc_id")).distinct()
      .withColumn("cc_label", col("cc_id"))
      .persist(lvl)
    // `labels` is the plan consumed by the next round; `persistedGen` is
    // the frame that actually carries the cache entry. From round 2 on
    // labels is a Project OVER the persisted frame — unpersisting the
    // projection is a silent no-op (CacheManager matches on sameResult),
    // so the generation handle must be kept separately or every round's
    // cache entry leaks until an external clearCache.
    //
    // LINEAGE TRUNCATION (the round-8 q75 regression fix): each round's
    // frame must be re-rooted as a fresh leaf (`GraftBridge.reroot`: a
    // LogicalRDD scan over the cached frame's compiled RDD) before the
    // next round builds on it. Without this the analyzed plan embeds the previous
    // round's plan at every reference — 4 references per round with the
    // doubling hop — and per-action DRIVER work (analysis, dedup-clone of
    // the self-join branch, canonicalisation for cache lookup) grows
    // geometrically: measured 2s → 5.5s round-over-round at sf0.1 even
    // with every input fully cached, 2.7s → 29s for q75 overall. With
    // truncation every round plans over two constant-size leaves, the
    // same shape a 1000-round run would have at 100 TB.
    var labels = GraftBridge.reroot(seed)
    var persistedGen = seed

    var round = 0
    var converged = false
    while (!converged && round < maxIter) {
      val neighbourMin = edges
        .join(labels, edges("dst") === labels("cc_id"))
        .groupBy(col("src")).agg(min(col("cc_label")).as("cc_nmin"))
      // half-step: own label vs the neighbours' minimum
      val stepped = labels
        .join(neighbourMin, labels("cc_id") === neighbourMin("src"), "left")
        .select(col("cc_id"),
          least(col("cc_label"), coalesce(col("cc_nmin"), col("cc_label")))
            .as("cc_half"),
          col("cc_label").as("cc_prev"))
        .persist(lvl) // consumed by BOTH sides of the hop self-join below
      // POINTER DOUBLING: additionally take the label OF the current
      // label (every label value is itself a node id, so the lookup is a
      // self-join on the label frame). One hop per round turns the
      // propagation distance from `round` into `2^round`, so convergence
      // needs O(log diameter) rounds instead of O(diameter) — at toy
      // scale each round's fixed job latency dominates, and at 100 TB a
      // long dup-chain component no longer costs a round per link.
      val hop = stepped.select(
        col("cc_id").as("h_id"), col("cc_half").as("h_label"))
      val nextLabel = least(col("cc_half"),
        coalesce(col("h_label"), col("cc_half")))
      val next = stepped
        .join(hop, stepped("cc_half") === hop("h_id"), "left")
        .select(col("cc_id"),
          nextLabel.as("cc_label"),
          (nextLabel < col("cc_prev")).as("cc_moved"))
        .persist(lvl)
      // ONE action per round: counting the moved rows evaluates (and
      // therefore caches) every partition of `next` before the previous
      // frames are unpersisted — otherwise lazily-uncached partitions
      // would recompute through the unpersisted iteration lineage later
      converged = next.filter(col("cc_moved")).count() == 0
      // re-root BEFORE dropping the old generations: the new leaf's RDD
      // is resolved against the live cache entry of `next`
      labels = GraftBridge.reroot(next.drop("cc_moved"))
      stepped.unpersist(false)
      persistedGen.unpersist(false)
      persistedGen = next
      round += 1
    }
    edges.unpersist(false)
    // No-silent-caps convention: a non-converged exit would return
    // incorrect component labels (paths longer than maxIter rounds keep
    // stale labels) — fail loudly instead of publishing wrong clusters.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
          "raise maxIter (component diameter exceeds the round budget)")
    labels.select(col("cc_id").as("id"), col("cc_label").as("component"))
  }
}
