package graft.engine

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.contracts.{ColumnSpec, EdgeContract}
import graft.sources.Tables
import graft.queries.Q._

/** The composed end-to-end domain pipeline — the reference's core artifact
  * rebuilt Spark-first (reference `engine/registry.py:46-58` stage list,
  * `engine/pipeline.py:184-210` orchestration): derive domain tables →
  * conform to edge contracts → unify exposures → FX conversion → hierarchy
  * roll-ups + rating inheritance → classification → CCF/EAD → CRM waterfall
  * (collateral haircuts + guarantee substitution) → SA risk weights →
  * supporting factors → aggregation.
  *
  * Domain tables are DETERMINISTIC derivations of the harness star schema
  * (orders ≅ loans/facilities, customer ≅ counterparties, lineitem ≅
  * collateral/guarantees, nation/region ≅ country hierarchy + FX), so the
  * whole pipeline is oracle-checkable end-to-end in DuckDB.
  *
  * Every stage is a pure DataFrame → DataFrame function: q90 composes them
  * LAZILY into one Catalyst plan (the optimizer sees the whole pipeline —
  * pushdown/pruning cross stage boundaries), while `stages` wraps the same
  * functions as Orchestrator stages with persist-materialised edges for
  * the long-pipeline execution mode (reference eager stage edges,
  * `engine/materialise.py:220-243`). DomainPipelineSpec asserts both modes
  * produce identical results.
  *
  * One persist rule holds for both modes: whoever composes the pipeline
  * persists a frame read more than once, holds it and releases it — the
  * ledger memo its ledger (an entry of [[graft.SessionScope]], released
  * with its key or its session), the stage fold its edges
  * ([[PipelineContext.release]]). No stage function persists anything
  * itself, and the composed ledger plan reads each of its frames once
  * (the CRM waterfall takes its input through one exchange), so nothing
  * inside it needs a persist.
  *
  * Scale shape: the only data-sized shuffles are the lending-group and
  * counterparty windows, the ONE exchange of the CRM waterfall (exposure
  * spine and collateral/guarantee items together, every CRM value a
  * window over it), the spine's shuffle ahead of the ledger cache, and
  * the final summary. The counterparty, grant and
  * provision joins broadcast (one provision aggregate serves both
  * levels), the best-rating pick is a per-row array expression, and the
  * constant rule tables are CASE expressions and array lookups, not
  * joins — the plan that holds at 100 TB. A `calculate()` starts 11 Spark
  * jobs at sf0.001 and sf0.01: four broadcasts (nation, region, grants,
  * counterparties), the provision aggregate and its broadcast, the two
  * group windows' shuffles, the CRM exchange, the stage boundary before
  * the cache (see [[buildLedger]]) and the ledger's cache fill.
  */
object DomainPipeline {

  // ---- regime-as-data (compiled to CASE expressions by [[ruleCase]] AND
  //      to the oracle's VALUES clauses, so both engines share one source
  //      of truth; reference `rulebook/packs/*`) --------------------------

  val sectorMap: Seq[(String, String)] = Seq(
    "BUILDING" -> "property", "AUTOMOBILE" -> "manufacturing",
    "MACHINERY" -> "manufacturing", "FURNITURE" -> "institution",
    "HOUSEHOLD" -> "individual")

  /** region → (currency, rate-to-base). */
  val fxTable: Seq[(String, String, Double)] = Seq(
    ("AMERICA", "USD", 1.0), ("EUROPE", "EUR", 1.08),
    ("ASIA", "JPY", 0.0125), ("AFRICA", "ZAR", 0.055),
    ("MIDDLE EAST", "AED", 0.27))

  /** exposure_type → CCF (reference `engine/ccf.py`). */
  val ccfTable: Seq[(String, Double)] = Seq(
    "loan" -> 1.0, "facility_undrawn" -> 0.75)

  /** collateral_type → supervisory haircut (reference
    * `engine/crm/haircuts.py`). */
  val haircutTable: Seq[(String, Double)] = Seq(
    "financial" -> 0.15, "gold" -> 0.20, "re_residential" -> 0.25,
    "re_commercial" -> 0.30, "other" -> 0.40)

  /** part-key mod-5 → collateral type (derivation rule for the synthetic
    * collateral book — the harness lineitem has no shipmode column). */
  val collTypeByMod: Seq[(Int, String)] = Seq(
    0 -> "financial", 1 -> "gold", 2 -> "re_residential",
    3 -> "re_commercial", 4 -> "other")

  /** (exposure_class, cqs) → SA risk weight (reference
    * `engine/sa/risk_weights.py` lookup core; unrated handled by the
    * effective-cqs fallback, not a separate chain). */
  val rwTable: Seq[(String, Int, Double)] = Seq(
    ("sovereign", 1, 0.0), ("sovereign", 2, 0.2), ("sovereign", 3, 0.5),
    ("sovereign", 4, 1.0), ("sovereign", 5, 1.0), ("sovereign", 6, 1.5),
    ("institution", 1, 0.2), ("institution", 2, 0.3), ("institution", 3, 0.5),
    ("institution", 4, 1.0), ("institution", 5, 1.0), ("institution", 6, 1.5),
    ("corporate", 1, 0.2), ("corporate", 2, 0.5), ("corporate", 3, 0.75),
    ("corporate", 4, 1.0), ("corporate", 5, 1.5), ("corporate", 6, 1.5),
    ("sme_corporate", 1, 0.2), ("sme_corporate", 2, 0.5), ("sme_corporate", 3, 0.75),
    ("sme_corporate", 4, 0.85), ("sme_corporate", 5, 1.0), ("sme_corporate", 6, 1.5),
    ("retail", 1, 0.75), ("retail", 2, 0.75), ("retail", 3, 0.75),
    ("retail", 4, 0.75), ("retail", 5, 0.75), ("retail", 6, 0.75))

  /** Candidate-regime (B3.1-style recalibration) SA risk weights — the
    * second rulepack a parallel-run comparison evaluates (reference
    * framework switch `api/service.py` CRR vs BASEL_3_1 + the per-regime
    * rule packs under `rulebook/packs`). Differs from [[rwTable]] in the institution
    * SCRA-style grades, the corporate investment grades, and the retail
    * transactor band. */
  val rwTableB31: Seq[(String, Int, Double)] = Seq(
    ("sovereign", 1, 0.0), ("sovereign", 2, 0.2), ("sovereign", 3, 0.5),
    ("sovereign", 4, 1.0), ("sovereign", 5, 1.0), ("sovereign", 6, 1.5),
    ("institution", 1, 0.2), ("institution", 2, 0.4), ("institution", 3, 0.4),
    ("institution", 4, 0.75), ("institution", 5, 1.0), ("institution", 6, 1.5),
    ("corporate", 1, 0.2), ("corporate", 2, 0.5), ("corporate", 3, 0.65),
    ("corporate", 4, 1.0), ("corporate", 5, 1.5), ("corporate", 6, 1.5),
    ("sme_corporate", 1, 0.2), ("sme_corporate", 2, 0.5), ("sme_corporate", 3, 0.75),
    ("sme_corporate", 4, 0.85), ("sme_corporate", 5, 1.0), ("sme_corporate", 6, 1.5),
    ("retail", 1, 0.45), ("retail", 2, 0.45), ("retail", 3, 0.75),
    ("retail", 4, 0.75), ("retail", 5, 0.75), ("retail", 6, 0.75))

  /** A constant rule table compiled to one CASE expression: the value of
    * the first row whose key `matches`, else `otherwise`. A null input
    * matches no row, so with the default null `otherwise` the result is
    * what a left join against the table on its key would give, without
    * the join: no broadcast stage and no re-plan per table. */
  private def ruleCase[K](rows: Seq[(K, Any)])(
      matches: K => Column, otherwise: Column = lit(null)): Column =
    rows.foldLeft(Option.empty[Column]) {
      case (None, (k, v)) => Some(when(matches(k), v))
      case (Some(acc), (k, v)) => Some(acc.when(matches(k), v))
    }.fold(otherwise)(_.otherwise(otherwise))

  val sovereignCountries: Seq[String] =
    Seq("UNITED STATES", "GERMANY", "CHINA", "FRANCE", "JAPAN")

  /** Secured-by-collateral flat risk weight (simple FCCM-style treatment). */
  val collateralRw = 0.2

  // ---- edge contracts (reference `data/schemas.py:166,310,565,...`) ----

  val counterpartyEdge: EdgeContract = EdgeContract("counterparties", Seq(
    "counterparty_reference" -> ColumnSpec(StringType, required = true),
    "parent_group" -> ColumnSpec(StringType),
    "country_key" -> ColumnSpec(IntegerType),
    "sector" -> ColumnSpec(StringType),
    "country" -> ColumnSpec(StringType),
    "region_name" -> ColumnSpec(StringType),
    "turnover" -> ColumnSpec(DoubleType),
    "own_cqs" -> ColumnSpec(IntegerType)))

  val exposureEdge: EdgeContract = EdgeContract("exposures", Seq(
    "exposure_reference" -> ColumnSpec(StringType, required = true),
    "exposure_type" -> ColumnSpec(StringType, required = true),
    "counterparty_reference" -> ColumnSpec(StringType, required = true),
    "drawn" -> ColumnSpec(DoubleType),
    "undrawn" -> ColumnSpec(DoubleType),
    "maturity_years" -> ColumnSpec(DoubleType),
    "is_defaulted" -> ColumnSpec(BooleanType, default = Some(false)),
    "committed" -> ColumnSpec(BooleanType, default = Some(true))))

  /** (cqs → PD) proxy scale for the composed book's EL summary
    * (reference IRB PD bands; shared by q100's Spark and oracle sides). */
  val cqsPdTable: Seq[(Int, Double)] = Seq(
    1 -> 0.0003, 2 -> 0.001, 3 -> 0.005, 4 -> 0.02, 5 -> 0.08, 6 -> 0.25)

  /** Downturn LGD for the composed book's EL proxy (senior unsecured). */
  val elLgd = 0.45

  val provisionEdge: EdgeContract = EdgeContract("provisions", Seq(
    "provision_reference" -> ColumnSpec(StringType, required = true),
    "beneficiary_type" -> ColumnSpec(StringType, required = true),
    "beneficiary_reference" -> ColumnSpec(StringType, required = true),
    "amount" -> ColumnSpec(DoubleType)))

  val collateralEdge: EdgeContract = EdgeContract("collateral", Seq(
    "collateral_reference" -> ColumnSpec(StringType, required = true),
    "exposure_reference" -> ColumnSpec(StringType, required = true),
    "collateral_type" -> ColumnSpec(StringType),
    "market_value" -> ColumnSpec(DoubleType)))

  val guaranteeEdge: EdgeContract = EdgeContract("guarantees", Seq(
    "guarantee_reference" -> ColumnSpec(StringType, required = true),
    "exposure_reference" -> ColumnSpec(StringType, required = true),
    "guarantor_cqs" -> ColumnSpec(IntegerType),
    "coverage_pct" -> ColumnSpec(DoubleType)))

  // ---- stage 1: derive + conform domain tables -------------------------

  /** Counterparties: customer ⋈ nation ⋈ region; parent group = nation
    * (org_mappings analogue). `own_cqs` is the rank-1 best-rating pick
    * (reference `stages/hierarchy/ratings.py:106-127`: lowest cqs wins,
    * deterministic agency tie-break) over the multi-rating book (reference
    * RATINGS_SCHEMA `data/schemas.py:929`): each non-negative-balance
    * customer carries 1-3 agency assessments, cqs varying by agency. Every
    * assessment derives from the customer's own row, so the pick is a
    * per-row `array_min` over the row's (cqs, agency) structs — struct
    * order is the rank order — with no window shuffle and no join back.
    * Negative-balance counterparties are unrated (null) and fall through
    * to the group-best inheritance in [[hierarchy]]. */
  def counterparties(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    val sector = ruleCase(sectorMap)(col("c_mktsegment") === _, lit("corporate"))
    val assessments = transform(sequence(lit(0), col("c_custkey") % 3), a => {
      val agency = a.cast("int")
      struct(((col("c_custkey") + agency * 7) % 6 + 1).cast("int").as("cqs"),
        agency.as("rating_agency"))
    })
    val best = when(col("c_acctbal") >= 0, array_min(assessments).getField("cqs"))
    val df = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        concat(lit("CP-"), col("c_custkey").cast("string")).as("counterparty_reference"),
        concat(lit("GRP-"), col("n_nationkey").cast("string")).as("parent_group"),
        col("n_nationkey").cast("int").as("country_key"),
        sector.as("sector"),
        col("n_name").as("country"),
        col("r_name").as("region_name"),
        (col("c_acctbal") * lit(10000.0)).as("turnover"),
        best.as("own_cqs"))
    counterpartyEdge.conform(df)
  }

  /** Unify (reference `stages/hierarchy/unify.py:56-115`): loans from all
    * orders plus synthetic undrawn-facility rows for open orders — the
    * schema-aligning union that gives one exposures frame. */
  def exposuresUnified(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val loans = o.select(
      concat(lit("ORD-"), col("o_orderkey").cast("string")).as("exposure_reference"),
      lit("loan").as("exposure_type"),
      concat(lit("CP-"), col("o_custkey").cast("string")).as("counterparty_reference"),
      col("o_totalprice").as("drawn"),
      lit(0.0).as("undrawn"),
      (lit(1.0) + (col("o_orderkey") % 5).cast("double")).as("maturity_years"),
      (col("o_orderkey") % 41 === 0).as("is_defaulted"))
    val facilities = o.filter(col("o_orderstatus") === "O").select(
      concat(lit("FAC-"), col("o_orderkey").cast("string")).as("exposure_reference"),
      lit("facility_undrawn").as("exposure_type"),
      concat(lit("CP-"), col("o_custkey").cast("string")).as("counterparty_reference"),
      lit(0.0).as("drawn"),
      (col("o_totalprice") * lit(0.25)).as("undrawn"),
      (lit(1.0) + (col("o_orderkey") % 5).cast("double")).as("maturity_years"),
      (col("o_orderkey") % 41 === 0).as("is_defaulted"))
    exposureEdge.conform(loans.unionByName(facilities))
  }

  /** Collateral book: returned lineitems, typed off the part key. */
  def collateral(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val collType = ruleCase(collTypeByMod)(col("l_partkey") % 5 === _, lit("other"))
    val df = li.filter(col("l_returnflag") === "R").select(
      concat(lit("COLL-"), col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string")).as("collateral_reference"),
      concat(lit("ORD-"), col("l_orderkey").cast("string")).as("exposure_reference"),
      collType.as("collateral_type"),
      (col("l_extendedprice") * lit(0.5)).as("market_value"))
    collateralEdge.conform(df)
  }

  /** Provision book (reference PROVISION_SCHEMA `data/schemas.py:916`):
    * specific credit-risk adjustments at two beneficiary levels, derived
    * deterministically from the star schema so the whole chain stays
    * oracle-checkable:
    *  - direct (loan-level): lineitems flagged 'A' — a provision against
    *    that line's order exposure, 10% of the line value;
    *  - counterparty-level: customers with a negative account balance —
    *    a blanket provision to be allocated pro-rata across the
    *    counterparty's exposures (reference `engine/crm/provisions.py`
    *    multi-level allocation).
    * Amounts are q2-quantised at the row so decimal sums are exact in
    * both engines. */
  def provisions(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val c = Tables.customer(s, dir)
    val direct = li.filter(col("l_returnflag") === "A").select(
      concat(lit("PROV-"), col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string")).as("provision_reference"),
      lit("direct").as("beneficiary_type"),
      concat(lit("ORD-"), col("l_orderkey").cast("string")).as("beneficiary_reference"),
      q2(col("l_extendedprice") * lit(0.10)).as("amount"))
    val cpLevel = c.filter(col("c_acctbal") < 0).select(
      concat(lit("PROVCP-"), col("c_custkey").cast("string")).as("provision_reference"),
      lit("counterparty").as("beneficiary_type"),
      concat(lit("CP-"), col("c_custkey").cast("string")).as("beneficiary_reference"),
      q2(-col("c_acctbal") * lit(50.0)).as("amount"))
    provisionEdge.conform(direct.unionByName(cpLevel))
  }

  /** Guarantee book: first lineitem of discounted orders; guarantor rated
    * 1-4 off the supplier key. */
  def guarantees(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val df = li.filter(col("l_linenumber") === 1 && col("l_discount") >= 0.05)
      .select(
        concat(lit("G-"), col("l_orderkey").cast("string")).as("guarantee_reference"),
        concat(lit("ORD-"), col("l_orderkey").cast("string")).as("exposure_reference"),
        (lit(1) + col("l_suppkey") % 4).cast("int").as("guarantor_cqs"),
        when(col("l_tax") > 0.04, 0.75).otherwise(0.5).as("coverage_pct"))
    guaranteeEdge.conform(df)
  }

  // ---- stage 2: enrich + FX -------------------------------------------

  /** Counterparty-attribute join + FX conversion to base currency
    * (reference FX stage; `queries/Joins.scala:22` broadcast pattern). The
    * region's currency and rate come from [[fxTable]] as CASE
    * expressions. Column order is the ledger's published one:
    * `region_name` first, `currency` and `fx_rate` after the counterparty
    * columns. */
  def enrichFx(exposures: DataFrame, cptys: DataFrame): DataFrame = {
    val withCpty = exposures.join(broadcast(cptys), Seq("counterparty_reference"), "left")
    def fx(v: ((String, String, Double)) => Any) =
      ruleCase(fxTable.map(r => r._1 -> v(r)))(col("region_name") === _)
    val rate = fx(_._3)
    // one projection: every withColumn call runs a FULL analyzer pass
    // over the accumulated plan, and the ledger chain is deep enough that
    // per-column calls dominate the cold driver cost (measured ~12 s of
    // pure analysis at sf0.1)
    withCpty.select(
      col("region_name") +:
        withCpty.columns.filter(_ != "region_name").map(col) :+
        fx(_._2).as("currency") :+
        rate.as("fx_rate") :+
        q2(col("drawn") * rate).as("drawn_base") :+
        q2(col("undrawn") * rate).as("undrawn_base"): _*)
  }

  // ---- stage 3: hierarchy roll-ups + rating inheritance ----------------

  /** Lending-group totals via window (never a self-join) + best-rating
    * inheritance for unrated counterparties (reference
    * `stages/hierarchy/graph.py` + rating inheritance rank-pick). */
  def hierarchy(enriched: DataFrame): DataFrame = {
    val wGroup = Window.partitionBy(col("parent_group"))
    enriched
      .withColumns(Map(
        "group_drawn" -> dsumOver(col("drawn_base"), 2, wGroup),
        "group_best_cqs" -> min(col("own_cqs")).over(wGroup)))
      .withColumn("effective_cqs",
        coalesce(col("own_cqs"), col("group_best_cqs"), lit(4)))
  }

  // ---- stage 4: classification ----------------------------------------

  /** Model-permission grants as an input table (reference permission
    * mode "irb", `api/service.py:47-53`: each row grants IRB approval for
    * a model_id + exposure_class scoped by geography; exposures without a
    * matching grant fall back to SA). Derived deterministically from the
    * star schema: even country keys hold IRB permission for corporate and
    * institution books — one grant row per (class, country). */
  def modelPermissions(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .filter(col("n_nationkey") % 2 === 0)
      .select(col("n_name").as("perm_country"),
        explode(array(lit("corporate"), lit("institution"))).as("perm_class"))
      .withColumn("model_id",
        concat(lit("IRB-"), upper(substring(col("perm_class"), 1, 4)), lit("-1")))

  /** Exposure-class cascade + approach routing (reference
    * `stages/classify` attribute cascade + the model-permission join:
    * grants are a small dimension → broadcast; unmatched rows take the SA
    * fallback). `irbMode = false` is the reference's "standardised"
    * permission mode — every exposure routes SA and grants are ignored. */
  def classify(h: DataFrame, grants: DataFrame, irbMode: Boolean = true): DataFrame = {
    val classed = h.withColumn("exposure_class",
      when(col("country").isin(sovereignCountries: _*) &&
           col("effective_cqs") <= 2, "sovereign")
        .when(col("sector") === "individual" && col("drawn_base") < 100000, "retail")
        .when(col("sector") === "institution", "institution")
        .when(col("turnover") < 50000000.0, "sme_corporate")
        .otherwise("corporate"))
    classed
      .join(broadcast(grants),
        col("exposure_class") === col("perm_class") &&
          col("country") === col("perm_country"), "left")
      .withColumn("approach",
        when(lit(irbMode) && col("model_id").isNotNull, "IRB").otherwise("SA"))
      .drop("perm_class", "perm_country", "model_id")
  }

  // ---- stage 5: provisions + CCF / EAD --------------------------------

  /** Provision resolution + CCF/EAD (reference `engine/crm/provisions.py`
    * resolve_provisions → CCF → EAD initialisation; CRR Art. 110-111):
    *
    *  - direct provisions join 1:1 on the exposure key;
    *  - counterparty-level provisions allocate pro-rata by the gross-EAD
    *    weight via a window over the counterparty key (the reference's
    *    `allocate_multi_level` kernel; never a self-join);
    *  - SA takes the drawn-first deduction (Art. 111(2)): provisions net
    *    against drawn, the remainder against the undrawn nominal BEFORE
    *    the CCF, so `ead_pre_crm = max(0, drawn − prov_drawn) +
    *    (nominal − prov_nominal) · CCF`;
    *  - IRB deducts nothing (provisions feed the EL shortfall/excess
    *    comparison instead — q100); `provision_allocated` is tracked.
    *
    * Scale shape: the provision book aggregates to beneficiary grain
    * BEFORE joining (one small shuffle), and both joins read that one
    * aggregate, so it is broadcast once: direct (`ORD-`) and counterparty
    * (`CP-`) beneficiary references never collide, so each join picks its
    * own level by key alone. Both joins must read the SAME plan — a
    * per-level filter or projection would give each its own broadcast.
    * The pro-rata window shuffles on the counterparty key once. */
  def eadCalc(c: DataFrame, prov: DataFrame): DataFrame = {
    val provByRef = prov.groupBy(col("beneficiary_reference").as("prov_ref"))
      .agg(dsum(col("amount"), 2).as("prov_amount"))
    val wCp = Window.partitionBy(col("counterparty_reference"))
    val isSa = col("approach") === "SA"
    // dependent columns are INLINED as expression values so the whole
    // fill lands in two projections (one analyzer pass each) instead of
    // eight; the inlined trees are value-identical to the column
    // references they replace, and whole-stage codegen's subexpression
    // elimination collapses the duplicates at execution
    val provAlloc =
      q2(coalesce(col("prov_direct"), lit(0.0)) +
        when(col("cp_basis") > 0,
          q2(coalesce(col("prov_cp"), lit(0.0)) * col("ead_gross") / col("cp_basis")))
          .otherwise(0.0))
    val provOnDrawn =
      when(isSa, least(provAlloc, greatest(col("drawn_base"), lit(0.0))))
        .otherwise(0.0)
    val provOnNominal =
      when(isSa, least(
        greatest(provAlloc - provOnDrawn, lit(0.0)),
        col("undrawn_base"))).otherwise(0.0)
    // ccf_type: the exposure type when [[ccfTable]] has it, else null
    val withEad = c.select(col("*"),
        ruleCase(ccfTable.map { case (t, _) => t -> t })(col("exposure_type") === _)
          .as("ccf_type"),
        ruleCase(ccfTable)(col("exposure_type") === _).as("ccf"))
      .withColumns(Map(
        "ccf_eff" -> coalesce(col("ccf"), lit(1.0)),
        "ead_gross" ->
          q2(col("drawn_base") + col("undrawn_base") * coalesce(col("ccf"), lit(1.0)))))
    val withProv = withEad
      .join(provByRef.as("pd"), col("exposure_reference") === col("pd.prov_ref"), "left")
      .join(provByRef.as("pc"), col("counterparty_reference") === col("pc.prov_ref"), "left")
    withProv.select(withEad.columns.map(withEad(_)) :+
        col("pd.prov_amount").as("prov_direct") :+
        col("pc.prov_amount").as("prov_cp"): _*)
      .withColumn("cp_basis", dsumOver(col("ead_gross"), 2, wCp))
      .withColumns(Map(
        "provision_allocated" -> provAlloc,
        "provision_on_drawn" -> provOnDrawn,
        "provision_on_nominal" -> provOnNominal,
        "provision_deducted" -> q2(provOnDrawn + provOnNominal),
        "ead_pre_crm" ->
          q2(greatest(col("drawn_base") - provOnDrawn, lit(0.0)) +
            (col("undrawn_base") - provOnNominal) * col("ccf_eff"))))
      .drop("prov_direct", "prov_cp", "cp_basis")
  }

  /** Own SA risk weight: the (class, cqs) decision table as a CASE over
    * the class that picks the class's weight array, indexed by cqs;
    * unmatched pairs at 100%. The defaulted book takes the
    * CRR Art. 127 override in BOTH regimes: 100% when specific provisions
    * reach 20% of the gross exposure value (the pre-deduction basis — the
    * provision test is on the pre-adjustment value), else 150%. */
  def ownRiskWeight(e: DataFrame): DataFrame = {
    val defaultedRw =
      when(col("provision_allocated") >= col("ead_gross") * 0.2, 1.0).otherwise(1.5)
    val isDefaultedSa = col("is_defaulted") && col("approach") === "SA"
    // one weight array per class instead of one CASE branch per (class,
    // cqs): the two 30-branch chains were the largest generated class of
    // the build. Indices outside 1..max are guarded (element_at throws on
    // 0 and reads negative indices from the end), and a cqs the table
    // lacks weighs 100%, as an unmatched pair did.
    val cqs = col("effective_cqs")
    def weight(table: Seq[(String, Int, Double)]): Column = {
      val byKey = table.map { case (c, q, w) => (c, q) -> w }.toMap
      val maxCqs = table.map(_._2).max
      val byClass = table.map(_._1).distinct.map { c =>
        c -> coalesce(
          when(cqs.between(1, maxCqs), try_element_at(
            typedLit(Seq.tabulate(maxCqs)(i => byKey.getOrElse((c, i + 1), 1.0))), cqs)),
          lit(1.0))
      }
      when(isDefaultedSa, defaultedRw).otherwise(
        ruleCase(byClass)(col("exposure_class") === _, lit(1.0)))
    }
    // shadow regime: the candidate rule-set's weight resolved in the
    // SAME projection (the reference runs the pipeline once per framework
    // and compares materialised runs — at scale, one pass computing both
    // regimes dominates two full runs)
    e.withColumns(Map(
      "own_rw" -> weight(rwTable),
      "own_rw_b31" -> weight(rwTableB31)))
  }

  // ---- stage 6: CRM waterfall -----------------------------------------

  /** Guarantor risk weight = the institution rows of the rw table, keyed
    * by guarantor_cqs. */
  private def guarantorRw(cqs: Column): Column =
    ruleCase(rwTable.collect { case ("institution", q, w) => q -> w })(cqs === _, lit(1.0))

  /** The composed CRM kernel (reference `engine/crm/processor.py:228-443`,
    * `engine/kernels/allocation.py`, `crm/guarantees.py:1419-1480`):
    * collateral and guarantees become one prioritised item list per
    * exposure (collateral first), allocated greedily against EAD with an
    * ordered cumulative-sum window — never exceeding EAD — then collapsed
    * back to exposure grain with covered/uncovered conservation.
    *
    * `withRw` is read once. Its rows (the exposure spine, priority 0) and
    * the item rows are one union behind ONE exchange on the exposure key,
    * and every per-exposure value is a window over that partition: the
    * spine's EAD and FX rate carried onto its items, the ordered
    * allocation, and the covered totals, which land on the spine row kept
    * at the end. No join back to the spine, so nothing to persist.
    */
  def crmWaterfall(withRw: DataFrame, coll: DataFrame, guar: DataFrame): DataFrame = {
    val haircut = ruleCase(haircutTable)(col("collateral_type") === _, lit(0.40))
    // One unified item book: the diagonal union (null-padded
    // type-specific columns) scans each book's source once.
    val rawItems = coll.select(
        col("exposure_reference"),
        lit(1).as("priority"),
        col("collateral_reference").as("item_ref"),
        col("collateral_type"),
        col("market_value"),
        lit(null).cast("int").as("guarantor_cqs"),
        lit(null).cast("double").as("coverage_pct"))
      .unionByName(guar.select(
        col("exposure_reference"),
        lit(2).as("priority"),
        col("guarantee_reference").as("item_ref"),
        lit(null).cast("string").as("collateral_type"),
        lit(null).cast("double").as("market_value"),
        col("guarantor_cqs"),
        col("coverage_pct")))
    // ...and the exposure spine beside it, priority 0, each input row
    // whole in ONE struct column: the item rows carry one null for it,
    // and the sort and windows below copy one field, not every column
    val key = withRw.schema("exposure_reference")
    val spine = withRw.schema.fields.toSeq.filter(_ ne key)
    val rows = withRw
      .select(col("exposure_reference") +:
        struct(spine.map(f => col(f.name)): _*).as("spine") +:
        rawItems.schema.fields.toSeq.filter(_ ne rawItems.schema(key.name))
          .map(f => lit(null).cast(f.dataType).as(f.name)): _*)
      .withColumn("priority", lit(0))
      .unionByName(rawItems.withColumn("spine", lit(null).cast(StructType(spine))))
    // TOTAL order: the synthetic books can carry duplicate item
    // references (the harness lineitem table repeats (orderkey,
    // linenumber) pairs), and a greedy cutoff landing on a tie would
    // allocate engine-dependently — invisible in the covered TOTAL
    // (tie-invariant) but visible in the per-type split. Within one
    // exposure the FX rate and EAD are constant and non-negative, so a
    // collateral's amount rises with its market value (one type, one
    // haircut) and a guarantee's with its coverage: ordering by those raw
    // inputs is the order by (amount, guarantor weight) up to rows of
    // equal amount, whose swap changes no total. Needing no amount, this
    // ONE order serves all three windows, so the partitions are sorted
    // once. Nulls are constant within each priority class, so engine
    // null-ordering defaults never engage. The spine row (priority 0,
    // null amount) sorts first and adds nothing to the running sum.
    val wExp = Window.partitionBy(col("exposure_reference"))
      .orderBy(col("priority"), col("item_ref"), col("collateral_type"),
        col("market_value"), col("coverage_pct"), col("guarantor_cqs"))
    val wAll = wExp.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // the spine's values on every row of its exposure; an item with no
    // spine row gets nulls and is dropped with the item rows at the end
    val items = rows
      .withColumns(Map(
        "item_fx" -> max(col("spine.fx_rate")).over(wAll),
        "item_ead" -> max(col("spine.ead_pre_crm")).over(wAll)))
      .withColumns(Map(
        "amount" ->
          when(col("priority") === 1,
            q2(col("market_value") * col("item_fx") * (lit(1.0) - haircut)))
            .when(col("priority") === 2, q2(col("coverage_pct") * col("item_ead"))),
        "guarantor_rw" ->
          when(col("priority") === 2, guarantorRw(col("guarantor_cqs"))).cast("double")))
    // one projection: the inlined window expressions are canonically
    // identical, so ExtractWindowExpressions computes the cumsum once
    val cum = dsumOver(col("amount"), 2,
      wExp.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val alloc = items
      .withColumns(Map(
        "cum" -> cum,
        "allocated" -> q2(greatest(lit(0.0),
          least(col("amount"), col("item_ead") - (cum - col("amount")))))))
    // Per-type collateral tracking (reference ledger columns for COREP
    // C 08.01 cols 0170-0210, `data/schemas.py:2966-2971`): the same
    // allocated legs split by collateral family — an exact partition of
    // coll_covered, proven by q94's v_colltype rules. The spine row adds
    // 0 to each sum, so an exposure without items covers 0.
    val isColl = col("priority") === 1
    def covered(leg: Column): Column =
      coalesce(dsumOver(when(leg, col("allocated")).otherwise(0.0), 2, wAll), lit(0.0))
    val totals = Seq(
      "coll_covered" -> covered(isColl),
      "collateral_financial_value" ->
        covered(isColl && col("collateral_type").isin("financial", "gold")),
      "collateral_re_value" ->
        covered(isColl && col("collateral_type").isin("re_residential", "re_commercial")),
      "collateral_other_value" -> covered(isColl && col("collateral_type") === "other"),
      "guar_covered" -> covered(col("priority") === 2),
      "guarantor_rw" -> max(col("guarantor_rw")).over(wAll))
    // the union made the spine struct and the key nullable; the kept
    // spine rows carry the input's values, so its nullability is restored
    val kept = GraftBridge.knownNotNull(col("spine"))
    val keyOut = if (key.nullable) col(key.name) else GraftBridge.knownNotNull(col(key.name))
    alloc.select(col("*") +: totals.map { case (n, c) => c.as(s"${n}_total") }: _*)
      .filter(col("priority") === 0)
      .select((keyOut.as(key.name) +: spine.map(f => kept.getField(f.name).as(f.name))) ++
        totals.map { case (n, _) => col(s"${n}_total").as(n) } :+
        greatest(lit(0.0), q2(kept.getField("ead_pre_crm") - col("coll_covered_total") -
          col("guar_covered_total"))).as("unsecured"): _*)
  }

  // ---- stage 7: RWA + supporting factor --------------------------------

  /** RWA per exposure: secured portion at the flat collateral weight,
    * guaranteed portion at min(own, guarantor) (substitution only when
    * beneficial — reference `crm/guarantees.py`), remainder at own weight;
    * then the SME supporting factor off lending-group drawn (CRR Art. 501
    * banding, reference `engine/supporting_factors.py:456-560`). */
  def rwaCalc(ledger: DataFrame): DataFrame = {
    ledger
      .withColumns(Map(
        "rwa_pre_sf" -> (
          q2(col("coll_covered") * lit(collateralRw)) +
          q2(col("guar_covered") *
            least(col("own_rw"), coalesce(col("guarantor_rw"), col("own_rw")))) +
          q2(col("unsecured") * col("own_rw"))),
        // candidate-regime shadow: identical formula over the B3.1
        // weight, evaluated in the same projection (no second run)
        "rwa_pre_sf_b31" -> (
          q2(col("coll_covered") * lit(collateralRw)) +
          q2(col("guar_covered") *
            least(col("own_rw_b31"), coalesce(col("guarantor_rw"), col("own_rw_b31")))) +
          q2(col("unsecured") * col("own_rw_b31"))),
        "sf_factor" ->
          when(col("exposure_class") === "sme_corporate",
            when(col("group_drawn") <= 1500000, 0.7619)
              .when(col("group_drawn") <= 3000000, 0.85)
              .otherwise(1.0))
            .otherwise(1.0)))
      .withColumns(Map(
        "rwa" -> q2(col("rwa_pre_sf") * col("sf_factor")),
        "rwa_b31" -> q2(col("rwa_pre_sf_b31") * col("sf_factor"))))
  }

  // ---- stage 8: audit / lineage columns --------------------------------

  /** Audit-ledger breadth (reference ledger schema
    * `data/schemas.py:2877-3121`: `facility_hierarchy_path`,
    * `exposure_class_reason`, `approach_selection_reason`, `ccf_source`,
    * `calculation_warnings`): the columns that make the per-exposure
    * ledger AUDITABLE — every derived decision carries its reason, and
    * data-quality caveats accumulate into one warnings string
    * (`concat_ws` skips the null branches in both engines, so the
    * composite is deterministic with no array carrier). Pure projection —
    * zero new shuffles at any scale. */
  def auditColumns(led: DataFrame): DataFrame = led
    .withColumns(Map(
      "hierarchy_path" ->
        concat_ws("/", col("parent_group"), col("counterparty_reference"),
          col("exposure_reference")),
      "exposure_class_reason" ->
        when(col("exposure_class") === "sovereign", "sovereign_country_cqs_le_2")
          .when(col("exposure_class") === "retail", "individual_below_size_threshold")
          .when(col("exposure_class") === "institution", "sector_institution")
          .when(col("exposure_class") === "sme_corporate", "turnover_below_sme_threshold")
          .otherwise("corporate_default"),
      "approach_selection_reason" ->
        when(col("approach") === "IRB", "irb_permission_grant")
          .otherwise("sa_fallback"),
      "ccf_source" ->
        when(col("exposure_type") === "facility_undrawn", "art_111_75pct_commitment")
          .otherwise("art_111_full_risk"),
      "calculation_warnings" ->
        concat_ws(";",
          when(col("own_cqs").isNull, "UNRATED_CPTY"),
          when(col("own_cqs").isNull && col("group_best_cqs").isNotNull,
            "RATING_INHERITED_FROM_GROUP"),
          when(col("fx_rate").isNull, "FX_RATE_MISSING"),
          when(col("is_defaulted"), "DEFAULTED_EXPOSURE"),
          when(col("provision_allocated") > col("ead_gross"),
            "PROVISION_EXCEEDS_EXPOSURE"),
          when(col("coll_covered") + col("guar_covered") >= col("ead_pre_crm"),
            "FULLY_COVERED"))))

  // ---- composition -----------------------------------------------------

  /** The memo key of the sealed ledger edge, per (session, data dir,
    * permission regime) in [[graft.SessionScope]]. The reference
    * materialises each stage edge at most once per run
    * (`engine/materialise.py:220-243`); without the memo every ledger
    * consumer (q85/q86/q90/q93/q94/q100/q102/q106) re-built an identical
    * plan whose persist entries did not unify, re-paying the full CRM fill
    * per query (~1.4 s × 8 at sf0.1). Returning the SAME DataFrame object
    * guarantees cache-hit by identity rather than relying on
    * canonical-plan matching. */
  private def ledgerKey(irbMode: Boolean) = ("ledger", irbMode)

  /** One memoised ledger: the PERSISTED build handle (its storageLevel is
    * the liveness check, and release unpersists it), the re-rooted
    * leaf consumers receive, and the summaries computed over that leaf,
    * keyed by regime (`b31`). The summaries live and die with the entry. */
  private final class Memo(val persisted: DataFrame) extends graft.SessionScope.Owned {
    // RE-ROOT before handing out: consumers receive a LogicalRDD leaf
    // over the persisted plan's compiled RDD, not the ~300-node ledger
    // subtree itself. Persisting dedups EXECUTION but not PLAN size —
    // every consumer branch (q86's 4-way diamond, 20+ reporting sheets)
    // re-analyzes and re-canonicalises the full subtree per action, which
    // is pure single-threaded driver work that grows with ledger width ×
    // consumer count (the q75 disease, same cure as connectedComponents).
    // Measured: q86 9.5 s → ~1 s at sf0.1. The leaf scans the cached
    // blocks as internal rows, with no Row round-trip. Compiling its RDD
    // is NOT lazy: adaptive execution runs every stage of the build here,
    // the cache fill included (the first call to `ledger` pays them).
    // Lazy, so that work runs outside the memo's build.
    lazy val rooted: DataFrame = GraftBridge.reroot(persisted)

    // guarded by itself
    private val summaries = scala.collection.mutable.Map.empty[Boolean, DataFrame]
    private var released = false

    def live: Boolean =
      persisted.storageLevel != org.apache.spark.storage.StorageLevel.NONE

    /** The memoised summary (plan construction only: the persist is lazy);
      * a released entry (a concurrent release won the race) hands out an
      * unmemoised one rather than leak a persist. */
    def summary(b31: Boolean): DataFrame = summaries.synchronized {
      if (released) summarise(rooted, b31)
      else summaries.getOrElseUpdate(b31,
        summarise(rooted, b31).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }

    def release(): Unit = summaries.synchronized {
      released = true
      (persisted +: summaries.values.toSeq).foreach(_.unpersist(false))
    }
  }

  /** The full per-exposure audit ledger (wide frame), one lazy plan,
    * memoised + persisted per (session, dir, regime).
    * `irbMode = false` runs the reference's "standardised" permission
    * mode (all exposures route SA). If a cache sweep evicted the data,
    * the memo entry is DROPPED and a fresh plan is built and persisted —
    * never re-persist a stale, already-executed frame: its frozen
    * QueryExecution still references the evicted InMemoryRelation, and
    * downstream consumers then re-execute the whole unpersisted chain
    * per join branch (measured: q86 6.5 s → 12 s round-over-round). */
  def ledger(s: SparkSession, dir: String, irbMode: Boolean = true): DataFrame =
    memo(s, dir, irbMode).rooted

  /** The live memo entry for the key, built if absent or evicted; a stale
    * entry is released (its summaries with it). Building the entry is plan
    * construction only (persist() is lazy, and the re-root runs later,
    * outside the build), so concurrent first readers wait for plan
    * construction, never for an executor round-trip. */
  private def memo(s: SparkSession, dir: String, irbMode: Boolean): Memo =
    graft.SessionScope.memo(s, dir, ledgerKey(irbMode))(
      new Memo(buildLedger(s, dir, irbMode)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)),
      (m: Memo) => m.live)

  /** Test hook: the PERSISTED (un-rooted) ledger handle, if memoised —
    * the frame whose QueryExecution carries the real build plan (broadcast
    * joins, the one CRM exchange) and whose storageLevel reflects
    * cache liveness. Consumers never see this frame; specs asserting
    * plan-shape promises inspect it here. */
  private[graft] def persistedHandle(
      s: SparkSession, dir: String, irbMode: Boolean = true): Option[DataFrame] =
    graft.SessionScope.peek[Memo](s, dir, ledgerKey(irbMode)).map(_.persisted)

  /** Release one memoised ledger edge: drop the memo entry and unpersist
    * the ledger and its summaries; `unpersist` on an already-evicted
    * frame is a no-op. */
  def releaseLedger(s: SparkSession, dir: String, irbMode: Boolean = true): Unit =
    graft.SessionScope.drop(s, dir, ledgerKey(irbMode))

  /** Probe hook: the un-memoised composed plan (no ledger persist, no
    * re-root). */
  private[graft] def rawLedgerPlan(
      s: SparkSession, dir: String, irbMode: Boolean = true): DataFrame =
    buildLedger(s, dir, irbMode)

  /** The un-memoised ledger plan (the composition itself). Every frame in
    * it is read once: the CRM waterfall takes its input through one
    * exchange (see [[crmWaterfall]]), so the plan persists nothing and
    * the upstream chain (scan → enrich → group/provision windows) runs
    * once per ledger action. */
  private def buildLedger(s: SparkSession, dir: String, irbMode: Boolean): DataFrame = {
    val exp = exposuresUnified(s, dir)
    val cpty = counterparties(s, dir)
    val h = hierarchy(enrichFx(exp, cpty))
    val cls = classify(h, modelPermissions(s, dir), irbMode)
    val withRw = ownRiskWeight(eadCalc(cls, provisions(s, dir)))
    val crm = crmWaterfall(withRw, collateral(s, dir), guarantees(s, dir))
    // A stage boundary between the waterfall's sort and the cache fill:
    // every job that reads the cached ledger serializes the lineage of
    // the stage that filled the cache, and a stage that sorts carries the
    // whole upstream physical plan in it (the sort operator is a
    // generated-code reference) — 420 KB per read at sf0.01 against
    // 60 KB behind this shuffle, which slowed each ledger read by ~50 ms.
    // The key differs from the waterfall's exposure key because a
    // repartition on the child's own partitioning is planned away.
    auditColumns(rwaCalc(crm.repartition(col("counterparty_reference"))))
  }

  /** The (class, approach) roll-up of a ledger frame with portfolio
    * shares — q90's output, shared by the lazy and staged execution modes
    * so both emit the identical summary. `b31` sums the candidate regime's
    * `rwa_b31` instead of the CRR `rwa`. One aggregation scans the ledger;
    * the portfolio total is the sum of the exact per-class DECIMAL(38,2)
    * RWA sums over an unpartitioned window (a handful of rows) — the same
    * decimal as one global sum over the ledger, without a second scan. */
  def summarise(led: DataFrame, b31: Boolean = false): DataFrame = {
    val rwa = col(if (b31) "rwa_b31" else "rwa").cast(DecimalType(38, 2))
    val classRwa = col("class_rwa").cast("double")
    led.groupBy(col("exposure_class"), col("approach")).agg(
        count(lit(1)).as("n_exposures"),
        dsum(col("ead_pre_crm"), 2).as("total_ead"),
        dsum(col("coll_covered"), 2).as("collateral_covered"),
        dsum(col("guar_covered"), 2).as("guarantee_covered"),
        dsum(col("unsecured"), 2).as("unsecured_ead"),
        dsum(col("provision_deducted"), 2).as("provisions_deducted"),
        sum(rwa).as("class_rwa"))
      .select(
        col("exposure_class"), col("approach"), col("n_exposures"),
        col("total_ead"), col("collateral_covered"), col("guarantee_covered"),
        col("unsecured_ead"), col("provisions_deducted"), classRwa.as("total_rwa"),
        q6(classRwa / sum(col("class_rwa")).over().cast("double")).as("rwa_share"))
      .orderBy(col("exposure_class"), col("approach"))
  }

  /** [[summarise]] over the memoised ledger, computed at most once per
    * memo entry: memoised beside the ledger and dropped with it, persisted
    * lazily (nothing runs until the first read, so a caller that never
    * reads it pays nothing). */
  def summary(
      s: SparkSession, dir: String, irbMode: Boolean = true, b31: Boolean = false): DataFrame = {
    val m = memo(s, dir, irbMode)
    m.rooted // the re-root's shuffle stages run outside the summaries' lock
    m.summary(b31)
  }

  /** The same pipeline as Orchestrator stages with materialised edges —
    * execution-mode parity is asserted by DomainPipelineSpec. */
  def stages(s: SparkSession, dir: String): (Seq[Stage], ArtifactKey[DataFrame]) = {
    val kEnriched = ArtifactKey[DataFrame]("enriched")
    val kClassified = ArtifactKey[DataFrame]("classified")
    val kLedger = ArtifactKey[DataFrame]("ledger")
    val kSummary = ArtifactKey[DataFrame]("summary")
    val sts = Seq(
      new Stage {
        def name = "load_enrich"
        def run(ctx: PipelineContext) = ctx.put(kEnriched,
          enrichFx(exposuresUnified(s, dir), counterparties(s, dir)))
        override def edgeFrames = Seq(kEnriched)
      },
      new Stage {
        def name = "hierarchy_classify"
        def run(ctx: PipelineContext) =
          ctx.put(kClassified,
            classify(hierarchy(ctx.get(kEnriched)), modelPermissions(s, dir)))
        override def edgeFrames = Seq(kClassified)
      },
      new Stage {
        def name = "calc_crm_rwa"
        def run(ctx: PipelineContext) = {
          val withRw = ownRiskWeight(eadCalc(ctx.get(kClassified), provisions(s, dir)))
          ctx.put(kLedger, auditColumns(rwaCalc(
            crmWaterfall(withRw, collateral(s, dir), guarantees(s, dir)))))
        }
        override def edgeFrames = Seq(kLedger)
      },
      new Stage {
        def name = "aggregate"
        def run(ctx: PipelineContext) =
          ctx.put(kSummary, summarise(ctx.get(kLedger)))
      })
    (sts, kSummary)
  }
}
