package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.rulebook.{BandedTable, LookupTable}
import Q._

/** CCR + CRM battery: the SA-CCR cross-bucket correlation roll-up, the
  * rulebook-compiled slotting calculator, the CRM three-level lookup
  * cascade, and guarantee substitution — the remaining large reference
  * calculator families (SURVEY.md §2.4 SA-CCR row, §2.3 CRM lookup joins,
  * `engine/crm/guarantees.py`).
  */
object Ccr {

  private def d(v: Double): String = s"CAST($v AS DOUBLE)"

  /** q56: SA-CCR hedging-set add-on with the supervisory correlation
    * formula — trade → bucket sums, then per asset class
    * AddOn = sqrt((ρ·ΣA)² + (1−ρ²)·ΣA²) across buckets, then the
    * netting-set roll-up (reference `engine/ccr/pfe.py:252,324-332,
    * 399-432,540-564`). Three chained aggregations, each output grain
    * strictly smaller — the multi-level shuffle cascade stays bounded by
    * key cardinality at any scale.
    */
  val q56SaCcrAddon = QueryDef(
    "q56_saccr_addon",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val rho = 0.5
      val buckets = li
        .select((col("l_orderkey") % 50).as("netting_set"),
          col("l_returnflag").as("asset_class"),
          col("l_linestatus").as("bucket"),
          (col("l_extendedprice") * col("l_discount")).as("adj_notional"))
        .groupBy(col("netting_set"), col("asset_class"), col("bucket"))
        .agg(dsum(col("adj_notional"), 6).as("bucket_addon"))
      val classes = buckets
        .groupBy(col("netting_set"), col("asset_class"))
        .agg(dsum(col("bucket_addon"), 6).as("sum_a"),
             dsum(col("bucket_addon") * col("bucket_addon"), 6).as("sum_a2"))
        .select(col("netting_set"), col("asset_class"),
          sqrt(
            (lit(rho) * col("sum_a")) * (lit(rho) * col("sum_a")) +
            (lit(1.0) - lit(rho) * lit(rho)) * col("sum_a2")).as("class_addon"))
      classes
        .groupBy(col("netting_set"))
        .agg(q2(dsum(q6(col("class_addon")), 6)).as("ns_addon"),
             count(lit(1)).as("n_classes"))
        .orderBy(col("netting_set"))
    },
    Some(s"""
      WITH buckets AS (
        SELECT l_orderkey % 50 AS netting_set,
               l_returnflag AS asset_class, l_linestatus AS bucket,
               ${sqlDsum("l_extendedprice * l_discount", 6)} AS bucket_addon
        FROM lineitem GROUP BY 1, 2, 3),
      classes AS (
        SELECT netting_set, asset_class,
               sqrt((0.5 * ${sqlDsum("bucket_addon", 6)}) * (0.5 * ${sqlDsum("bucket_addon", 6)}) +
                    (1.0 - 0.5 * 0.5) * ${sqlDsum("bucket_addon * bucket_addon", 6)}) AS class_addon
        FROM buckets GROUP BY 1, 2)
      SELECT netting_set,
             ${sql2(sqlDsum(sql6("class_addon"), 6))} AS ns_addon,
             count(*) AS n_classes
      FROM classes
      GROUP BY netting_set
      ORDER BY netting_set
    """.stripMargin.trim))

  /** q57: slotting calculator compiled FROM THE RULEBOOK — the maturity
    * band and category risk weights live as Rulepack data (BigDecimal at
    * rest) and compile to when-chains at query build (reference
    * `engine/slotting`; rulebook compilation `rulebook/compile.py`).
    * The oracle replicates the compiled chain, proving the compiler emits
    * the declared semantics.
    */
  val q57Slotting = QueryDef(
    "q57_slotting",
    (s, dir) => {
      val categoryRw = LookupTable(Seq(
        "1-URGENT" -> BigDecimal("0.70"), "2-HIGH" -> BigDecimal("0.90"),
        "3-MEDIUM" -> BigDecimal("1.15"), "4-NOT SPECIFIED" -> BigDecimal("1.50")),
        default = Some(BigDecimal("2.50")))
      val maturityUplift = BandedTable(
        bands = Seq(BigDecimal(50000) -> BigDecimal("0.95"),
                    BigDecimal(200000) -> BigDecimal("1.00")),
        terminal = BigDecimal("1.05"))
      val o = Tables.orders(s, dir)
      o.select(col("o_orderpriority"), col("o_totalprice"),
          categoryRw.toWhenChain(col("o_orderpriority")).as("base_rw"),
          maturityUplift.toWhenChain(col("o_totalprice")).as("uplift"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             dsum(q2(col("o_totalprice") * col("base_rw") * col("uplift")), 2).as("slotted_rwa"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""
      WITH slotted AS (
        SELECT o_orderpriority, o_totalprice,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 0.70
                    WHEN o_orderpriority = '2-HIGH' THEN 0.90
                    WHEN o_orderpriority = '3-MEDIUM' THEN 1.15
                    WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1.50
                    ELSE 2.50 END AS base_rw,
               CASE WHEN o_totalprice < 50000 THEN 0.95
                    WHEN o_totalprice < 200000 THEN 1.00
                    ELSE 1.05 END AS uplift
        FROM orders)
      SELECT o_orderpriority, count(*) AS n,
             ${sqlDsum(sql2("o_totalprice * base_rw * uplift"), 2)} AS slotted_rwa
      FROM slotted
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """.stripMargin.trim))

  /** q58: CRM three-level lookup cascade — exposures left-join the direct,
    * facility-cascade, and counterparty collateral aggregates, take the
    * first available by priority coalesce, net the EAD at zero (reference
    * `engine/crm/processor.py:228-443`; kernel
    * `engine/kernels/allocation.py`). Direct side aggregates before the
    * join, so the fact side joins against pre-shrunk frames.
    */
  val q58CrmCascade = QueryDef(
    "q58_crm_cascade",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      val direct = li.filter(col("l_returnflag") === "R")
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_extendedprice") * lit(0.10), 6).as("direct_coll"))
      val counterparty = o.filter(col("o_orderstatus") === "F")
        .groupBy(col("o_custkey").as("cp_key"))
        .agg(dsum(col("o_totalprice") * lit(0.05), 6).as("cp_coll"))
      o.join(direct, o("o_orderkey") === direct("l_orderkey"), "left")
        .join(counterparty, o("o_custkey") === counterparty("cp_key"), "left")
        .select(col("o_orderkey"), col("o_totalprice"),
          coalesce(col("direct_coll"), col("cp_coll"), lit(0.0)).as("collateral"),
          when(col("direct_coll").isNotNull, "direct")
            .when(col("cp_coll").isNotNull, "counterparty")
            .otherwise("none").as("crm_source"))
        .withColumn("net_ead", greatest(lit(0.0), col("o_totalprice") - col("collateral")))
        .groupBy(col("crm_source"))
        .agg(count(lit(1)).as("n"),
             dsum(col("collateral"), 6).as("total_collateral"),
             dsum(q2(col("net_ead")), 2).as("total_net_ead"))
        .orderBy(col("crm_source"))
    },
    Some(s"""
      WITH direct AS (
        SELECT l_orderkey, ${sqlDsum("l_extendedprice * 0.10", 6)} AS direct_coll
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
      counterparty AS (
        SELECT o_custkey AS cp_key, ${sqlDsum("o_totalprice * 0.05", 6)} AS cp_coll
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
      cascaded AS (
        SELECT o_orderkey, o_totalprice,
               coalesce(direct_coll, cp_coll, 0.0) AS collateral,
               CASE WHEN direct_coll IS NOT NULL THEN 'direct'
                    WHEN cp_coll IS NOT NULL THEN 'counterparty'
                    ELSE 'none' END AS crm_source,
               greatest(0.0, o_totalprice - coalesce(direct_coll, cp_coll, 0.0)) AS net_ead
        FROM orders o
        LEFT JOIN direct ON o.o_orderkey = direct.l_orderkey
        LEFT JOIN counterparty ON o.o_custkey = counterparty.cp_key)
      SELECT crm_source, count(*) AS n,
             ${sqlDsum("collateral", 6)} AS total_collateral,
             ${sqlDsum(sql2("net_ead"), 2)} AS total_net_ead
      FROM cascaded
      GROUP BY crm_source
      ORDER BY crm_source
    """.stripMargin.trim))

  /** q59: guarantee substitution — the covered part of each exposure takes
    * the guarantor's risk weight, the residual keeps the obligor's
    * (reference `engine/crm/guarantees.py` substitution core; the ordered
    * redistribution waterfall is q21). Guarantee capacity joins from the
    * counterparty dimension (broadcast).
    */
  val q59GuaranteeSubstitution = QueryDef(
    "q59_guarantee_substitution",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.join(broadcast(c.select(col("c_custkey"),
          greatest(col("c_acctbal"), lit(0.0)).as("guarantee_capacity"))),
          col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_totalprice"),
          least(col("o_totalprice"), coalesce(col("guarantee_capacity"), lit(0.0)))
            .as("covered"))
        .withColumn("uncovered", col("o_totalprice") - col("covered"))
        .withColumn("rwa",
          col("covered") * lit(0.20) + col("uncovered") * lit(1.00))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("covered"), 6).as("total_covered"),
          dsum(col("uncovered"), 6).as("total_uncovered"),
          dsum(q2(col("rwa")), 2).as("total_rwa"),
          count(when(col("covered") === col("o_totalprice"), lit(1)))
            .as("n_fully_covered"))
    },
    Some(s"""
      WITH sub AS (
        SELECT o_orderkey, o_totalprice,
               least(o_totalprice, coalesce(greatest(c_acctbal, 0.0), 0.0)) AS covered
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey),
      weighted AS (
        SELECT *, o_totalprice - covered AS uncovered,
               covered * 0.20 + (o_totalprice - covered) * 1.00 AS rwa
        FROM sub)
      SELECT count(*) AS n,
             ${sqlDsum("covered", 6)} AS total_covered,
             ${sqlDsum("uncovered", 6)} AS total_uncovered,
             ${sqlDsum(sql2("rwa"), 2)} AS total_rwa,
             count(CASE WHEN covered = o_totalprice THEN 1 END) AS n_fully_covered
      FROM weighted
    """.stripMargin.trim))

  /** q96: reduced BA-CVA (reference `engine/cva/ba_cva.py`; PRA PS1/26
    * CVA Parts 4.2/4.3): per netting set the supervisory discount factor
    * DF = (1−e^{−0.05·M})/(0.05·M); per counterparty
    * SCVA_c = (1/α)·RW_c·Σ_NS[M·EAD·DF] (α = 1.4); portfolio
    * K = √((ρ·ΣSCVA)² + (1−ρ²)·ΣSCVA²) with ρ = 0.5; capital =
    * DS_BA-CVA·K (0.65), RWA = 12.5·capital. A genuinely NONLINEAR
    * portfolio aggregate: two shuffles (netting-set → counterparty →
    * single row), every Σ decimal-exact after per-row cent quantisation
    * so the nonlinear tail is bit-stable cross-engine.
    */
  val q96BaCva = QueryDef(
    "q96_ba_cva",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val rwChain = when(col("o_custkey") % 4 === 0, 0.015)
        .when(col("o_custkey") % 4 === 1, 0.03)
        .when(col("o_custkey") % 4 === 2, 0.06)
        .otherwise(0.12)
      val m = lit(1.0) + (col("o_orderkey") % 5).cast("double")
      val df = (lit(1.0) - exp(lit(-0.05) * m)) / (lit(0.05) * m)
      val ns = o.select(
        col("o_custkey").as("counterparty"), rwChain.as("rw_c"),
        q2((col("o_totalprice") * lit(0.01)) * m * df).as("m_ead_df"))
      val perCpty = ns.groupBy(col("counterparty"), col("rw_c"))
        .agg(dsum(col("m_ead_df"), 2).as("sum_m_ead_df"))
        .select(col("counterparty"),
          q2((lit(1.0) / 1.4) * col("rw_c") * col("sum_m_ead_df")).as("scva"))
      perCpty.agg(
          count(lit(1)).as("n_counterparties"),
          dsum(col("scva"), 2).as("sum_scva"),
          dsum(col("scva") * col("scva"), 4).as("sum_scva_sq"))
        .select(
          col("n_counterparties"), col("sum_scva"),
          q2(sqrt(
            (lit(0.5) * col("sum_scva")) * (lit(0.5) * col("sum_scva")) +
              lit(0.75) * col("sum_scva_sq"))).as("k_reduced"))
        .select(col("n_counterparties"), col("sum_scva"), col("k_reduced"),
          q2(col("k_reduced") * lit(0.65)).as("cva_capital"),
          q2(q2(col("k_reduced") * lit(0.65)) * lit(12.5)).as("cva_rwa"))
    },
    Some(s"""
      WITH ns AS (
        SELECT o_custkey AS counterparty,
               CASE WHEN o_custkey % 4 = 0 THEN 0.015
                    WHEN o_custkey % 4 = 1 THEN 0.03
                    WHEN o_custkey % 4 = 2 THEN 0.06
                    ELSE 0.12 END AS rw_c,
               ${sql2("(o_totalprice * 0.01) * (1.0 + o_orderkey % 5) * " +
                 "((1.0 - exp(-0.05 * (1.0 + o_orderkey % 5))) / (0.05 * (1.0 + o_orderkey % 5)))")}
                 AS m_ead_df
        FROM orders),
      per_cpty AS (
        SELECT counterparty,
               ${sql2(s"(1.0 / 1.4) * rw_c * ${sqlDsum("m_ead_df", 2)}")} AS scva
        FROM ns GROUP BY counterparty, rw_c),
      totals AS (
        SELECT count(*) AS n_counterparties,
               ${sqlDsum("scva", 2)} AS sum_scva,
               ${sqlDsum("scva * scva", 4)} AS sum_scva_sq
        FROM per_cpty),
      kcalc AS (
        SELECT n_counterparties, sum_scva,
               ${sql2("sqrt((0.5 * sum_scva) * (0.5 * sum_scva) + 0.75 * sum_scva_sq)")}
                 AS k_reduced
        FROM totals)
      SELECT n_counterparties, sum_scva, k_reduced,
             ${sql2("k_reduced * 0.65")} AS cva_capital,
             ${sql2(s"(${sql2("k_reduced * 0.65")}) * 12.5")} AS cva_rwa
      FROM kcalc
    """.stripMargin.trim))

  /** q97: failed DvP trades (reference `engine/ccr/failed_trades.py`;
    * CRR Art. 378 Table 1): working-days-past-due banded multipliers
    * (5-15 → 8%, 16-30 → 50%, 31-45 → 75%, 46+ → 100%) on the positive
    * price difference; own-funds × 12.5 → RWA, attributed per
    * regulatory band. Pure banded-chain + one summary shuffle.
    */
  val q97FailedTrades = QueryDef(
    "q97_failed_trades",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val days = (col("l_orderkey") + col("l_linenumber")) % 60
      val band = when(days < 5, "0_lt_5")
        .when(days <= 15, "1_5_15")
        .when(days <= 30, "2_16_30")
        .when(days <= 45, "3_31_45")
        .otherwise("4_46_plus")
      val mult = when(days < 5, 0.0)
        .when(days <= 15, 0.08)
        .when(days <= 30, 0.5)
        .when(days <= 45, 0.75)
        .otherwise(1.0)
      li.filter(col("l_linenumber") === 1)
        .select(band.as("regulatory_band"),
          q2(q2(col("l_extendedprice") * lit(0.01)) * mult).as("own_funds"))
        .groupBy(col("regulatory_band"))
        .agg(count(lit(1)).as("n_trades"),
          dsum(col("own_funds"), 2).as("total_own_funds"),
          dsum(col("own_funds") * lit(12.5), 4).as("total_rwa"))
        .orderBy(col("regulatory_band"))
    },
    Some(s"""
      WITH t AS (
        SELECT (l_orderkey + l_linenumber) % 60 AS days,
               ${sql2("l_extendedprice * 0.01")} AS price_diff
        FROM lineitem WHERE l_linenumber = 1),
      banded AS (
        SELECT CASE WHEN days < 5 THEN '0_lt_5'
                    WHEN days <= 15 THEN '1_5_15'
                    WHEN days <= 30 THEN '2_16_30'
                    WHEN days <= 45 THEN '3_31_45'
                    ELSE '4_46_plus' END AS regulatory_band,
               ${sql2("price_diff * (CASE WHEN days < 5 THEN 0.0 " +
                 "WHEN days <= 15 THEN 0.08 WHEN days <= 30 THEN 0.5 " +
                 "WHEN days <= 45 THEN 0.75 ELSE 1.0 END)")} AS own_funds
        FROM t)
      SELECT regulatory_band, count(*) AS n_trades,
             ${sqlDsum("own_funds", 2)} AS total_own_funds,
             ${sqlDsum("own_funds * 12.5", 4)} AS total_rwa
      FROM banded
      GROUP BY regulatory_band
      ORDER BY regulatory_band
    """.stripMargin.trim))

  /** Art. 224 Table-1-shaped supervisory haircut table for SFT collateral
    * legs: debt securities banded by issuer CQS group × residual-maturity
    * band; equity and gold take the flat 15% regardless of band. Shared
    * Scala data → broadcast frame + oracle VALUES. */
  val sftHaircutTable: Seq[(String, Int, Int, Double)] = {
    val debt = Seq(
      (1, 1, 0.005), (1, 2, 0.02), (1, 3, 0.04),
      (2, 1, 0.01), (2, 2, 0.03), (2, 3, 0.06),
      (3, 1, 0.15), (3, 2, 0.15), (3, 3, 0.15))
      .map { case (g, b, h) => ("debt", g, b, h) }
    val flat = for {
      t <- Seq("equity", "gold"); g <- 1 to 3; b <- 1 to 3
    } yield (t, g, b, 0.15)
    debt ++ flat
  }

  private val sftHaircutValues = sftHaircutTable
    .map { case (t, g, b, h) => s"('$t', $g, $b, CAST($h AS DOUBLE))" }
    .mkString(", ")

  /** q104: SFT collateral haircut legs → FCCM E* per netting set
    * (reference SFT_COLLATERAL_SCHEMA `data/schemas.py:1664`, the
    * CVA·(1−HC−HFX) term of Art. 223(5); haircuts Art. 224 Table 1 with
    * the Table 4 same-currency HFX shortcut). Exposure legs and
    * collateral legs are separate books; each collateral leg resolves a
    * supervisory haircut from the (type, cqs-group, maturity-band)
    * decision table (broadcast) plus an 8% FX-mismatch haircut, then both
    * books aggregate to netting-set grain and
    * `E* = max(0, ΣE − ΣC·(1−HC−HFX))` — an uncollateralised set keeps
    * its full E (full-outer + zero-fill, reference "an uncollateralised
    * SFT carries no collateral row").
    * Scale: one shuffle per book on the netting-set key, rule join
    * broadcast, set-grain output. */
  val q104SftHaircutLegs = QueryDef(
    "q104_sft_haircut_legs",
    (s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "N")
      val hc = broadcast(sftHaircutTable.toDF("hc_type", "hc_grp", "hc_band", "hc"))
      val eLegs = li.filter(col("l_linenumber") <= 2)
        .select(concat(lit("NS-"), (col("l_orderkey") % 200).cast("string"))
          .as("netting_set_id"), col("l_extendedprice").as("e_leg"))
        .groupBy(col("netting_set_id"))
        .agg(dsum(col("e_leg"), 2).as("e_gross"), count(lit(1)).as("n_exposure_legs"))
      val cLegs = li.filter(col("l_linenumber") >= 3)
        .select(
          concat(lit("NS-"), (col("l_orderkey") % 200).cast("string"))
            .as("netting_set_id"),
          when(col("l_partkey") % 3 === 0, "debt")
            .when(col("l_partkey") % 3 === 1, "equity").otherwise("gold")
            .as("coll_type"),
          (lit(1) + col("l_suppkey") % 6).cast("int").as("issuer_cqs"),
          (lit(1) + col("l_partkey") % 7).cast("double").as("maturity_years"),
          when(col("l_suppkey") % 3 === 0, 0.08).otherwise(0.0).as("hfx"),
          q2(col("l_extendedprice") * 0.8).as("market_value"))
        .withColumn("cqs_group",
          when(col("issuer_cqs") <= 1, 1).when(col("issuer_cqs") <= 3, 2).otherwise(3))
        .withColumn("mat_band",
          when(col("maturity_years") <= 1, 1).when(col("maturity_years") <= 5, 2)
            .otherwise(3))
        .join(hc, col("coll_type") === col("hc_type") &&
          col("cqs_group") === col("hc_grp") && col("mat_band") === col("hc_band"),
          "left")
        .withColumn("c_adjusted",
          q2(col("market_value") * (lit(1.0) - coalesce(col("hc"), lit(0.25)) - col("hfx"))))
        .groupBy(col("netting_set_id"))
        .agg(dsum(col("c_adjusted"), 2).as("c_adj"), count(lit(1)).as("n_coll_legs"))
      eLegs.join(cLegs, Seq("netting_set_id"), "full_outer")
        .select(
          col("netting_set_id"),
          coalesce(col("n_exposure_legs"), lit(0L)).as("n_exposure_legs"),
          coalesce(col("n_coll_legs"), lit(0L)).as("n_coll_legs"),
          coalesce(col("e_gross"), lit(0.0)).as("e_gross"),
          coalesce(col("c_adj"), lit(0.0)).as("c_adjusted"),
          greatest(lit(0.0), q2(coalesce(col("e_gross"), lit(0.0)) -
            coalesce(col("c_adj"), lit(0.0)))).as("e_star"),
          (coalesce(col("c_adj"), lit(0.0)) >= coalesce(col("e_gross"), lit(0.0)))
            .as("fully_collateralised"))
        .orderBy(col("netting_set_id"))
    },
    Some(s"""
      WITH hc_rules(hc_type, hc_grp, hc_band, hc) AS (VALUES $sftHaircutValues),
      e_legs AS (
        SELECT 'NS-' || CAST(l_orderkey % 200 AS VARCHAR) AS netting_set_id,
               ${sqlDsum("l_extendedprice", 2)} AS e_gross,
               count(*) AS n_exposure_legs
        FROM lineitem WHERE l_returnflag = 'N' AND l_linenumber <= 2
        GROUP BY 1),
      c_raw AS (
        SELECT 'NS-' || CAST(l_orderkey % 200 AS VARCHAR) AS netting_set_id,
               CASE WHEN l_partkey % 3 = 0 THEN 'debt'
                    WHEN l_partkey % 3 = 1 THEN 'equity' ELSE 'gold' END AS coll_type,
               1 + l_suppkey % 6 AS issuer_cqs,
               CAST(1 + l_partkey % 7 AS DOUBLE) AS maturity_years,
               CASE WHEN l_suppkey % 3 = 0 THEN 0.08 ELSE 0.0 END AS hfx,
               ${sql2("l_extendedprice * 0.8")} AS market_value
        FROM lineitem WHERE l_returnflag = 'N' AND l_linenumber >= 3),
      c_banded AS (
        SELECT *,
               CASE WHEN issuer_cqs <= 1 THEN 1 WHEN issuer_cqs <= 3 THEN 2
                    ELSE 3 END AS cqs_group,
               CASE WHEN maturity_years <= 1 THEN 1 WHEN maturity_years <= 5 THEN 2
                    ELSE 3 END AS mat_band
        FROM c_raw),
      c_legs AS (
        SELECT netting_set_id,
               ${sqlDsum(sql2("market_value * (1.0 - coalesce(hc, 0.25) - hfx)"), 2)}
                 AS c_adj,
               count(*) AS n_coll_legs
        FROM c_banded
        LEFT JOIN hc_rules ON coll_type = hc_type AND cqs_group = hc_grp
          AND mat_band = hc_band
        GROUP BY netting_set_id)
      SELECT netting_set_id,
             coalesce(n_exposure_legs, 0) AS n_exposure_legs,
             coalesce(n_coll_legs, 0) AS n_coll_legs,
             coalesce(e_gross, 0.0) AS e_gross,
             coalesce(c_adj, 0.0) AS c_adjusted,
             greatest(0.0, ${sql2("coalesce(e_gross, 0.0) - coalesce(c_adj, 0.0)")})
               AS e_star,
             coalesce(c_adj, 0.0) >= coalesce(e_gross, 0.0) AS fully_collateralised
      FROM e_legs FULL OUTER JOIN c_legs USING (netting_set_id)
      ORDER BY netting_set_id
    """.stripMargin.trim))

  /** q105: default-fund-contribution capital — CRR Art. 308/309
    * (reference `engine/ccr/default_fund.py:73-145`): per clearing-member
    * contribution, `K_CM = K_CCP · DF_i / DF_CM` (the member's share of
    * the CCP's hypothetical capital), `RWEA = K_CM × 12.5`
    * (Art. 92(3)(ca)), attributed to the Art. 308(3)/309 regulatory
    * bands (QCCP pre-funded / non-QCCP pre-funded / unfunded). DF_CM is
    * the CCP-level total via a window over the CCP key — the same
    * shuffle the final (ccp, band) roll-up reuses. */
  val q105DefaultFund = QueryDef(
    "q105_default_fund",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ccp_reference"))
      Tables.supplier(s, dir)
        .select(
          concat(lit("CCP-"), (col("s_nationkey") % 4).cast("string")).as("ccp_reference"),
          q2(greatest(col("s_acctbal"), lit(100.0))).as("df_i"),
          (col("s_nationkey") % 2 === 0).as("is_qccp_ccp"),
          (col("s_suppkey") % 5 === 0).as("is_unfunded_commitment"),
          ((col("s_nationkey") % 4 + 1) * 1000000.0).as("k_ccp_published"))
        .withColumn("df_cm", dsumOver(col("df_i"), 2, w))
        .withColumn("k_cm", q2(col("k_ccp_published") * col("df_i") / col("df_cm")))
        .withColumn("dfc_rwea", q2(col("k_cm") * 12.5))
        .withColumn("regulatory_band",
          when(col("is_qccp_ccp"), "dfc_qccp_prefunded")
            .when(col("is_unfunded_commitment"), "dfc_non_qccp_unfunded")
            .otherwise("dfc_non_qccp_prefunded"))
        .groupBy(col("ccp_reference"), col("regulatory_band"))
        .agg(
          count(lit(1)).as("n_members"),
          dsum(col("df_i"), 2).as("total_df"),
          dsum(col("k_cm"), 2).as("total_k_cm"),
          dsum(col("dfc_rwea"), 2).as("total_rwea"))
        .orderBy(col("ccp_reference"), col("regulatory_band"))
    },
    Some(s"""
      WITH contrib AS (
        SELECT 'CCP-' || CAST(s_nationkey % 4 AS VARCHAR) AS ccp_reference,
               ${sql2("greatest(s_acctbal, 100.0)")} AS df_i,
               (s_nationkey % 2 = 0) AS is_qccp_ccp,
               (s_suppkey % 5 = 0) AS is_unfunded_commitment,
               (s_nationkey % 4 + 1) * 1000000.0 AS k_ccp_published
        FROM supplier),
      alloc AS (
        SELECT *,
               ${sqlDsumOver("df_i", 2, "PARTITION BY ccp_reference")} AS df_cm
        FROM contrib),
      capital AS (
        SELECT *,
               ${sql2("k_ccp_published * df_i / df_cm")} AS k_cm,
               ${sql2(sql2("k_ccp_published * df_i / df_cm") + " * 12.5")} AS dfc_rwea,
               CASE WHEN is_qccp_ccp THEN 'dfc_qccp_prefunded'
                    WHEN is_unfunded_commitment THEN 'dfc_non_qccp_unfunded'
                    ELSE 'dfc_non_qccp_prefunded' END AS regulatory_band
        FROM alloc)
      SELECT ccp_reference, regulatory_band, count(*) AS n_members,
             ${sqlDsum("df_i", 2)} AS total_df,
             ${sqlDsum("k_cm", 2)} AS total_k_cm,
             ${sqlDsum("dfc_rwea", 2)} AS total_rwea
      FROM capital
      GROUP BY ccp_reference, regulatory_band
      ORDER BY ccp_reference, regulatory_band
    """.stripMargin.trim))

  private val tranchedGuarantorRwCase = graft.engine.DomainPipeline.rwTable
    .filter(_._1 == "institution")
    .map { case (_, q, w) => s"WHEN guarantor_cqs = $q THEN CAST($w AS DOUBLE)" }
    .mkString("CASE ", " ", " ELSE 1.0 END")

  /** q108: tranched guarantee substitution + maturity mismatch — CRR
    * Art. 234 / Art. 239 (reference `engine/crm/guarantees.py:759-782,
    * 1512-1660`, GUARANTEE_SCHEMA attachment/detachment
    * `data/schemas.py:900-908`):
    *
    *  - a guarantee protecting a mezzanine band [a, d) splits the
    *    exposure into a retained first-loss tranche [0, a), the
    *    substituted band, and a retained senior tranche [d, EAD];
    *  - the recognised band scales by the Art. 239(3) maturity-mismatch
    *    factor (t − 0.25)/(T − 0.25) with t, T floored at 0.25 and T
    *    capped at 5y, and Art. 237(1) derecognises protection whose RAW
    *    residual is under 3 months and shorter than the exposure;
    *  - the keep-one pick per exposure is a rank-1 window with a TOTAL
    *    order over the derived attributes (duplicate source rows are
    *    attribute-identical, so the pick is deterministic).
    */
  val q108TranchedGuarantee = QueryDef(
    "q108_tranched_guarantee",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      val guarantorRw = graft.engine.DomainPipeline.rwTable
        .filter(_._1 == "institution")
        .foldLeft(Option.empty[org.apache.spark.sql.Column]) {
          case (None, (_, q, w)) => Some(when(col("guarantor_cqs") === q, w))
          case (Some(acc), (_, q, w)) => Some(acc.when(col("guarantor_cqs") === q, w))
        }.get.otherwise(1.0)
      val rawG = li.filter(col("l_linenumber") === 2).select(
        concat(lit("ORD-"), col("l_orderkey").cast("string")).as("exposure_reference"),
        when(col("l_discount") < 0.05, q2(col("l_extendedprice") * 0.2))
          .otherwise(0.0).as("attach"),
        q2(when(col("l_discount") < 0.05, q2(col("l_extendedprice") * 0.2))
          .otherwise(0.0) + col("l_extendedprice") * 2.0).as("detach"),
        (lit(1) + col("l_suppkey") % 4).cast("int").as("guarantor_cqs"),
        (lit(0.1) + (col("l_partkey") % 6).cast("double")).as("t_raw"))
      val wPick = org.apache.spark.sql.expressions.Window
        .partitionBy(col("exposure_reference"))
        .orderBy(col("attach"), col("detach"), col("guarantor_cqs"), col("t_raw"))
      val oneG = rawG.withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1).drop("rn")
      val expo = o.select(
        concat(lit("ORD-"), col("o_orderkey").cast("string")).as("exposure_reference"),
        col("o_totalprice").as("ead"),
        (lit(1.0) + (col("o_orderkey") % 7).cast("double")).as("big_t_raw"))
      expo.join(oneG, Seq("exposure_reference"))
        .withColumn("t_eff", greatest(col("t_raw"), lit(0.25)))
        .withColumn("big_t_eff",
          greatest(least(col("big_t_raw"), lit(5.0)), lit(0.25)))
        .withColumn("scale",
          when(col("t_raw") < 0.25 && col("t_raw") < col("big_t_raw"), 0.0)
            .when(col("t_eff") < col("big_t_eff"),
              q6((col("t_eff") - 0.25) / (col("big_t_eff") - 0.25)))
            .otherwise(1.0))
        .withColumn("a_clip", least(col("attach"), col("ead")))
        .withColumn("d_clip", least(col("detach"), col("ead")))
        .withColumn("band", greatest(col("d_clip") - col("a_clip"), lit(0.0)))
        .withColumn("covered", q2(col("band") * col("scale")))
        .withColumn("senior", greatest(col("ead") - col("d_clip"), lit(0.0)))
        .withColumn("grw", guarantorRw)
        .withColumn("rwa",
          q2(col("a_clip") + (col("band") - col("covered")) + col("senior")) +
          q2(col("covered") * least(lit(1.0), col("grw"))))
        .groupBy(col("guarantor_cqs"))
        .agg(
          count(lit(1)).as("n_exposures"),
          dsum(col("a_clip"), 2).as("first_loss_retained"),
          dsum(col("covered"), 2).as("substituted_band"),
          dsum(col("senior"), 2).as("senior_retained"),
          count(when(col("scale") > 0 && col("scale") < 1, lit(1))).as("n_mismatch_scaled"),
          count(when(col("scale") === 0.0, lit(1))).as("n_derecognised"),
          dsum(col("rwa"), 2).as("total_rwa"))
        .orderBy(col("guarantor_cqs"))
    },
    Some(s"""
      WITH raw_g AS (
        SELECT 'ORD-' || CAST(l_orderkey AS VARCHAR) AS exposure_reference,
               CASE WHEN l_discount < 0.05 THEN ${sql2("l_extendedprice * 0.2")}
                    ELSE 0.0 END AS attach,
               ${sql2(
                 "(CASE WHEN l_discount < 0.05 THEN " + sql2("l_extendedprice * 0.2") +
                 " ELSE 0.0 END) + l_extendedprice * 2.0")} AS detach,
               1 + l_suppkey % 4 AS guarantor_cqs,
               0.1 + CAST(l_partkey % 6 AS DOUBLE) AS t_raw
        FROM lineitem WHERE l_linenumber = 2),
      one_g AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (
            PARTITION BY exposure_reference
            ORDER BY attach, detach, guarantor_cqs, t_raw) AS rn
          FROM raw_g) WHERE rn = 1),
      expo AS (
        SELECT 'ORD-' || CAST(o_orderkey AS VARCHAR) AS exposure_reference,
               o_totalprice AS ead,
               1.0 + CAST(o_orderkey % 7 AS DOUBLE) AS big_t_raw
        FROM orders),
      joined AS (
        SELECT e.*, g.attach, g.detach, g.guarantor_cqs, g.t_raw,
               greatest(g.t_raw, 0.25) AS t_eff,
               greatest(least(e.big_t_raw, 5.0), 0.25) AS big_t_eff
        FROM expo e JOIN one_g g USING (exposure_reference)),
      scaled AS (
        SELECT *,
          CASE WHEN t_raw < 0.25 AND t_raw < big_t_raw THEN 0.0
               WHEN t_eff < big_t_eff THEN ${sql6("(t_eff - 0.25) / (big_t_eff - 0.25)")}
               ELSE 1.0 END AS scale,
          least(attach, ead) AS a_clip,
          least(detach, ead) AS d_clip
        FROM joined),
      banded AS (
        SELECT *,
          greatest(d_clip - a_clip, 0.0) AS band,
          ${sql2("greatest(d_clip - a_clip, 0.0) * scale")} AS covered,
          greatest(ead - d_clip, 0.0) AS senior,
          $tranchedGuarantorRwCase AS grw
        FROM scaled)
      SELECT guarantor_cqs, count(*) AS n_exposures,
             ${sqlDsum("a_clip", 2)} AS first_loss_retained,
             ${sqlDsum("covered", 2)} AS substituted_band,
             ${sqlDsum("senior", 2)} AS senior_retained,
             count(CASE WHEN scale > 0 AND scale < 1 THEN 1 END) AS n_mismatch_scaled,
             count(CASE WHEN scale = 0.0 THEN 1 END) AS n_derecognised,
             ${sqlDsum(
               sql2("a_clip + (band - covered) + senior") +
               " + " + sql2("covered * least(1.0, grw)"), 2)} AS total_rwa
      FROM banded
      GROUP BY guarantor_cqs
      ORDER BY guarantor_cqs
    """.stripMargin.trim))

  /** q110: M:N collateral link allocation (reference
    * `engine/crm/link_allocation.py`, the `collateral_links` table; CRR
    * Art. 230-231): each of 50 finite collateral items is linked to many
    * exposures and split by the two-sided residual greedy
    * (`operators.LinkAllocation` — the reference's own driver-walk
    * pre-pass, size-guarded). The ORACLE fixture keeps one link per
    * beneficiary, where the kernel provably reduces to the
    * window-cumulative-cap split (the reference: "reduces to the legacy
    * single-item cumulative-cap split when an item links exactly one
    * beneficiary") — so DuckDB replicates it as a per-item ordered
    * cumsum; the genuinely two-sided behaviour (demand spill across
    * items) is pinned by LinkAllocationSpec instead. */
  val q110LinkAllocation = QueryDef(
    "q110_link_allocation",
    (s, dir) => {
      import graft.operators.LinkAllocation
      // keep-first per order as a min-struct ARGMIN, not a rank-1 window:
      // identical row pick (struct ordering is lexicographic over the same
      // sort columns), but the aggregation gets map-side partial combine
      // and no per-partition sort (r19; the q119 PQ-codes precedent)
      val one = Tables.lineitem(s, dir).filter(col("l_linenumber") === 1)
        .groupBy(col("l_orderkey"))
        .agg(min(struct(col("l_partkey"), col("l_suppkey"), col("l_extendedprice")))
          .as("_first"))
        .select(col("l_orderkey"), col("_first.l_partkey").as("l_partkey"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      val links = one.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(
          concat(lit("COLL-"), (col("l_partkey") % 50).cast("string"))
            .as("collateral_reference"),
          concat(lit("ORD-"), col("l_orderkey").cast("string"))
            .as("beneficiary_reference"),
          lit(null).cast("int").as("priority"),
          ((col("l_orderkey") % 4).cast("double") * 0.25 + 0.5).as("metric"),
          ((col("l_partkey") % 50 + 1).cast("double") * 5000.0).as("item_value"),
          col("o_totalprice").as("demand"),
          when(col("l_orderkey") % 5 === 0, q2(col("o_totalprice") * 0.2))
            .cast("double").as("max_pledge"))
      // ONE pass: the kernel output carries item_value, so the old
      // items-distinct join — which re-executed the whole links chain
      // (scan+agg+join) a second time — is gone (r19; item_value is
      // constant per collateral_reference by the operator contract, so
      // grouping by both keys yields identical rows)
      val sliced = LinkAllocation.allocateSlices(links)
      sliced.groupBy(col("collateral_reference"), col("item_value"))
        .agg(
          count(lit(1)).as("n_links"),
          dsum(col("slice"), 2).as("allocated"),
          count(when(col("slice") > 0.005, lit(1))).as("n_funded"))
        .withColumn("exhausted", col("allocated") >= col("item_value") - 0.005)
        .select(col("collateral_reference"), col("n_links"), col("item_value"),
          col("allocated"), col("n_funded"), col("exhausted"))
        .orderBy(col("collateral_reference"))
    },
    Some(s"""
      WITH one AS (
        SELECT * FROM (
          SELECT l.*, row_number() OVER (
            PARTITION BY l_orderkey
            ORDER BY l_partkey, l_suppkey, l_extendedprice) AS rn
          FROM lineitem l WHERE l_linenumber = 1)
        WHERE rn = 1),
      edges AS (
        SELECT 'COLL-' || CAST(l_partkey % 50 AS VARCHAR) AS collateral_reference,
               'ORD-' || CAST(l_orderkey AS VARCHAR) AS beneficiary_reference,
               (l_orderkey % 4) * 0.25 + 0.5 AS metric,
               CAST(l_partkey % 50 + 1 AS DOUBLE) * 5000.0 AS item_value,
               o_totalprice AS demand,
               CASE WHEN l_orderkey % 5 = 0 THEN ${sql2("o_totalprice * 0.2")} END
                 AS max_pledge
        FROM one JOIN orders ON l_orderkey = o_orderkey),
      eff AS (
        SELECT *, greatest(least(demand, coalesce(max_pledge, demand)), 0.0)
          AS demand_eff
        FROM edges),
      cum AS (
        SELECT *, ${sqlDsumOver("demand_eff", 2,
          "PARTITION BY collateral_reference " +
          "ORDER BY metric DESC, beneficiary_reference ROWS UNBOUNDED PRECEDING")}
          AS cum_demand
        FROM eff),
      sliced AS (
        SELECT *, greatest(0.0,
          least(demand_eff, item_value - (cum_demand - demand_eff))) AS slice
        FROM cum)
      SELECT collateral_reference, count(*) AS n_links, item_value,
             ${sqlDsum("slice", 2)} AS allocated,
             count(CASE WHEN slice > 0.005 THEN 1 END) AS n_funded,
             ${sqlDsum("slice", 2)} >= item_value - 0.005 AS exhausted
      FROM sliced
      GROUP BY collateral_reference, item_value
      ORDER BY collateral_reference
    """.stripMargin.trim))

  private val institutionRwCase = graft.engine.DomainPipeline.rwTable
    .filter(_._1 == "institution")
    .map { case (_, q, w) => s"WHEN provider_cqs = $q THEN CAST($w AS DOUBLE)" }
    .mkString("CASE ", " ", " ELSE 1.0 END")

  /** q112: other-funded-credit-protection routing + the CRM021
    * unrecognised-type census (reference `engine/crm/life_insurance.py`,
    * `third_party_deposit.py`, `collateral_type_check.py`):
    *
    *  - pledged life policies (Art. 232(3)): surrender value less the
    *    Art. 233(3) 8% FX haircut on currency mismatch, risk-weighted at
    *    the insurer's institution-table RW;
    *  - third-party deposits (Art. 200(a)/232(2)): cash held at ANOTHER
    *    institution is a guarantee by the holder — full value at the
    *    holder's RW, partitioned OUT of the ordinary collateral channel;
    *  - ordinary financial collateral keeps the supervisory-haircut
    *    channel;
    *  - anything whose type matches no category is NOT silently floored
    *    to "other": it earns a census row NAMING the offending value
    *    (the reference's CRM021 — a one-string typo otherwise changes
    *    RWA with no trace), with zero recognised benefit.
    */
  val q112OfcpRouting = QueryDef(
    "q112_ofcp_routing",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val providerRw = graft.engine.DomainPipeline.rwTable
        .filter(_._1 == "institution")
        .foldLeft(Option.empty[org.apache.spark.sql.Column]) {
          case (None, (_, q, w)) => Some(when(col("provider_cqs") === q, w))
          case (Some(acc), (_, q, w)) => Some(acc.when(col("provider_cqs") === q, w))
        }.get.otherwise(1.0)
      val items = li.filter(col("l_returnflag") === "N" && col("l_linenumber") === 5)
        .select(
          when(col("l_partkey") % 5 === 0, "life_policy")
            .when(col("l_partkey") % 5 === 1, "third_party_deposit")
            .when(col("l_partkey") % 5 === 2, "financial")
            .when(col("l_partkey") % 5 === 3, "re_residental") // deliberate typo book
            .otherwise("cash_").as("collateral_type"),
          q2(col("l_extendedprice") * 0.3).as("value"),
          (lit(1) + col("l_suppkey") % 6).cast("int").as("provider_cqs"),
          (col("l_suppkey") % 3 === 0).as("fx_mismatch"))
      val routed = items
        .withColumn("channel",
          when(col("collateral_type") === "life_policy", "life_insurance")
            .when(col("collateral_type") === "third_party_deposit",
              "third_party_deposit_guarantee")
            .when(col("collateral_type") === "financial", "ordinary_collateral")
            .otherwise("CRM021_unrecognised"))
        .withColumn("offending_type",
          when(col("channel") === "CRM021_unrecognised", col("collateral_type")))
        .withColumn("protection_value",
          when(col("channel") === "life_insurance",
            q2(col("value") * when(col("fx_mismatch"), 0.92).otherwise(1.0)))
            .when(col("channel") === "third_party_deposit_guarantee", col("value"))
            .when(col("channel") === "ordinary_collateral", q2(col("value") * 0.85))
            .otherwise(0.0))
        .withColumn("secured_rw",
          when(col("channel").isin("life_insurance", "third_party_deposit_guarantee"),
            providerRw)
            .when(col("channel") === "ordinary_collateral", 0.2)
            .otherwise(0.0))
        .withColumn("rwa", q2(col("protection_value") * col("secured_rw")))
      routed.groupBy(col("channel"), col("offending_type"))
        .agg(
          count(lit(1)).as("n_items"),
          dsum(col("protection_value"), 2).as("protection_value"),
          dsum(col("rwa"), 2).as("secured_rwa"))
        .orderBy(col("channel"), coalesce(col("offending_type"), lit("")))
    },
    Some(s"""
      WITH items AS (
        SELECT CASE WHEN l_partkey % 5 = 0 THEN 'life_policy'
                    WHEN l_partkey % 5 = 1 THEN 'third_party_deposit'
                    WHEN l_partkey % 5 = 2 THEN 'financial'
                    WHEN l_partkey % 5 = 3 THEN 're_residental'
                    ELSE 'cash_' END AS collateral_type,
               ${sql2("l_extendedprice * 0.3")} AS value,
               1 + l_suppkey % 6 AS provider_cqs,
               (l_suppkey % 3 = 0) AS fx_mismatch
        FROM lineitem WHERE l_returnflag = 'N' AND l_linenumber = 5),
      routed AS (
        SELECT *,
          CASE WHEN collateral_type = 'life_policy' THEN 'life_insurance'
               WHEN collateral_type = 'third_party_deposit'
                 THEN 'third_party_deposit_guarantee'
               WHEN collateral_type = 'financial' THEN 'ordinary_collateral'
               ELSE 'CRM021_unrecognised' END AS channel
        FROM items),
      valued AS (
        SELECT *,
          CASE WHEN channel = 'CRM021_unrecognised' THEN collateral_type END
            AS offending_type,
          CASE WHEN channel = 'life_insurance'
                 THEN ${sql2("value * (CASE WHEN fx_mismatch THEN 0.92 ELSE 1.0 END)")}
               WHEN channel = 'third_party_deposit_guarantee' THEN value
               WHEN channel = 'ordinary_collateral' THEN ${sql2("value * 0.85")}
               ELSE 0.0 END AS protection_value,
          CASE WHEN channel IN ('life_insurance', 'third_party_deposit_guarantee')
                 THEN $institutionRwCase
               WHEN channel = 'ordinary_collateral' THEN 0.2
               ELSE 0.0 END AS secured_rw
        FROM routed)
      SELECT channel, offending_type, count(*) AS n_items,
             ${sqlDsum("protection_value", 2)} AS protection_value,
             ${sqlDsum(sql2("protection_value * secured_rw"), 2)} AS secured_rwa
      FROM valued
      GROUP BY channel, offending_type
      ORDER BY channel, coalesce(offending_type, '')
    """.stripMargin.trim))

  // ---- CCR1 / CCR3 / CCR8 — the Pillar-3 CCR disclosure family --------

  /** Institution risk-weight when-chain on a cqs column, compiled from
    * the domain rw table (the counterparty of a derivative netting set is
    * institution-sector by construction of this book). */
  private def instRwChain(cqs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.engine.DomainPipeline.rwTable.filter(_._1 == "institution")
      .foldLeft(Option.empty[org.apache.spark.sql.Column]) {
        case (None, (_, q, w)) => Some(when(cqs === q, w))
        case (Some(acc), (_, q, w)) => Some(acc.when(cqs === q, w))
      }.get.otherwise(1.0)

  private val instRwChainSql: String =
    graft.engine.DomainPipeline.rwTable.filter(_._1 == "institution")
      .map { case (_, q, w) => s"WHEN cp_cqs = $q THEN CAST($w AS DOUBLE)" }
      .mkString("CASE ", " ", " ELSE 1.0 END")

  /** The enriched SA-CCR netting-set frame shared by the CCR1/CCR3/CCR8
    * sheets (reference `reporting/pillar3/ccr.py`): q56's netting-set
    * add-ons become EAD via the Art. 274(2) alpha (1.4), and each set
    * resolves its counterparty discriminators — CCP-faced vs bilateral,
    * QCCP flag (QCCP trade exposure takes the Art. 306(1) 2% weight),
    * bilateral sets the institution (class, cqs) weight — plus the CCR1
    * `default_risk` complement flag ~(ccp & qccp) per Art. 107(2)(a).
    * 50 sets at any SF: every sheet over this frame is
    * broadcast-joinable and shuffle-free beyond q56's own aggregations.
    */
  private def ccrNettingSets(s: SparkSession, dir: String): DataFrame =
    q56SaCcrAddon.build(s, dir)
      .withColumn("ead_ccr", q2(col("ns_addon") * 1.4))
      .withColumn("cp_entity_type",
        when(col("netting_set") % 7 === 0, "ccp").otherwise("bilateral"))
      .withColumn("is_qccp", col("netting_set") % 14 === 0)
      .withColumn("cp_cqs", (lit(1) + col("netting_set") % 4).cast("int"))
      .withColumn("risk_weight",
        when(col("cp_entity_type") === "ccp" && col("is_qccp"), 0.02)
          .otherwise(instRwChain(col("cp_cqs"))))
      .withColumn("rwa_ccr", q2(col("ead_ccr") * col("risk_weight")))
      .withColumn("default_risk",
        !(col("cp_entity_type") === "ccp" && col("is_qccp")))

  /** The DuckDB twin of [[ccrNettingSets]] as a CTE over q56's oracle. */
  private def ccrNettingSetsSql: String = s"""ccrns AS (
        SELECT t.*,
               ${sql2("ns_addon * 1.4")} AS ead_ccr,
               CASE WHEN netting_set % 7 = 0 THEN 'ccp' ELSE 'bilateral' END
                 AS cp_entity_type,
               netting_set % 14 = 0 AS is_qccp,
               CAST(1 + netting_set % 4 AS INT) AS cp_cqs
        FROM (${q56SaCcrAddon.oracle.get}) t),
      ccrw AS (
        SELECT *,
               CASE WHEN cp_entity_type = 'ccp' AND is_qccp THEN 0.02
                    ELSE $instRwChainSql END AS risk_weight,
               NOT (cp_entity_type = 'ccp' AND is_qccp) AS default_risk
        FROM ccrns),
      ccrx AS (
        SELECT *, ${sql2("ead_ccr * risk_weight")} AS rwa_ccr
        FROM ccrw)"""

  /** q134: Pillar-3 CCR1 — analysis of CCR exposure by approach
    * (reference `reporting/pillar3/ccr.py` CCR1; CRR Art. 439(f)). The
    * SA-CCR row and the Total carry the portfolio SA-CCR EAD (col a) and
    * the non-QCCP-trade default-risk RWEA (col b — QCCP trade legs are
    * excluded per Art. 107(2)(a), the reference's `ccr1_default_risk`
    * complement, never an allow-list); the IMM and original-exposure
    * rows are the reference's structural placeholders (all-null — this
    * engine computes neither). FCCM SFTs are EXCLUDED (`include_sft=
    * False`): an SFT is Art. 220-223 FCCM, not the Art. 274 SA-CCR this
    * template analyses — it reports on C 07.00 row 0090 (q94's
    * machinery), the reference's recorded scope decision.
    */
  val q134Ccr1 = QueryDef(
    "q134_ccr1",
    (s, dir) => {
      val agg = ccrNettingSets(s, dir).agg(
        dsum(col("ead_ccr"), 2).as("ead_saccr"),
        dsum(when(col("default_risk"), col("rwa_ccr")).otherwise(0.0), 2)
          .as("rwea_dr"))
      agg.selectExpr(
        """stack(4,
             1,  'sa_ccr',                   ead_saccr,            rwea_dr,
             2,  'imm',                      CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             3,  'original_exposure_method', CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             11, 'total',                    ead_saccr,            rwea_dr)
           AS (row_ref, approach_label, ead_post_crm, rwea)""")
        .orderBy(col("row_ref"))
    },
    Some(s"""
      WITH $ccrNettingSetsSql,
      agg AS MATERIALIZED (
        SELECT ${sqlDsum("ead_ccr", 2)} AS ead_saccr,
               ${sqlDsum("CASE WHEN default_risk THEN rwa_ccr ELSE 0.0 END", 2)}
                 AS rwea_dr
        FROM ccrx)
      SELECT * FROM (
        SELECT 1 AS row_ref, 'sa_ccr' AS approach_label,
               ead_saccr AS ead_post_crm, rwea_dr AS rwea FROM agg
        UNION ALL SELECT 2, 'imm', NULL::DOUBLE, NULL::DOUBLE
        UNION ALL SELECT 3, 'original_exposure_method', NULL::DOUBLE,
               NULL::DOUBLE
        UNION ALL SELECT 11, 'total', ead_saccr, rwea_dr FROM agg)
      ORDER BY row_ref
    """.stripMargin.trim))

  /** The CCR3 risk-weight band axis: the weights reachable in this book
    * (the QCCP 2% plus the institution scale) in template order, the
    * unreachable-but-official Other sink, and the Total. */
  private[queries] val ccr3Bands: Seq[(Int, String, Option[Double])] = Seq(
    (1, "rw_2pct", Some(0.02)), (2, "rw_20pct", Some(0.2)),
    (3, "rw_30pct", Some(0.3)), (4, "rw_50pct", Some(0.5)),
    (5, "rw_100pct", Some(1.0)), (6, "rw_150pct", Some(1.5)),
    (7, "other", None), (11, "total", None))

  /** q135: Pillar-3 CCR3 — SA-CCR exposures by regulatory risk-weight
    * band (reference `reporting/pillar3/ccr.py` CCR3; CRR Art. 444(e)).
    * Band assignment is first-match on the applied risk weight (the
    * bands do not overlap, so first-match equals the per-band filter —
    * the reference's `ccr3_band` derived-column note); unmatched rows
    * fall to the official Other sink (unreachable in this book — kept,
    * and its row renders null like any empty band); the Total re-derives
    * the portfolio EAD. Empty bands are null cells per the Pillar-3
    * empty policy (the broadcast axis left-join).
    */
  val q135Ccr3 = QueryDef(
    "q135_ccr3",
    (s, dir) => {
      import s.implicits._
      val axis = broadcast(ccr3Bands.map { case (r, l, _) => (r, l) }
        .toDF("row_ref", "rw_band"))
      val bandRef = ccr3Bands.collect { case (r, _, Some(w)) => (r, w) }
        .foldLeft(Option.empty[org.apache.spark.sql.Column]) {
          case (None, (r, w)) => Some(when(col("risk_weight") === w, r))
          case (Some(acc), (r, w)) => Some(acc.when(col("risk_weight") === w, r))
        }.get.otherwise(7)
      val rolled = ccrNettingSets(s, dir)
        .withColumn("band_ref", bandRef)
        .rollup(col("band_ref"))
        .agg(
          count(lit(1)).as("n_sets"),
          dsum(col("ead_ccr"), 2).as("ead_post_crm"))
        .withColumn("row_key", coalesce(col("band_ref"), lit(11)))
      axis.join(rolled, axis("row_ref") === rolled("row_key"), "left")
        .select(
          axis("row_ref"), axis("rw_band"),
          col("n_sets"), col("ead_post_crm"))
        .orderBy(col("row_ref"))
    },
    Some {
      val bandCase = ccr3Bands.collect { case (r, _, Some(w)) => (r, w) }
        .map { case (r, w) => s"WHEN risk_weight = CAST($w AS DOUBLE) THEN $r" }
        .mkString("CASE ", " ", " ELSE 7 END")
      val axisValues = ccr3Bands.map { case (r, l, _) => s"($r, '$l')" }
        .mkString(", ")
      s"""
      WITH $ccrNettingSetsSql,
      axis(row_ref, rw_band) AS (VALUES $axisValues),
      banded AS (
        SELECT *, $bandCase AS band_ref
        FROM ccrx),
      rolled AS (
        SELECT band_ref,
               count(*) AS n_sets,
               ${sqlDsum("ead_ccr", 2)} AS ead_post_crm
        FROM banded
        GROUP BY ROLLUP(band_ref))
      SELECT ax.row_ref, ax.rw_band, r.n_sets, r.ead_post_crm
      FROM axis ax
      LEFT JOIN (SELECT coalesce(band_ref, 11) AS row_key, n_sets,
                        ead_post_crm
                 FROM rolled) r
        ON r.row_key = ax.row_ref
      ORDER BY ax.row_ref
      """.stripMargin.trim
    })

  /** q136: Pillar-3 CCR8 — exposures to central counterparties
    * (reference `reporting/pillar3/ccr.py` CCR8; CRR Art. 439(i)). The
    * population is RESTRICTED to CCP-faced netting sets and split by the
    * QCCP flag — never the whole non-QCCP-trade complement, which would
    * sweep in every bilateral counterparty (the reference's R5 CCP
    * restriction); the Total is the whole CCP population. Col a carries
    * the RWEA (QCCP legs at the Art. 306(1) 2%), col b the EAD.
    */
  val q136Ccr8 = QueryDef(
    "q136_ccr8",
    (s, dir) => {
      val agg = ccrNettingSets(s, dir)
        .filter(col("cp_entity_type") === "ccp")
        .agg(
          dsum(when(col("is_qccp"), col("rwa_ccr")).otherwise(0.0), 2)
            .as("rwea_qccp"),
          dsum(when(col("is_qccp"), col("ead_ccr")).otherwise(0.0), 2)
            .as("ead_qccp"),
          dsum(when(!col("is_qccp"), col("rwa_ccr")).otherwise(0.0), 2)
            .as("rwea_nqccp"),
          dsum(when(!col("is_qccp"), col("ead_ccr")).otherwise(0.0), 2)
            .as("ead_nqccp"),
          dsum(col("rwa_ccr"), 2).as("rwea_all"),
          dsum(col("ead_ccr"), 2).as("ead_all"))
      agg.selectExpr(
        """stack(3,
             1,  'qccp',      rwea_qccp,  ead_qccp,
             2,  'non_qccp',  rwea_nqccp, ead_nqccp,
             21, 'total_ccp', rwea_all,   ead_all)
           AS (row_ref, ccp_kind, rwea, ead_post_crm)""")
        .orderBy(col("row_ref"))
    },
    Some(s"""
      WITH $ccrNettingSetsSql,
      agg AS MATERIALIZED (
        SELECT
          ${sqlDsum("CASE WHEN is_qccp THEN rwa_ccr ELSE 0.0 END", 2)}
            AS rwea_qccp,
          ${sqlDsum("CASE WHEN is_qccp THEN ead_ccr ELSE 0.0 END", 2)}
            AS ead_qccp,
          ${sqlDsum("CASE WHEN NOT is_qccp THEN rwa_ccr ELSE 0.0 END", 2)}
            AS rwea_nqccp,
          ${sqlDsum("CASE WHEN NOT is_qccp THEN ead_ccr ELSE 0.0 END", 2)}
            AS ead_nqccp,
          ${sqlDsum("rwa_ccr", 2)} AS rwea_all,
          ${sqlDsum("ead_ccr", 2)} AS ead_all
        FROM ccrx
        WHERE cp_entity_type = 'ccp')
      SELECT * FROM (
        SELECT 1 AS row_ref, 'qccp' AS ccp_kind, rwea_qccp AS rwea,
               ead_qccp AS ead_post_crm FROM agg
        UNION ALL SELECT 2, 'non_qccp', rwea_nqccp, ead_nqccp FROM agg
        UNION ALL SELECT 21, 'total_ccp', rwea_all, ead_all FROM agg)
      ORDER BY row_ref
    """.stripMargin.trim))

  /** q143: Pillar-3 CCR2 — the CVA capital charge sheet (reference
    * `reporting/pillar3/ccr.py` generate_ccr2 / _ccr2_spec; CRR Art.
    * 439(h), PRA PS1/26 CVA Part 4.2). Completes the Pillar-3 CCR
    * family (q134/q135/q136): the BA-CVA row (ref row `4`) and the
    * Total (`6`) both read the portfolio `cva_rwa` roll-up — in the
    * reference a broadcast per-row constant read back as FirstNonNull
    * (the OV1 row-26 idiom); here the q96 single-row aggregate IS that
    * constant, so the sheet is a 3-row reshape over it with zero extra
    * shuffles. The SA-CVA row (`5`) is the structural placeholder left
    * null — this engine computes the reduced BA-CVA only, exactly like
    * the reference (no explicit framework gate: a CRR run simply
    * produces no `cva_rwa`).
    */
  val q143Ccr2 = QueryDef(
    "q143_ccr2",
    (s, dir) => {
      q96BaCva.build(s, dir)
        .selectExpr(
          """stack(3,
               4, 'ba_cva', cva_rwa,
               5, 'sa_cva', CAST(NULL AS DOUBLE),
               6, 'total',  cva_rwa)
             AS (row_ref, approach_label, rwea)""")
        .orderBy(col("row_ref"))
    },
    Some(s"""
      WITH cva AS MATERIALIZED (${q96BaCva.oracle.get})
      SELECT * FROM (
        SELECT 4 AS row_ref, 'ba_cva' AS approach_label, cva_rwa AS rwea
        FROM cva
        UNION ALL SELECT 5, 'sa_cva', NULL::DOUBLE
        UNION ALL SELECT 6, 'total', cva_rwa FROM cva)
      ORDER BY row_ref
    """.stripMargin.trim))

  /** q141: COREP C 34.01/02/04/08 — the CCR template family as one
    * stacked sheet (reference `reporting/corep/c34.py`; Reg (EU)
    * 2021/451 Annex I/II). The four in-scope sub-templates, each with
    * the reference's recorded population decision:
    *
    *  - **C 34.01** (analysis by approach, one SA-CCR row): portfolio
    *    EAD and RWEA over the SA-CCR netting-set population. FCCM SFTs
    *    are excluded by ARCHITECTURE here — the SFT book (q104) never
    *    enters `ccrNettingSets`, the same scope the reference enforces
    *    with its `risk_type == "CCR_SFT"` filter (SFTs report on
    *    C 07.00 row 0090).
    *  - **C 34.02** (EAD per netting set): the reference renders one
    *    sheet per netting set (its first multi-sheet template, R27b);
    *    re-expressed relationally as one row per netting set keyed by a
    *    zero-padded set ref — the natural DataFrame rendering of a
    *    keyed sheet family. EAD only (the template's single column).
    *  - **C 34.04** (BA-CVA capital): the portfolio `cva_rwa` scalar
    *    (q96), RWEA column only.
    *  - **C 34.08** (CCP exposures): QCCP trade legs (Art. 306(1) 2%),
    *    non-QCCP trade legs, and the default-fund row drawing its OWN
    *    population (q105, Art. 308/309) — a bilateral OTC counterparty
    *    is in NEITHER trade row (the R5 CCP restriction q136 shares).
    *
    * Scale shape: the 50-set netting frame is persisted once and feeds
    * the detail rows and both aggregates (three consumers — Catalyst
    * does not CSE across union branches); every other component is a
    * 1-row broadcast. The union is rows-of-aggregates, no data-sized
    * shuffle beyond q56's own.
    */
  val q141CorepC34 = QueryDef(
    "q141_corep_c34",
    (s, dir) => {
      val ns = ccrNettingSets(s, dir)
        .transform(graft.SessionScope.persist)
      val nulld = "CAST(NULL AS DOUBLE)"
      val c3401 = ns.agg(
        dsum(col("ead_ccr"), 2).as("ead_all"),
        dsum(col("rwa_ccr"), 2).as("rwea_all"))
        .selectExpr("'C34_01' AS template", "'0010' AS row_ref",
          "'sa_ccr' AS item", "ead_all AS exposure_value",
          "rwea_all AS rwea")
      val c3402 = ns.select(
        lit("C34_02").as("template"),
        lpad(col("netting_set").cast("string"), 4, "0").as("row_ref"),
        lit("netting_set_ead").as("item"),
        col("ead_ccr").as("exposure_value"),
        lit(null).cast("double").as("rwea"))
      val c3404 = q96BaCva.build(s, dir).selectExpr(
        "'C34_04' AS template", "'0010' AS row_ref",
        "'ba_cva_total' AS item", s"$nulld AS exposure_value",
        "cva_rwa AS rwea")
      val ccp = ns.filter(col("cp_entity_type") === "ccp").agg(
        dsum(when(col("is_qccp"), col("ead_ccr")).otherwise(0.0), 2)
          .as("ead_qccp"),
        dsum(when(col("is_qccp"), col("rwa_ccr")).otherwise(0.0), 2)
          .as("rwea_qccp"),
        dsum(when(!col("is_qccp"), col("ead_ccr")).otherwise(0.0), 2)
          .as("ead_nqccp"),
        dsum(when(!col("is_qccp"), col("rwa_ccr")).otherwise(0.0), 2)
          .as("rwea_nqccp"))
      val dfund = q105DefaultFund.build(s, dir).agg(
        dsum(col("total_df"), 2).as("ead_dfund"),
        dsum(col("total_rwea"), 2).as("rwea_dfund"))
      val c3408 = ccp.crossJoin(broadcast(dfund)).selectExpr(
        """stack(3,
             '0010', 'qccp_trade',     ead_qccp,  rwea_qccp,
             '0020', 'non_qccp_trade', ead_nqccp, rwea_nqccp,
             '0030', 'default_fund',   ead_dfund, rwea_dfund)
           AS (row_ref, item, exposure_value, rwea)""")
        .selectExpr("'C34_08' AS template", "row_ref", "item",
          "exposure_value", "rwea")
      c3401.unionByName(c3402).unionByName(c3404).unionByName(c3408)
        .orderBy(col("template"), col("row_ref"))
    },
    Some(s"""
      WITH $ccrNettingSetsSql,
      ccrm AS MATERIALIZED (SELECT * FROM ccrx),
      cva AS (
        SELECT cva_rwa FROM (${q96BaCva.oracle.get}) t),
      dfund AS (
        SELECT ${sqlDsum("total_df", 2)} AS ead_dfund,
               ${sqlDsum("total_rwea", 2)} AS rwea_dfund
        FROM (${q105DefaultFund.oracle.get}) t),
      ccp AS MATERIALIZED (
        SELECT
          ${sqlDsum("CASE WHEN is_qccp THEN ead_ccr ELSE 0.0 END", 2)}
            AS ead_qccp,
          ${sqlDsum("CASE WHEN is_qccp THEN rwa_ccr ELSE 0.0 END", 2)}
            AS rwea_qccp,
          ${sqlDsum("CASE WHEN NOT is_qccp THEN ead_ccr ELSE 0.0 END", 2)}
            AS ead_nqccp,
          ${sqlDsum("CASE WHEN NOT is_qccp THEN rwa_ccr ELSE 0.0 END", 2)}
            AS rwea_nqccp
        FROM ccrm WHERE cp_entity_type = 'ccp')
      SELECT * FROM (
        SELECT 'C34_01' AS template, '0010' AS row_ref, 'sa_ccr' AS item,
               ${sqlDsum("ead_ccr", 2)} AS exposure_value,
               ${sqlDsum("rwa_ccr", 2)} AS rwea
        FROM ccrm
        UNION ALL
        SELECT 'C34_02', lpad(CAST(netting_set AS VARCHAR), 4, '0'),
               'netting_set_ead', ead_ccr, NULL::DOUBLE
        FROM ccrm
        UNION ALL
        SELECT 'C34_04', '0010', 'ba_cva_total', NULL::DOUBLE, cva_rwa
        FROM cva
        UNION ALL
        SELECT 'C34_08', '0010', 'qccp_trade', ead_qccp, rwea_qccp FROM ccp
        UNION ALL
        SELECT 'C34_08', '0020', 'non_qccp_trade', ead_nqccp, rwea_nqccp
        FROM ccp
        UNION ALL
        SELECT 'C34_08', '0030', 'default_fund', ead_dfund, rwea_dfund
        FROM dfund)
      ORDER BY template, row_ref
    """.stripMargin.trim))

  // ---- q162: wrong-way-risk identification gate ------------------------

  /** q162: the WWR gate (reference `engine/ccr/wwr.py`; CRR Art. 291):
    * trades flagged specific-WWR (Art. 291(1)(b)) break out of their
    * netting set into SINGLE-TRADE synthetic sets keyed
    * `<ns>__wwr__<trade>` (Art. 291(5)(a)) carrying the LGD = 100%
    * override for downstream IRB consumption (Art. 291(5)(c)); the gate
    * does not touch the SA-CCR EAD itself. Diagnostics mirror the
    * reference's error emission: one CCR010 WARNING per ORIGINAL set
    * containing at least one specific-WWR trade, one CCR011 WARNING per
    * set flagged general-WWR (Art. 291(1)(a)/(6)).
    *
    * Scale shape: the partition is a pure projected key rewrite (no
    * join, no explosion — each trade lands in exactly one result set);
    * one groupBy on the result key, one tiny census aggregation on the
    * original key for the diagnostics.
    */
  val q162CcrWwrGate = QueryDef(
    "q162_ccr_wwr_gate",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      // trade grain first: the harness lineitem repeats (orderkey,
      // linenumber) pairs (multi-leg rows of ONE trade — the recorded
      // crmWaterfall quirk), so legs reduce to the trade key before the
      // gate partitions; a trade is specific-WWR if any leg flags
      val trades = li.select(
          concat(lit("NS-"), (col("l_orderkey") % 50).cast("string"))
            .as("source_ns"),
          concat(lit("T-"), col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string")).as("trade_id"),
          col("l_extendedprice").as("leg_notional"),
          when(col("l_partkey") % 37 === 0, 1).otherwise(0).as("leg_wwr"),
          (col("l_orderkey") % 50 % 11 === 0).as("has_general_wwr"))
        .groupBy(col("source_ns"), col("trade_id"), col("has_general_wwr"))
        .agg(dsum(col("leg_notional"), 2).as("notional"),
          (max(col("leg_wwr")) === 1).as("is_specific_wwr"))
        // Both the set roll-up and the diagnostics census consume the
        // trade-grain frame; Catalyst does not CSE across union branches,
        // so without the persist the lineitem scan + trade aggregation
        // execute TWICE (guide §2.4 — the q98/q93 shared-edge pattern).
        // At 100 TB that is a second full pass over the trade book.
        .transform(graft.SessionScope.persist)
      val routed = trades.withColumn("result_ns",
        when(col("is_specific_wwr"),
          concat(col("source_ns"), lit("__wwr__"), col("trade_id")))
          .otherwise(col("source_ns")))
      val sets = routed.groupBy(col("result_ns"), col("source_ns"))
        .agg(
          count(lit(1)).as("n_trades"),
          dsum(col("notional"), 2).as("total_notional"),
          max(when(col("is_specific_wwr"), 1.0)).as("wwr_lgd_override"))
        .select(lit("set").as("section"), col("result_ns"), col("source_ns"),
          col("n_trades"), col("total_notional"), col("wwr_lgd_override"),
          lit(null).cast("string").as("error_code"),
          lit(null).cast("string").as("severity"))
      val errors = trades.groupBy(col("source_ns"))
        .agg(
          max(when(col("is_specific_wwr"), 1)).as("any_specific"),
          max(when(col("has_general_wwr"), 1)).as("any_general"))
        .select(col("source_ns"),
          explode(filter(array(
            when(col("any_specific") === 1, "CCR010"),
            when(col("any_general") === 1, "CCR011")), e => e.isNotNull))
            .as("error_code"))
        .select(lit("error").as("section"),
          concat(col("source_ns"), lit("@"), col("error_code"))
            .as("result_ns"),
          col("source_ns"),
          lit(null).cast("long").as("n_trades"),
          lit(null).cast("double").as("total_notional"),
          lit(null).cast("double").as("wwr_lgd_override"),
          col("error_code"), lit("WARNING").as("severity"))
      sets.unionByName(errors)
        .orderBy(col("section"), col("result_ns"))
    },
    Some(s"""
      WITH x162trades AS (
        SELECT source_ns, trade_id, has_general_wwr,
               ${sqlDsum("leg_notional", 2)} AS notional,
               max(leg_wwr) = 1 AS is_specific_wwr
        FROM (
          SELECT 'NS-' || CAST(l_orderkey % 50 AS VARCHAR) AS source_ns,
                 'T-' || CAST(l_orderkey AS VARCHAR) || '-' ||
                   CAST(l_linenumber AS VARCHAR) AS trade_id,
                 l_extendedprice AS leg_notional,
                 CASE WHEN l_partkey % 37 = 0 THEN 1 ELSE 0 END AS leg_wwr,
                 l_orderkey % 50 % 11 = 0 AS has_general_wwr
          FROM lineitem)
        GROUP BY source_ns, trade_id, has_general_wwr),
      x162routed AS (
        SELECT *, CASE WHEN is_specific_wwr
                       THEN source_ns || '__wwr__' || trade_id
                       ELSE source_ns END AS result_ns
        FROM x162trades),
      x162sets AS (
        SELECT 'set' AS section, result_ns, source_ns,
               count(*) AS n_trades,
               ${sqlDsum("notional", 2)} AS total_notional,
               max(CASE WHEN is_specific_wwr THEN 1.0 END)
                 AS wwr_lgd_override,
               NULL::VARCHAR AS error_code, NULL::VARCHAR AS severity
        FROM x162routed GROUP BY result_ns, source_ns),
      x162census AS (
        SELECT source_ns,
               max(CASE WHEN is_specific_wwr THEN 1 END) AS any_specific,
               max(CASE WHEN has_general_wwr THEN 1 END) AS any_general
        FROM x162trades GROUP BY source_ns),
      x162errors AS (
        SELECT 'error' AS section,
               source_ns || '@' || code AS result_ns, source_ns,
               NULL::BIGINT AS n_trades, NULL::DOUBLE AS total_notional,
               NULL::DOUBLE AS wwr_lgd_override,
               code AS error_code, 'WARNING' AS severity
        FROM (
          SELECT source_ns, 'CCR010' AS code FROM x162census
          WHERE any_specific = 1
          UNION ALL
          SELECT source_ns, 'CCR011' FROM x162census WHERE any_general = 1))
      SELECT * FROM (
        SELECT * FROM x162sets UNION ALL SELECT * FROM x162errors)
      ORDER BY section, result_ns
    """.stripMargin.trim))

  // ---- q163: SA-CCR trade-level adjusted-notional chain ----------------

  /** q163: the SA-CCR TRADE-LEVEL chain the hedging-set roll-up (q56)
    * consumes (reference `engine/ccr/supervisory_delta.py`,
    * `maturity_factor.py`, `adjusted_notional.py`; CRR Art. 279a/279c/
    * 280a-e):
    *
    *  - supervisory delta: ±1 for linear trades; Black-style
    *    ±Φ(±d1) for options, d1 = (ln(P/K) + 0.5σ²T)/(σ√T) with the
    *    supervisory volatility (Art. 279a(1)(a)) — evaluated through the
    *    engine's native `norm_cdf` Catalyst expression on the Spark side
    *    and the shared Cody-erf SQL replica in the oracle;
    *  - maturity factor: unmargined √(min(M, 1y)/1y) (Art. 279c);
    *  - the signed effective notional δ·MF·notional aggregates per
    *    (netting set, class, bucket) — longs and shorts NET inside a
    *    bucket before |·| applies, the Art. 280 hedging-set discipline —
    *    then the supervisory factor scales the bucket add-on and the
    *    q56 supervisory-correlation formula rolls buckets → class → set.
    *
    * Scale shape: three chained aggregations with strictly shrinking
    * grain; the supervisory-factor table broadcasts; delta/MF are pure
    * codegen columns in the scan projection.
    */
  val q163SaCcrDelta = QueryDef(
    "q163_saccr_delta",
    (s, dir) => {
      import s.implicits._
      import graft.functions.normal
      val sf = broadcast(Seq(("A", 0.005), ("N", 0.04), ("R", 0.18))
        .toDF("sf_class", "sf"))
      val li = Tables.lineitem(s, dir)
      val dirSign = when(col("l_suppkey") % 2 === 0, 1.0).otherwise(-1.0)
      val m = lit(0.8) + (col("l_partkey") % 5).cast("double") * lit(0.1)
      val sigma = lit(0.2) + (col("l_suppkey") % 4).cast("double") * lit(0.1)
      val tYears = (lit(3.0) + (col("l_orderkey") % 22).cast("double")) / lit(12.0)
      val d1 = (log(m) + lit(0.5) * sigma * sigma * tYears) /
        (sigma * sqrt(tYears))
      val delta = when(col("l_partkey") % 3 === 0, dirSign)
        .when(col("l_partkey") % 3 === 1, dirSign * normal.norm_cdf(d1))
        .otherwise(-dirSign * normal.norm_cdf(-d1))
      val mf = sqrt(least(tYears, lit(1.0)))
      val trades = li.select(
        (col("l_orderkey") % 50).as("netting_set"),
        col("l_returnflag").as("asset_class"),
        col("l_linestatus").as("bucket"),
        q6(delta * mf * col("l_extendedprice")).as("eff"))
      val buckets = trades
        .groupBy(col("netting_set"), col("asset_class"), col("bucket"))
        .agg(dsum(col("eff"), 6).as("effn"))
        .join(sf, col("asset_class") === col("sf_class"))
        .select(col("netting_set"), col("asset_class"),
          q2(col("sf") * abs(col("effn"))).as("bucket_addon"))
      val rho = 0.5
      val classes = buckets
        .groupBy(col("netting_set"), col("asset_class"))
        .agg(dsum(col("bucket_addon"), 2).as("sum_a"),
             dsum(q2(col("bucket_addon") * col("bucket_addon")), 2)
               .as("sum_a2"))
        .select(col("netting_set"), col("asset_class"),
          q6(sqrt(
            (lit(rho) * col("sum_a")) * (lit(rho) * col("sum_a")) +
            (lit(1.0) - lit(rho) * lit(rho)) * col("sum_a2")))
            .as("class_addon"))
      classes.groupBy(col("netting_set"))
        .agg(count(lit(1)).as("n_classes"),
          dsum(col("class_addon"), 6).as("ns_addon"))
        .withColumn("ns_addon", q2(col("ns_addon")))
        .orderBy(col("netting_set"))
    },
    Some {
      val d1 = "(ln(0.8 + (l_partkey % 5) * 0.1) + " +
        "0.5 * (0.2 + (l_suppkey % 4) * 0.1) * (0.2 + (l_suppkey % 4) * 0.1) * " +
        "((3.0 + l_orderkey % 22) / 12.0)) / " +
        "((0.2 + (l_suppkey % 4) * 0.1) * sqrt((3.0 + l_orderkey % 22) / 12.0))"
      val dirSign = "CASE WHEN l_suppkey % 2 = 0 THEN 1.0 ELSE -1.0 END"
      s"""
      WITH x163sf(sf_class, sf) AS (VALUES ('A', ${d(0.005)}), ('N', ${d(0.04)}),
        ('R', ${d(0.18)})),
      x163trades AS (
        SELECT l_orderkey % 50 AS netting_set,
               l_returnflag AS asset_class, l_linestatus AS bucket,
               ${sql6(
                 s"(CASE WHEN l_partkey % 3 = 0 THEN $dirSign " +
                 s"WHEN l_partkey % 3 = 1 THEN ($dirSign) * (${Rwa.sqlNormCdf(d1)}) " +
                 s"ELSE -($dirSign) * (${Rwa.sqlNormCdf(s"-($d1)")}) END) * " +
                 "sqrt(least((3.0 + l_orderkey % 22) / 12.0, 1.0)) * " +
                 "l_extendedprice")} AS eff
        FROM lineitem),
      x163buckets AS (
        SELECT netting_set, asset_class,
               ${sql2("sf * abs(effn)")} AS bucket_addon
        FROM (
          SELECT netting_set, asset_class, bucket,
                 ${sqlDsum("eff", 6)} AS effn
          FROM x163trades GROUP BY 1, 2, 3)
        JOIN x163sf ON asset_class = sf_class),
      x163classes AS (
        SELECT netting_set, asset_class,
               ${sql6(
                 s"sqrt((0.5 * ${sqlDsum("bucket_addon", 2)}) * " +
                 s"(0.5 * ${sqlDsum("bucket_addon", 2)}) + " +
                 s"(1.0 - 0.5 * 0.5) * ${sqlDsum(sql2("bucket_addon * bucket_addon"), 2)})")}
                 AS class_addon
        FROM x163buckets GROUP BY 1, 2)
      SELECT netting_set, count(*) AS n_classes,
             ${sql2(sqlDsum("class_addon", 6))} AS ns_addon
      FROM x163classes
      GROUP BY netting_set
      ORDER BY netting_set
    """.stripMargin.trim
    })

  // ---- q164: SA-CCR EAD composition (RC + PFE multiplier) --------------

  /** q164: the full SA-CCR EAD composition the add-on roll-up feeds
    * (reference `engine/ccr/rc.py` + `engine/ccr/pfe.py:68-125`;
    * CRR Art. 274(2)/275/278):
    *
    *  - replacement cost per netting set: unmargined
    *    `max(V_net − C_net, 0)` (Art. 275(1)); margined
    *    `max(V − C, TH + MTA − NICA, 0)` (Art. 275(2));
    *  - the PFE MULTIPLIER recognising over-collateralisation
    *    (Art. 278(3)): `min(1, F + (1−F)·exp((V−C)/(2(1−F)·AddOn)))`
    *    with the supervisory floor F = 0.05 — capped at 1 exactly when
    *    V ≥ C, so both branches exercise;
    *  - `PFE = multiplier · AddOn` (Art. 278(1)) and
    *    `EAD = α·(RC + PFE)` at α = 1.4 (Art. 274(2)).
    *
    * The add-on joins from the q56 hedging-set roll-up at netting-set
    * grain; V/C/threshold terms derive from the orders book reduced to
    * the same grain BEFORE the join (two ~50-row frames — the join
    * carries scalars, never the books). exp/ln agree bit-for-bit across
    * engines on the same doubles (the q51 IRB-kernel precedent).
    */
  val q164SaCcrEad = QueryDef(
    "q164_saccr_ead",
    (s, dir) => {
      val f = 0.05
      val vc = Tables.orders(s, dir)
        .select((col("o_orderkey") % 50).as("netting_set"),
          // per-set tilt baked into the branch literals: odd sets run
          // net-negative (the multiplier recognises over-
          // collateralisation), even sets net-positive (the Art. 278(3)
          // cap at 1 engages). One literal per branch — a two-term sum
          // evaluates decimal-exact in DuckDB but in doubles here, one
          // ulp apart across a q2 tie (the q160 lgd lesson).
          q2(col("o_totalprice") *
            when(col("o_orderkey") % 50 % 2 === 1,
              when(col("o_orderkey") % 3 === 0, -0.3)
                .when(col("o_orderkey") % 3 === 1, -0.45)
                .otherwise(-0.38))
              .otherwise(
                when(col("o_orderkey") % 3 === 0, 0.2)
                  .when(col("o_orderkey") % 3 === 1, 0.05)
                  .otherwise(0.12)))
            .as("mtm"),
          q2(when(col("o_orderkey") % 4 === 0, col("o_totalprice") * 0.04)
            .otherwise(0.0)).as("coll"))
        .groupBy(col("netting_set"))
        .agg(dsum(col("mtm"), 2).as("v_net"), dsum(col("coll"), 2).as("c_net"))
      val ns = q56SaCcrAddon.build(s, dir)
        .join(vc, Seq("netting_set"), "left")
        .withColumns(Map(
          "v_net" -> coalesce(col("v_net"), lit(0.0)),
          "c_net" -> coalesce(col("c_net"), lit(0.0)),
          "margined" -> (col("netting_set") % 5 === 0)))
        .withColumn("rc",
          when(col("margined"),
            greatest(col("v_net") - col("c_net"),
              lit(10000.0) * (col("netting_set") + 1) + lit(5000.0) -
                (col("netting_set") % 3).cast("double") * lit(2000.0),
              lit(0.0)))
            .otherwise(greatest(col("v_net") - col("c_net"), lit(0.0))))
        .withColumn("multiplier",
          when(col("ns_addon") > 0, least(lit(1.0),
            q6(lit(f) + lit(1.0 - f) *
              exp((col("v_net") - col("c_net")) /
                (lit(2.0 * (1.0 - f)) * col("ns_addon"))))))
            .otherwise(lit(1.0)))
      ns.select(
          col("netting_set"), col("margined"), col("v_net"), col("c_net"),
          q2(col("rc")).as("rc"), col("multiplier"),
          q2(col("multiplier") * col("ns_addon")).as("pfe"))
        .withColumn("ead_ccr", q2(lit(1.4) * (col("rc") + col("pfe"))))
        .orderBy(col("netting_set"))
    },
    Some(s"""
      WITH x164vc AS (
        SELECT o_orderkey % 50 AS netting_set,
               ${sqlDsum(sql2(
                 "o_totalprice * (CASE WHEN o_orderkey % 50 % 2 = 1 THEN " +
                 "(CASE WHEN o_orderkey % 3 = 0 THEN -0.3 " +
                 "WHEN o_orderkey % 3 = 1 THEN -0.45 ELSE -0.38 END) ELSE " +
                 "(CASE WHEN o_orderkey % 3 = 0 THEN 0.2 " +
                 "WHEN o_orderkey % 3 = 1 THEN 0.05 ELSE 0.12 END) END)"), 2)}
                 AS v_net,
               ${sqlDsum(sql2(
                 "CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 0.04 " +
                 "ELSE 0.0 END"), 2)} AS c_net
        FROM orders GROUP BY 1),
      x164ns AS (
        SELECT a.netting_set, a.ns_addon,
               coalesce(v.v_net, 0.0) AS v_net,
               coalesce(v.c_net, 0.0) AS c_net,
               a.netting_set % 5 = 0 AS margined
        FROM (${q56SaCcrAddon.oracle.get}) a
        LEFT JOIN x164vc v USING (netting_set)),
      x164rc AS (
        SELECT *,
               CASE WHEN margined
                    THEN greatest(v_net - c_net,
                      10000.0 * (netting_set + 1) + 5000.0 -
                        (netting_set % 3) * 2000.0, 0.0)
                    ELSE greatest(v_net - c_net, 0.0) END AS rc0,
               CASE WHEN ns_addon > 0
                    THEN least(1.0, ${sql6(
                      "0.05 + 0.95 * exp((v_net - c_net) / (1.9 * ns_addon))")})
                    ELSE 1.0 END AS multiplier
        FROM x164ns)
      SELECT netting_set, margined, v_net, c_net,
             ${sql2("rc0")} AS rc, multiplier,
             ${sql2("multiplier * ns_addon")} AS pfe,
             ${sql2(s"1.4 * (${sql2("rc0")} + ${sql2("multiplier * ns_addon")})")}
               AS ead_ccr
      FROM x164rc
      ORDER BY netting_set
    """.stripMargin.trim))


  // ---- q179: the SaCcrKernel chain over the synthetic book --------------

  /** q179: the full [[graft.engine.SaCcrKernel]] chain — the acceptance
    * replay's kernel driven at book scale with a DuckDB oracle (reference
    * `engine/ccr/adjusted_notional.py` + `supervisory_delta.py` +
    * `maturity_factor.py` + `pfe.py` + `rc.py` end-to-end, where
    * q163/q164 exercise the bucket roll-up and EAD composition in
    * isolation). The synthetic trade book derives every kernel input
    * from lineitem deterministically:
    *
    *  - five asset classes (l_partkey % 5), tenors 30..3029 days (both
    *    MF arms + all three IR buckets), notionals scaled to
    *    l_extendedprice/10000 (the dsum magnitude rule: every
    *    sum-of-squares stays far inside 2^53/1e6 at the gate SFs);
    *  - equity trades on every third order are European options through
    *    the Black Φ(d1) supervisory-delta branch (strike/underlying from
    *    part/supp keys, the q51/q163 norm_cdf cross-engine precedent);
    *  - netting sets 0..49; every fourth set is margined and takes the
    *    Art. 285 MPOR cascade (remargin frequency 1..130, dispute
    *    doubling on sets with ns % 5 > 2) — n_trades comes from a
    *    window count over the same scan;
    *  - credit/equity entities and commodity references fan out the
    *    per-entity netting grain; every third commodity trade has a NULL
    *    reference and falls back to per-trade grain.
    *
    * Hash-exactness: eff is q6-floored; the kernel sums every level as
    * DECIMAL(38,6) with q6 floors at level crossings (see SaCcrKernel),
    * so both engines compute bit-identical add-ons; outputs quantise at
    * the q2/q6 grain. One scan, one window, the kernel's single base
    * shuffle + netting-set rollups. */
  val q179SaCcrKernelChain = QueryDef(
    "q179_saccr_kernel",
    (s, dir) => {
      import graft.engine.SaCcrKernel
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir)
      val ns = col("l_orderkey") % 50
      val ac = element_at(
        array(lit("interest_rate"), lit("fx"), lit("credit"), lit("equity"),
          lit("commodity")), (col("l_partkey") % 5 + 1).cast("int"))
      val days = (lit(30) + col("l_orderkey") % 3000).cast("int")
      val years = days.cast("double") / 365.25
      val bd = floor(days.cast("double") * 5.0 / 7.0).cast("int")
      val sign = when(col("l_suppkey") % 2 === 0, 1.0).otherwise(-1.0)
      val notional = q6(col("l_extendedprice") / 10000.0)
      val price = q2(col("l_extendedprice") / 10000.0)
      val isOpt = col("l_partkey") % 5 === 3 && col("l_orderkey") % 3 === 0
      val strike = when(isOpt, (lit(100) + col("l_partkey") % 20).cast("double"))
      val undrl = when(isOpt, (lit(95) + col("l_suppkey") % 25).cast("double"))
      val optType = when(isOpt && col("l_partkey") % 2 === 0, "put")
        .when(isOpt, "call")
      val t0 = li.select(
        ns.as("netting_set"),
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("trade_id"),
        ac.as("asset_class"), days.as("days"), years.as("years_to_maturity"),
        bd.as("bd"), sign.as("sign"), notional.as("notional"),
        price.as("price"),
        (col("l_suppkey") % 2 === 0).as("is_index"),
        element_at(array(lit("IG"), lit("HY"), lit("NON_RATED")),
          (col("l_suppkey") % 3 + 1).cast("int")).as("credit_quality"),
        element_at(array(lit("ELECTRICITY"), lit("OIL_GAS"), lit("METALS"),
          lit("AGRICULTURAL")), (col("l_suppkey") % 4 + 1).cast("int"))
          .as("commodity_type"),
        concat(lit("HS"), col("l_suppkey") % 3).as("hedging_set"),
        concat(lit("E"), col("l_partkey") % 7).as("cr_entity"),
        concat(lit("Q"), col("l_partkey") % 5).as("eq_entity"),
        when(col("l_partkey") % 3 =!= 0, concat(lit("C"), col("l_partkey") % 6))
          .as("co_ref"),
        (col("l_orderkey") % 2 === 0).as("leg1_base"),
        strike.as("strike"), undrl.as("undrl"), optType.as("opt_type"),
        (lit(1) + col("l_partkey") % 9).cast("double").as("units"),
        q2(col("l_extendedprice") / 10000.0 *
          when(col("l_orderkey") % 3 === 0, -1.0).otherwise(0.5)).as("mtm"))
      val nCnt = count(lit(1)).over(Window.partitionBy(col("netting_set")))
      val margined = col("netting_set") % 4 === 0
      val t1 = t0.withColumn("n_trades", nCnt)
        .withColumn("mf",
          when(margined, SaCcrKernel.maturityFactorMargined(
            SaCcrKernel.mporEffective(col("n_trades"), lit(false),
              (col("netting_set") % 5).cast("int"),
              (lit(1) + col("netting_set") % 130).cast("int"), lit(10))))
            .otherwise(SaCcrKernel.maturityFactorUnmargined(col("bd"))))
        .withColumn("sd_dur",
          SaCcrKernel.supervisoryDuration(lit(0), col("days")))
        .withColumn("adj",
          when(col("asset_class").isin("interest_rate", "credit"),
            col("notional") * col("sd_dur"))
            .when(col("asset_class") === "fx", SaCcrKernel.adjustedNotionalFx(
              col("notional"), q6(col("notional") * 0.8),
              col("leg1_base"), !col("leg1_base")))
            .otherwise(q6(col("price") * col("units"))))
        .withColumn("delta", SaCcrKernel.supervisoryDelta(
          col("sign") === 1.0, col("opt_type"), col("strike"), col("undrl"),
          col("days"), SaCcrKernel.optionVolatility(col("asset_class"),
            coalesce(col("is_index"), lit(false)))))
      val trades = t1.select(
        col("netting_set"), col("trade_id"), col("asset_class"),
        q6(col("delta") * col("adj") * col("mf")).as("eff"),
        col("years_to_maturity"), col("hedging_set"),
        when(col("asset_class") === "credit", col("cr_entity"))
          .when(col("asset_class") === "equity", col("eq_entity"))
          .when(col("asset_class") === "commodity", col("co_ref"))
          .as("reference_entity"),
        col("is_index"), col("credit_quality"), col("commodity_type"),
        col("mtm"))
      val addons = graft.engine.SaCcrKernel.addonAggregate(trades)
      val nsFrame = trades.groupBy(col("netting_set"))
        .agg(dsum(col("mtm"), 2).as("v_net"), count(lit(1)).as("n_trades"))
        .withColumn("c_net", q2(lit(500.0) * (col("netting_set") % 7)))
        .withColumn("margined", col("netting_set") % 4 === 0)
        .withColumn("th", (lit(2000) * (col("netting_set") + 1)).cast("double"))
        .withColumn("mta", (lit(500) * (col("netting_set") % 3)).cast("double"))
        .withColumn("nica", (lit(250) * (col("netting_set") % 2)).cast("double"))
        .join(addons, Seq("netting_set"))
      graft.engine.SaCcrKernel.ead(nsFrame)
        .select(col("netting_set").cast("long").as("netting_set"),
          col("n_trades"),
          q2(col("addon_aggregate")).as("addon_aggregate"),
          q2(col("rc")).as("rc"),
          q6(col("pfe_multiplier")).as("pfe_multiplier"),
          q2(col("pfe_addon")).as("pfe_addon"),
          q2(col("ead_ccr")).as("ead_ccr"))
        .orderBy(col("netting_set"))
    },
    Some {
      val sd = "(exp((-0.05)*0.04) - exp((-0.05)*(days/365.25)))/0.05"
      val t = "(days/365.0)"
      val sigma = "(CASE WHEN is_index THEN 0.75 ELSE 1.20 END)"
      val d1 = s"(ln(undrl/strike) + 0.5*$sigma*$sigma*$t) / ($sigma*sqrt($t))"
      // d1 / Φ(d1) / Φ(-d1) are computed ONCE as CTE columns below, so the
      // Cody-erf polynomial expands over the 2-char column name `d1` rather
      // than the full d1 expression text — the generated SQL shrinks ~10×
      // and DuckDB's expression-tree memory with it (r13 driver OOM fix).
      // Value-identical: each textual occurrence of d1 evaluated the same
      // IEEE double, so materialising it as a DOUBLE column is bit-exact.
      val optDelta =
        s"""CASE WHEN opt_type = 'put'
              THEN CASE WHEN is_long THEN -(phi_neg_d1) ELSE (phi_neg_d1) END
              ELSE CASE WHEN is_long THEN (phi_d1) ELSE -(phi_d1) END END"""
      def dsum6(e: String) = s"CAST(sum(CAST(($e) AS DECIMAL(38,6))) AS DOUBLE)"
      s"""
      WITH x179t AS (
        SELECT l_orderkey % 50 AS netting_set,
               CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS trade_id,
               CASE l_partkey % 5 WHEN 0 THEN 'interest_rate' WHEN 1 THEN 'fx'
                 WHEN 2 THEN 'credit' WHEN 3 THEN 'equity' ELSE 'commodity' END AS asset_class,
               CAST(30 + l_orderkey % 3000 AS INT) AS days,
               (30 + l_orderkey % 3000) / 365.25 AS years,
               CAST(floor((30 + l_orderkey % 3000) * 5.0 / 7.0) AS INT) AS bd,
               CASE WHEN l_suppkey % 2 = 0 THEN 1.0 ELSE -1.0 END AS sign,
               l_suppkey % 2 = 0 AS is_long,
               ${sql6("l_extendedprice / 10000.0")} AS notional,
               ${sql2("l_extendedprice / 10000.0")} AS price,
               l_suppkey % 2 = 0 AS is_index,
               CASE l_suppkey % 3 WHEN 0 THEN 'IG' WHEN 1 THEN 'HY' ELSE 'NON_RATED' END AS credit_quality,
               CASE l_suppkey % 4 WHEN 0 THEN 'ELECTRICITY' WHEN 1 THEN 'OIL_GAS'
                 WHEN 2 THEN 'METALS' ELSE 'AGRICULTURAL' END AS commodity_type,
               'HS' || CAST(l_suppkey % 3 AS VARCHAR) AS hedging_set,
               'E' || CAST(l_partkey % 7 AS VARCHAR) AS cr_entity,
               'Q' || CAST(l_partkey % 5 AS VARCHAR) AS eq_entity,
               CASE WHEN l_partkey % 3 <> 0 THEN 'C' || CAST(l_partkey % 6 AS VARCHAR) END AS co_ref,
               l_orderkey % 2 = 0 AS leg1_base,
               l_partkey % 5 = 3 AND l_orderkey % 3 = 0 AS is_opt,
               CASE WHEN l_partkey % 5 = 3 AND l_orderkey % 3 = 0
                 THEN CAST(100 + l_partkey % 20 AS DOUBLE) END AS strike,
               CASE WHEN l_partkey % 5 = 3 AND l_orderkey % 3 = 0
                 THEN CAST(95 + l_suppkey % 25 AS DOUBLE) END AS undrl,
               CASE WHEN l_partkey % 5 = 3 AND l_orderkey % 3 = 0
                 THEN (CASE WHEN l_partkey % 2 = 0 THEN 'put' ELSE 'call' END) END AS opt_type,
               CAST(1 + l_partkey % 9 AS DOUBLE) AS units,
               ${sql2("l_extendedprice / 10000.0 * (CASE WHEN l_orderkey % 3 = 0 THEN -1.0 ELSE 0.5 END)")} AS mtm
        FROM lineitem),
      x179d AS (
        SELECT *,
               CASE WHEN strike IS NOT NULL AND undrl IS NOT NULL
                 THEN $d1 END AS d1
        FROM x179t),
      x179phi AS (
        SELECT *,
               ${Rwa.sqlNormCdf("d1")} AS phi_d1,
               ${Rwa.sqlNormCdf("(-d1)")} AS phi_neg_d1
        FROM x179d),
      x179eff AS (
        SELECT *,
               count(*) OVER (PARTITION BY netting_set) AS n_trades,
               ${sql6(
                 s"""(CASE WHEN strike IS NULL OR undrl IS NULL
                       THEN sign ELSE ($optDelta) END) *
                    (CASE WHEN asset_class IN ('interest_rate', 'credit')
                       THEN notional * ($sd)
                       WHEN asset_class = 'fx'
                       THEN (CASE WHEN leg1_base
                             THEN ${sql6("notional * 0.8")} ELSE notional END)
                       ELSE ${sql6("price * units")} END) *
                    (CASE WHEN netting_set % 4 = 0
                       THEN 1.5 * sqrt(greatest(
                         (CASE WHEN count(*) OVER (PARTITION BY netting_set) > 5000
                            THEN 20 ELSE 10 END) *
                         (CASE WHEN netting_set % 5 > 2 THEN 2 ELSE 1 END)
                         + (1 + netting_set % 130) - 1, 10) / 250.0)
                       ELSE sqrt(least(greatest(bd, 10), 250) / 250.0) END)""")}
                 AS eff
        FROM x179phi),
      x179ir AS (
        SELECT netting_set, ${sql6(
          "0.005 * sqrt(b1*b1 + b2*b2 + b3*b3 + 2*0.7*b1*b2 + 2*0.7*b2*b3 + 2*0.3*b1*b3)")} AS addon
        FROM (
          SELECT netting_set,
                 ${dsum6("CASE WHEN bucket = 1 THEN d_k ELSE 0.0 END")} AS b1,
                 ${dsum6("CASE WHEN bucket = 2 THEN d_k ELSE 0.0 END")} AS b2,
                 ${dsum6("CASE WHEN bucket = 3 THEN d_k ELSE 0.0 END")} AS b3
          FROM (
            SELECT netting_set,
                   CASE WHEN years < 1.0 THEN 1 WHEN years <= 5.0 THEN 2 ELSE 3 END AS bucket,
                   ${dsum6("eff")} AS d_k
            FROM x179eff WHERE asset_class = 'interest_rate'
            GROUP BY 1, 2)
          GROUP BY 1)),
      x179fx AS (
        SELECT netting_set, ${sql6(dsum6(sql6("0.04 * abs(d_k)")))} AS addon
        FROM (
          SELECT netting_set, hedging_set, ${dsum6("eff")} AS d_k
          FROM x179eff WHERE asset_class = 'fx' GROUP BY 1, 2)
        GROUP BY 1),
      x179cr AS (
        SELECT netting_set, ${sql6("sqrt(sys*sys + idio)")} AS addon
        FROM (
          SELECT netting_set,
                 ${dsum6(sql6("rho * a"))} AS sys,
                 ${dsum6(sql6("(1.0 - rho*rho) * a * a"))} AS idio
          FROM (
            SELECT netting_set,
                   CASE WHEN is_index THEN 0.80 ELSE 0.50 END AS rho,
                   ${sql6(
                     """(CASE WHEN is_index
                          THEN (CASE credit_quality WHEN 'IG' THEN 0.0038 ELSE 0.0106 END)
                          ELSE (CASE credit_quality WHEN 'IG' THEN 0.0046
                                WHEN 'HY' THEN 0.013 ELSE 0.06 END) END) * d_k""")} AS a
            FROM (
              SELECT netting_set, cr_entity, is_index, credit_quality,
                     ${dsum6("eff")} AS d_k
              FROM x179eff WHERE asset_class = 'credit' GROUP BY 1, 2, 3, 4))
          GROUP BY 1)),
      x179eq AS (
        SELECT netting_set, ${sql6(dsum6("sub_addon"))} AS addon
        FROM (
          SELECT netting_set, ${sql6(
            """(CASE WHEN is_index THEN 0.20 ELSE 0.32 END) * sqrt(
               ((CASE WHEN is_index THEN 0.80 ELSE 0.50 END) * sum_d) *
               ((CASE WHEN is_index THEN 0.80 ELSE 0.50 END) * sum_d) +
               (1.0 - (CASE WHEN is_index THEN 0.80 ELSE 0.50 END) *
                (CASE WHEN is_index THEN 0.80 ELSE 0.50 END)) * sum_d2)""")} AS sub_addon
          FROM (
            SELECT netting_set, is_index,
                   ${dsum6("d_k")} AS sum_d, ${dsum6("d_k * d_k")} AS sum_d2
            FROM (
              SELECT netting_set, eq_entity, is_index, ${dsum6("eff")} AS d_k
              FROM x179eff WHERE asset_class = 'equity' GROUP BY 1, 2, 3)
            GROUP BY 1, 2))
        GROUP BY 1),
      x179co AS (
        SELECT netting_set, ${sql6(s"sqrt(${dsum6("addon_b * addon_b")})")} AS addon
        FROM (
          SELECT netting_set, ${sql6(
            """(CASE WHEN commodity_type = 'ELECTRICITY' THEN 0.40 ELSE 0.18 END) *
               sqrt(0.4*0.4 * d_b * d_b + (1.0 - 0.4*0.4) * sum_dk2)""")} AS addon_b
          FROM (
            SELECT netting_set, commodity_type,
                   ${dsum6("d_k")} AS d_b, ${dsum6("d_k * d_k")} AS sum_dk2
            FROM (
              SELECT netting_set, commodity_type, coalesce(co_ref, trade_id) AS ref,
                     ${dsum6("eff")} AS d_k
              FROM x179eff WHERE asset_class = 'commodity' AND commodity_type IS NOT NULL
              GROUP BY 1, 2, 3)
            GROUP BY 1, 2))
        GROUP BY 1),
      x179addon AS (
        SELECT netting_set, ${dsum6("addon")} AS addon_aggregate
        FROM (SELECT * FROM x179ir UNION ALL SELECT * FROM x179fx
              UNION ALL SELECT * FROM x179cr UNION ALL SELECT * FROM x179eq
              UNION ALL SELECT * FROM x179co)
        GROUP BY 1),
      x179ns AS (
        SELECT t.netting_set, t.n_trades, t.v_net,
               ${sql2("500.0 * (t.netting_set % 7)")} AS c_net,
               t.netting_set % 4 = 0 AS margined,
               CAST(2000 * (t.netting_set + 1) AS DOUBLE) AS th,
               CAST(500 * (t.netting_set % 3) AS DOUBLE) AS mta,
               CAST(250 * (t.netting_set % 2) AS DOUBLE) AS nica,
               a.addon_aggregate
        FROM (
          SELECT netting_set, ${sqlDsum("mtm", 2)} AS v_net, count(*) AS n_trades
          FROM x179eff GROUP BY 1) t
        JOIN x179addon a ON a.netting_set = t.netting_set),
      x179out AS (
        SELECT netting_set, n_trades, addon_aggregate,
               CASE WHEN margined
                 THEN greatest(v_net - c_net, th + mta - nica, 0.0)
                 ELSE greatest(v_net - c_net, 0.0) END AS rc,
               CASE WHEN addon_aggregate > 0.0
                 THEN least(1.0, 0.05 + 0.95 * exp((v_net - c_net) /
                   ((2.0 * 0.95) * addon_aggregate)))
                 ELSE 1.0 END AS mult
        FROM x179ns)
      SELECT netting_set, n_trades,
             ${sql2("addon_aggregate")} AS addon_aggregate,
             ${sql2("rc")} AS rc,
             ${sql6("mult")} AS pfe_multiplier,
             ${sql2("mult * addon_aggregate")} AS pfe_addon,
             ${sql2("1.4 * (rc + mult * addon_aggregate)")} AS ead_ccr
      FROM x179out
      ORDER BY netting_set
    """.stripMargin.trim
    })

  val all: Seq[QueryDef] = Seq(
    q56SaCcrAddon, q57Slotting, q58CrmCascade, q59GuaranteeSubstitution,
    q96BaCva, q97FailedTrades, q104SftHaircutLegs, q105DefaultFund,
    q108TranchedGuarantee, q110LinkAllocation, q112OfcpRouting,
    q134Ccr1, q135Ccr3, q136Ccr8, q141CorepC34, q143Ccr2,
    q162CcrWwrGate, q163SaCcrDelta, q164SaCcrEad, q179SaCcrKernelChain)
}
