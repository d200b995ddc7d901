package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.DomainPipeline
import graft.operators.SaScope
import graft.sources.Tables
import Q._

/** The Pillar-3 IRB disclosure tail (reference `reporting/pillar3/cr6.py`,
  * `cr7.py`, `cr8.py`): the by-PD-range IRB sheet, the CRM-effects sheet
  * and the RWEA flow statement, each a declarative reshape of the SAME
  * memoised domain ledger (`DomainPipeline.ledger`) — no sheet re-runs
  * the pipeline.
  *
  * Regime handling mirrors the reference's per-framework generator loop
  * (`cr6.py` `_CR6_SPECS` is keyed (framework, class)): the ledger
  * carries BOTH regimes' weights in one frame (`own_rw`/`own_rw_b31`,
  * `rwa`/`rwa_b31`), so a broadcast 2-row framework axis cross-joined
  * into the projection renders both sheets from ONE ledger scan — at
  * 100 TB one pass computing both regimes dominates two full runs.
  */
object Pillar3 {

  private def d(v: Double): String = s"CAST($v AS DOUBLE)"

  // ---- CR6 geometry (reference `reporting/pillar3/templates.py:473-491`
  //      CR6_PD_RANGES) -------------------------------------------------

  /** (row_ref, label, lower, upper) — half-open [lower, upper) bands over
    * the allocation PD. Refs 1/7/10/13 are PARENT bands (each equals the
    * sum of the sub-bands that follow it — `templates.py:493-496`), ref
    * 17 is the forced defaulted band, ref 18 the Total row; the range
    * join assigns a row to every band containing it, so parents and the
    * total come out of the same single shuffle. 9.99 stands in for the
    * reference's `inf` upper bound (PD is capped at 1.0). */
  private[graft] val cr6Bands: Seq[(Int, String, Double, Double)] = Seq(
    (1, "0.00 to <0.15", 0.0000, 0.0015),
    (2, "0.00 to <0.10", 0.0000, 0.0010),
    (3, "0.10 to <0.15", 0.0010, 0.0015),
    (4, "0.15 to <0.25", 0.0015, 0.0025),
    (5, "0.25 to <0.50", 0.0025, 0.0050),
    (6, "0.50 to <0.75", 0.0050, 0.0075),
    (7, "0.75 to <2.50", 0.0075, 0.0250),
    (8, "0.75 to <1.75", 0.0075, 0.0175),
    (9, "1.75 to <2.5", 0.0175, 0.0250),
    (10, "2.50 to <10.00", 0.0250, 0.1000),
    (11, "2.5 to <5", 0.0250, 0.0500),
    (12, "5 to <10", 0.0500, 0.1000),
    (13, "10.00 to <100.00", 0.1000, 1.0000),
    (14, "10 to <20", 0.1000, 0.2000),
    (15, "20 to <30", 0.2000, 0.3000),
    (16, "30.00 to <100.00", 0.3000, 1.0000),
    (17, "100.00 (Default)", 1.0000, 9.99),
    (18, "Total", 0.0000, 9.99))

  /** Per-framework regulatory PD input floor (CRR Art. 160(1) 0.03%;
    * B3.1/PS1/26 candidate recalibration 0.05%). */
  private[queries] val pdFloorByFramework: Seq[(String, Double)] =
    Seq("CRR" -> 0.0003, "BASEL_3_1" -> 0.0005)

  /** LGD input floor (senior unsecured representative rate). */
  private val lgdFloor = 0.05

  /** The IRB-permitted classes of the domain rulebook (the permission
    * grants routing `DomainPipeline.classify` — only these classes can
    * carry `approach = 'IRB'`), the sheet axis like the reference's
    * `IRB_EXPOSURE_CLASSES` filter. */
  private val irbClasses = Seq("corporate", "institution")

  private val bandValues = cr6Bands
    .map { case (r, l, lo, hi) => s"($r, '$l', ${d(lo)}, ${d(hi)})" }.mkString(", ")
  private val fwValues = pdFloorByFramework
    .map { case (f, fl) => s"('$f', ${d(fl)})" }.mkString(", ")
  private val irbClassValues = irbClasses.map(c => s"('$c')").mkString(", ")

  /** q120: Pillar-3 CR6 — IRB exposures by exposure class and PD range
    * (reference `reporting/pillar3/cr6.py`, CRR Art. 452(g)). Semantics
    * carried over exactly:
    *
    *  - PD-band allocation is HALF-OPEN [lower, upper) on the derived
    *    allocation PD; defaulted rows are FORCED to the 100% band
    *    ("All defaulted exposures shall be included in the bucket
    *    representing PD of 100%" — `cr6.py _with_alloc_pd`).
    *  - The allocation BASIS is regime-split like `_alloc_pd_source`:
    *    B3.1 allocates on the PRE-input-floor PD, CRR on the floored PD.
    *  - Reported PD/LGD columns are the EAD-weighted POST-floor values
    *    ×100 (cols f/h); maturity is EAD-weighted (col i); obligors are
    *    counted DISTINCT (col g); RWA density is RWEA/EAD (col k).
    *  - Average CCF (col d) weights over the OFF-balance-sheet
    *    population only.
    *  - An EMPTY band renders as an all-null row (the reference's
    *    `_null_empty_bands` contract): the fixed framework×class×band
    *    axis left-joins the aggregate, so absent buckets surface as
    *    null cells, never dropped rows.
    *
    * IRB parameters (PD/LGD/maturity) are deterministic derivations of
    * the exposure key — the synthetic book carries no model outputs —
    * with the PD span covering every band of the scale so the allocation
    * machinery is exercised end to end.
    *
    * Scale shape: one projection over the persisted ledger, a broadcast
    * 18-row band range-join (each row lands in ≤4 bands), ONE shuffle
    * for the groupBy — the sheet is a single aggregation pass regardless
    * of book size; the fixed axis left-joins the broadcast aggregate.
    * Weighted numerators quantise per-row (q2) and sum at scale 2 per
    * the dsum magnitude rule.
    */
  val q120Pillar3Cr6 = QueryDef(
    "q120_pillar3_cr6",
    (s, dir) => {
      import s.implicits._
      val bands = broadcast(cr6Bands.toDF("row_ref", "pd_range", "lo", "hi"))
      val fw = broadcast(pdFloorByFramework.toDF("framework", "pd_floor"))
      val k = expr("CAST(substring(exposure_reference, 5) AS BIGINT)")
      val irb = DomainPipeline.ledger(s, dir)
        .filter(col("approach") === "IRB")
        .select(
          col("exposure_reference"), col("exposure_type"),
          col("counterparty_reference"), col("is_defaulted"),
          col("exposure_class"), col("drawn_base"), col("undrawn_base"),
          col("ccf_eff"), col("ead_pre_crm").as("ead"),
          col("rwa"), col("rwa_b31"), k.as("k"))
      val attrs = irb.crossJoin(fw)
        .withColumn("pd", lit(0.0001) + (col("k") % 997).cast("double") * lit(0.001))
        .withColumn("lgd", (col("k") % 60).cast("double") * lit(0.01))
        .withColumn("maturity", lit(1.0) + (col("k") % 5).cast("double"))
        .withColumn("pd_floored", greatest(col("pd"), col("pd_floor")))
        .withColumn("lgd_floored", greatest(col("lgd"), lit(lgdFloor)))
        .withColumn("rwea_leg",
          when(col("framework") === "CRR", col("rwa")).otherwise(col("rwa_b31")))
        .withColumn("alloc_pd",
          when(col("is_defaulted"), lit(1.0))
            .when(col("framework") === "CRR", col("pd_floored"))
            .otherwise(col("pd")))
      val offBs = col("exposure_type") === "facility_undrawn"
      val agg = attrs
        .join(bands, col("alloc_pd") >= col("lo") && col("alloc_pd") < col("hi"))
        .groupBy(col("framework"), col("exposure_class"), col("row_ref"))
        .agg(
          count(lit(1)).as("n_exposures"),
          countDistinct(col("counterparty_reference")).as("n_obligors"),
          dsum(col("drawn_base"), 2).as("gross_on_bs"),
          dsum(col("undrawn_base"), 2).as("gross_off_bs"),
          dsum(when(offBs, q2(col("ccf_eff") * col("ead"))), 2).as("ccf_num"),
          dsum(when(offBs, col("ead")), 2).as("ccf_den"),
          dsum(col("ead"), 2).as("ead_total"),
          dsum(q2(col("pd_floored") * col("ead")), 2).as("pd_num"),
          dsum(q2(col("lgd_floored") * col("ead")), 2).as("lgd_num"),
          dsum(q2(col("maturity") * col("ead")), 2).as("mat_num"),
          dsum(col("rwea_leg"), 2).as("rwea"),
          dsum(q2(col("pd_floored") * col("lgd_floored") * col("ead")), 2)
            .as("expected_loss"))
      val axis = (for {
          (f, _) <- pdFloorByFramework
          c <- irbClasses
          (ref, label, _, _) <- cr6Bands
        } yield (f, c, ref, label))
        .toDF("framework", "exposure_class", "row_ref", "pd_range")
      axis.join(broadcast(agg), Seq("framework", "exposure_class", "row_ref"), "left")
        .select(
          col("framework"), col("exposure_class"), col("row_ref"),
          col("pd_range"), col("n_exposures"), col("n_obligors"),
          col("gross_on_bs"), col("gross_off_bs"),
          when(col("ccf_den") > 0, q6(col("ccf_num") / col("ccf_den"))).as("avg_ccf"),
          col("ead_total"),
          when(col("ead_total") > 0, q6(col("pd_num") / col("ead_total") * 100))
            .as("ead_w_pd_pct"),
          when(col("ead_total") > 0, q6(col("lgd_num") / col("ead_total") * 100))
            .as("ead_w_lgd_pct"),
          when(col("ead_total") > 0, q6(col("mat_num") / col("ead_total")))
            .as("ead_w_maturity"),
          col("rwea"),
          when(col("ead_total") > 0, q6(col("rwea") / col("ead_total")))
            .as("rwa_density"),
          col("expected_loss"))
        .coalesce(1)
        .orderBy(col("framework"), col("exposure_class"), col("row_ref"))
    },
    Some(s"""
      WITH ${Domain.domainLedgerCtes},
      bands(row_ref, pd_range, lo, hi) AS (VALUES $bandValues),
      fw(framework, pd_floor) AS (VALUES $fwValues),
      irb AS (
        SELECT exposure_reference, exposure_type, counterparty_reference,
               is_defaulted, exposure_class, drawn_base, undrawn_base,
               ccf_eff, ead_pre_crm AS ead, rwa, rwa_b31,
               CAST(substr(exposure_reference, 5) AS BIGINT) AS k
        FROM final WHERE approach = 'IRB'),
      attrs AS (
        SELECT i.*, f.framework,
               0.0001 + (k % 997) * 0.001 AS pd,
               (k % 60) * 0.01 AS lgd,
               1.0 + (k % 5) AS maturity,
               greatest(0.0001 + (k % 997) * 0.001, f.pd_floor) AS pd_floored,
               greatest((k % 60) * 0.01, ${d(lgdFloor)}) AS lgd_floored,
               CASE WHEN f.framework = 'CRR' THEN rwa ELSE rwa_b31 END AS rwea_leg
        FROM irb i CROSS JOIN fw f),
      cr6alloc AS (
        SELECT *, CASE WHEN is_defaulted THEN 1.0
                       WHEN framework = 'CRR' THEN pd_floored
                       ELSE pd END AS alloc_pd
        FROM attrs),
      banded AS (
        SELECT a.*, b.row_ref
        FROM cr6alloc a JOIN bands b ON a.alloc_pd >= b.lo AND a.alloc_pd < b.hi),
      agg AS (
        SELECT framework, exposure_class, row_ref,
               count(*) AS n_exposures,
               count(DISTINCT counterparty_reference) AS n_obligors,
               ${sqlDsum("drawn_base", 2)} AS gross_on_bs,
               ${sqlDsum("undrawn_base", 2)} AS gross_off_bs,
               ${sqlDsum(
                 s"CASE WHEN exposure_type = 'facility_undrawn' THEN ${sql2("ccf_eff * ead")} END", 2)}
                 AS ccf_num,
               ${sqlDsum(
                 "CASE WHEN exposure_type = 'facility_undrawn' THEN ead END", 2)}
                 AS ccf_den,
               ${sqlDsum("ead", 2)} AS ead_total,
               ${sqlDsum(sql2("pd_floored * ead"), 2)} AS pd_num,
               ${sqlDsum(sql2("lgd_floored * ead"), 2)} AS lgd_num,
               ${sqlDsum(sql2("maturity * ead"), 2)} AS mat_num,
               ${sqlDsum("rwea_leg", 2)} AS rwea,
               ${sqlDsum(sql2("pd_floored * lgd_floored * ead"), 2)} AS expected_loss
        FROM banded GROUP BY 1, 2, 3),
      axis AS (
        SELECT f.framework, c.exposure_class, b.row_ref, b.pd_range
        FROM fw f
        CROSS JOIN (VALUES $irbClassValues) c(exposure_class)
        CROSS JOIN bands b)
      SELECT ax.framework, ax.exposure_class, ax.row_ref, ax.pd_range,
             g.n_exposures, g.n_obligors, g.gross_on_bs, g.gross_off_bs,
             CASE WHEN g.ccf_den > 0 THEN ${sql6("g.ccf_num / g.ccf_den")} END
               AS avg_ccf,
             g.ead_total,
             CASE WHEN g.ead_total > 0
                  THEN ${sql6("g.pd_num / g.ead_total * 100")} END AS ead_w_pd_pct,
             CASE WHEN g.ead_total > 0
                  THEN ${sql6("g.lgd_num / g.ead_total * 100")} END AS ead_w_lgd_pct,
             CASE WHEN g.ead_total > 0
                  THEN ${sql6("g.mat_num / g.ead_total")} END AS ead_w_maturity,
             g.rwea,
             CASE WHEN g.ead_total > 0
                  THEN ${sql6("g.rwea / g.ead_total")} END AS rwa_density,
             g.expected_loss
      FROM axis ax
      LEFT JOIN agg g USING (framework, exposure_class, row_ref)
      ORDER BY ax.framework, ax.exposure_class, ax.row_ref
    """.stripMargin.trim))

  /** q122: CR8-style RWEA flow statement (reference
    * `reporting/pillar3/cr8.py`, CRR Art. 438(h)). The reference's CR8
    * reports opening RWEA (prior run), closing RWEA (current run) and
    * leaves the per-driver rows null ("they need exposure-level
    * period-over-period lineage two point-in-time snapshots cannot
    * provide"). This engine HAS that lineage: the ledger carries both
    * regimes' weights per exposure in one frame, so the CRR run plays
    * the prior period, the B3.1 run the current, and the per-exposure
    * delta decomposes EXACTLY into driver rows:
    *
    *  - asset_quality: the delta on the defaulted book;
    *  - methodology: the delta where the recalibrated rule table moved
    *    the exposure's own risk weight;
    *  - other: the residual (substitution interplay — the guarantor leg
    *    min() flips without an own-weight move).
    *
    * model_updates stays null — the ledger carries no model-version
    * lineage, the reference's own recorded limitation. The flow identity
    * opening + drivers = closing holds bit-exactly (2-decimal deltas
    * partition the book; all sums decimal-exact).
    *
    * Scale shape: ONE aggregation over the persisted IRB slice computes
    * every row's sum; the 6-row sheet is a stack over that single-row
    * aggregate — one ledger scan total.
    */
  val q122Cr8Flow = QueryDef(
    "q122_cr8_flow",
    (s, dir) => {
      val irb = DomainPipeline.ledger(s, dir).filter(col("approach") === "IRB")
      val delta = q2(col("rwa_b31") - col("rwa"))
      val moved = col("own_rw_b31") =!= col("own_rw")
      val agg = irb.agg(
        dsum(col("rwa"), 2).as("opening"),
        dsum(when(col("is_defaulted"), delta).otherwise(0.0), 2).as("asset_quality"),
        dsum(when(!col("is_defaulted") && moved, delta).otherwise(0.0), 2)
          .as("methodology"),
        dsum(when(!col("is_defaulted") && !moved, delta).otherwise(0.0), 2)
          .as("other_flow"),
        dsum(col("rwa_b31"), 2).as("closing"))
      agg.selectExpr(
        """stack(6,
             1, 'opening_rwea',  opening,
             2, 'asset_quality', asset_quality,
             3, 'model_updates', CAST(NULL AS DOUBLE),
             4, 'methodology',   methodology,
             8, 'other',         other_flow,
             9, 'closing_rwea',  closing)
           AS (row_ref, driver, rwea_amount)""")
        .orderBy(col("row_ref"))
    },
    Some(s"""
      WITH ${Domain.domainLedgerCtes},
      agg AS MATERIALIZED (
        SELECT
          ${sqlDsum("rwa", 2)} AS opening,
          ${sqlDsum(
            s"CASE WHEN is_defaulted THEN ${sql2("rwa_b31 - rwa")} ELSE 0.0 END", 2)}
            AS asset_quality,
          ${sqlDsum(
            s"CASE WHEN NOT is_defaulted AND own_rw_b31 <> own_rw THEN ${sql2("rwa_b31 - rwa")} ELSE 0.0 END", 2)}
            AS methodology,
          ${sqlDsum(
            s"CASE WHEN NOT is_defaulted AND own_rw_b31 = own_rw THEN ${sql2("rwa_b31 - rwa")} ELSE 0.0 END", 2)}
            AS other_flow,
          ${sqlDsum("rwa_b31", 2)} AS closing
        FROM final WHERE approach = 'IRB')
      SELECT * FROM (
        SELECT 1 AS row_ref, 'opening_rwea' AS driver, opening AS rwea_amount FROM agg
        UNION ALL SELECT 2, 'asset_quality', asset_quality FROM agg
        UNION ALL SELECT 3, 'model_updates', NULL::DOUBLE FROM agg
        UNION ALL SELECT 4, 'methodology', methodology FROM agg
        UNION ALL SELECT 8, 'other', other_flow FROM agg
        UNION ALL SELECT 9, 'closing_rwea', closing FROM agg)
      ORDER BY row_ref
    """.stripMargin.trim))

  /** q123: CR7-style CRM (guarantee-substitution) effects on RWEA
    * (reference `reporting/pillar3/cr7.py`, CRR Art. 453(j)). The
    * reference records col a (pre-credit-derivatives RWEA) = col b
    * (actual) because its ledger "carries no hypothetical
    * pre-credit-derivative RWEA" — an explicitly recorded add-to-contract
    * candidate. This ledger DOES carry the decomposition (covered legs +
    * own/guarantor weights), so col a is computed genuinely: the same
    * RWA formula with the guarantee leg kept at the OBLIGOR's own weight
    * (collateral still applies — CR7 measures the unfunded-protection
    * substitution effect only), mirroring `rwaCalc`'s leg/rounding shape
    * so the b-side reproduces the ledger's `rwa` bit-for-bit.
    *
    * One ROLLUP pass per the q116 grouping-sets discipline: per-class
    * rows and the framework total come from a single shuffle over the
    * persisted IRB slice.
    */
  val q123Cr7CrmEffects = QueryDef(
    "q123_cr7_crm_effects",
    (s, dir) => {
      import s.implicits._
      val fw = broadcast(pdFloorByFramework.toDF("framework", "pd_floor"))
      val collRw = DomainPipeline.collateralRw
      val irb = DomainPipeline.ledger(s, dir)
        .filter(col("approach") === "IRB")
        .crossJoin(fw)
      val own = when(col("framework") === "CRR", col("own_rw"))
        .otherwise(col("own_rw_b31"))
      val preCd = q2(
        (q2(col("coll_covered") * lit(collRw)) +
          q2(col("guar_covered") * own) +
          q2(col("unsecured") * own)) * col("sf_factor"))
      val actual = when(col("framework") === "CRR", col("rwa"))
        .otherwise(col("rwa_b31"))
      irb
        .withColumn("pre_cd_leg", preCd)
        .withColumn("actual_leg", actual)
        .rollup(col("framework"), col("exposure_class"))
        .agg(
          count(lit(1)).as("n_exposures"),
          dsum(col("pre_cd_leg"), 2).as("pre_cd_rwea"),
          dsum(col("actual_leg"), 2).as("actual_rwea"))
        .filter(col("framework").isNotNull)
        .select(
          col("framework"),
          coalesce(col("exposure_class"), lit("TOTAL")).as("exposure_class"),
          col("n_exposures"), col("pre_cd_rwea"), col("actual_rwea"),
          q2(col("pre_cd_rwea") - col("actual_rwea")).as("crm_effect"))
        .coalesce(1)
        .orderBy(col("framework"), col("exposure_class"))
    },
    Some(s"""
      WITH ${Domain.domainLedgerCtes},
      fw(framework, pd_floor) AS (VALUES $fwValues),
      legs AS (
        SELECT f.framework, l.exposure_class,
          ${sql2(
            s"(${sql2(s"coll_covered * ${d(DomainPipeline.collateralRw)}")} + " +
            s"${sql2("guar_covered * (CASE WHEN f.framework = 'CRR' THEN own_rw ELSE own_rw_b31 END)")} + " +
            s"${sql2("unsecured * (CASE WHEN f.framework = 'CRR' THEN own_rw ELSE own_rw_b31 END)")}) * sf_factor")}
            AS pre_cd_leg,
          CASE WHEN f.framework = 'CRR' THEN l.rwa ELSE l.rwa_b31 END AS actual_leg
        FROM final l CROSS JOIN fw f
        WHERE l.approach = 'IRB'),
      rolled AS (
        SELECT framework, exposure_class,
               count(*) AS n_exposures,
               ${sqlDsum("pre_cd_leg", 2)} AS pre_cd_rwea,
               ${sqlDsum("actual_leg", 2)} AS actual_rwea
        FROM legs GROUP BY ROLLUP(framework, exposure_class))
      SELECT framework,
             coalesce(exposure_class, 'TOTAL') AS exposure_class,
             n_exposures, pre_cd_rwea, actual_rwea,
             ${sql2("pre_cd_rwea - actual_rwea")} AS crm_effect
      FROM rolled
      WHERE framework IS NOT NULL
      ORDER BY framework, exposure_class
    """.stripMargin.trim))

  /** The bundle name of [[ccrComponents]]. */
  private[graft] val CcrComponents = "ccr_components"

  /** The non-ledger RWEA scalars OV1 and CMS1 report, each an existing
    * battery query reduced to one value: q56's SA-CCR netting-set add-ons
    * × α (1.4), q105's default-fund K_CM × 12.5, q96's reduced BA-CVA RWA
    * and q97's Art. 378 settlement charge. Built once per (session, dir)
    * as a 1-row frame through the run's [[graft.reporting.TemplateBundle]],
    * so the second sheet reads the first one's result and
    * `TemplateBundle.releaseSession` frees it with the session's sheets. */
  private[graft] def ccrComponents(s: SparkSession, dir: String): DataFrame =
    graft.reporting.TemplateBundle.generated(s, dir, CcrComponents, {
      val ccr = Ccr.q56SaCcrAddon.build(s, dir)
        .agg(dsum(q2(col("ns_addon") * 1.4), 2).as("ccr_rwea"))
      val dfund = Ccr.q105DefaultFund.build(s, dir)
        .agg(dsum(col("total_rwea"), 2).as("dfund_rwea"))
      val cva = Ccr.q96BaCva.build(s, dir)
        .select(col("cva_rwa").as("cva_rwea"))
      val settle = Ccr.q97FailedTrades.build(s, dir)
        .agg(dsum(col("total_rwa"), 4).as("settle_rwea"))
      ccr.crossJoin(broadcast(dfund)).crossJoin(broadcast(cva))
        .crossJoin(broadcast(settle))
    })

  /** q130: Pillar-3 OV1 — overview of RWEAs (reference
    * `reporting/pillar3/ov1.py`, CRR Art. 438(d)): the one-page roll-up a
    * disclosure reader opens first, one row per risk type with the RWEA
    * under both frameworks and the 8% minimum own-funds column. Rows are
    * cut by RISK TYPE, never the approach label (the reference's recorded
    * OV1 rule): credit ex-CCR splits SA/IRB from the ledger's dual-regime
    * weights; CCR rows take the SA-CCR netting-set add-ons (× α = 1.4)
    * and the default-fund K_CM × 12.5; CVA takes the reduced BA-CVA RWA;
    * settlement risk the Art. 378 failed-trade charge. The CCR/CVA/
    * settlement books carry no candidate-regime delta in this rulebook,
    * so their two framework columns coincide — the credit rows carry the
    * whole recalibration story.
    *
    * COMPOSITION, not duplication: each non-ledger row is the existing
    * battery query (q56/q96/q97/q105) reduced to its scalar, and the
    * oracle embeds those queries' own oracle SQL as subqueries — the
    * sheet is provably consistent with the queries it summarises, in
    * both engines. Scale shape: the ledger row is ONE conditional
    * aggregation over the persisted ledger; the other components come as
    * one 1-row frame built once per session ([[ccrComponents]], shared
    * with q132) and broadcast into the cross-join; the Total row sums
    * horizontally on the wide row (decimal-exact), so the whole sheet
    * adds no data-sized shuffle beyond its components.
    */
  val q130Ov1Overview = QueryDef(
    "q130_ov1_overview",
    (s, dir) => {
      val credit = DomainPipeline.ledger(s, dir).agg(
        dsum(when(col("approach") === "SA", col("rwa")).otherwise(0.0), 2)
          .as("sa_crr"),
        dsum(when(col("approach") === "SA", col("rwa_b31")).otherwise(0.0), 2)
          .as("sa_b31"),
        dsum(when(col("approach") === "IRB", col("rwa")).otherwise(0.0), 2)
          .as("irb_crr"),
        dsum(when(col("approach") === "IRB", col("rwa_b31")).otherwise(0.0), 2)
          .as("irb_b31"))
      def hsum(cols: Seq[String]): Column =
        cols.map(c => col(c).cast(DecimalType(38, 4))).reduce(_ + _)
          .cast("double")
      val wide = credit.crossJoin(broadcast(ccrComponents(s, dir)))
        .withColumn("tot_crr", hsum(Seq(
          "sa_crr", "irb_crr", "ccr_rwea", "dfund_rwea", "cva_rwea",
          "settle_rwea")))
        .withColumn("tot_b31", hsum(Seq(
          "sa_b31", "irb_b31", "ccr_rwea", "dfund_rwea", "cva_rwea",
          "settle_rwea")))
      wide.selectExpr(
        """stack(7,
             1,  'credit_risk_sa',   sa_crr,      sa_b31,
             2,  'credit_risk_irb',  irb_crr,     irb_b31,
             6,  'ccr_sa_ccr',       ccr_rwea,    ccr_rwea,
             7,  'ccr_default_fund', dfund_rwea,  dfund_rwea,
             10, 'cva',              cva_rwea,    cva_rwea,
             15, 'settlement_risk',  settle_rwea, settle_rwea,
             29, 'total',            tot_crr,     tot_b31)
           AS (row_ref, risk_type, rwea_crr, rwea_b31)""")
        .withColumn("own_funds_req", q2(col("rwea_crr") * 0.08))
        .orderBy(col("row_ref"))
    },
    Some {
      val hsumSql = (cols: Seq[String]) =>
        "CAST(" + cols.map(c => s"CAST($c AS DECIMAL(38,4))").mkString(" + ") +
          " AS DOUBLE)"
      s"""
      WITH ${Domain.domainLedgerCtes},
      credit AS (
        SELECT
          ${sqlDsum("CASE WHEN approach = 'SA' THEN rwa ELSE 0.0 END", 2)}
            AS sa_crr,
          ${sqlDsum("CASE WHEN approach = 'SA' THEN rwa_b31 ELSE 0.0 END", 2)}
            AS sa_b31,
          ${sqlDsum("CASE WHEN approach = 'IRB' THEN rwa ELSE 0.0 END", 2)}
            AS irb_crr,
          ${sqlDsum("CASE WHEN approach = 'IRB' THEN rwa_b31 ELSE 0.0 END", 2)}
            AS irb_b31
        FROM final),
      ccr AS (
        SELECT ${sqlDsum(sql2("ns_addon * 1.4"), 2)} AS ccr_rwea
        FROM (${Ccr.q56SaCcrAddon.oracle.get}) t),
      dfund AS (
        SELECT ${sqlDsum("total_rwea", 2)} AS dfund_rwea
        FROM (${Ccr.q105DefaultFund.oracle.get}) t),
      cva AS (
        SELECT cva_rwa AS cva_rwea
        FROM (${Ccr.q96BaCva.oracle.get}) t),
      settle AS (
        SELECT ${sqlDsum("total_rwa", 4)} AS settle_rwea
        FROM (${Ccr.q97FailedTrades.oracle.get}) t),
      wide AS MATERIALIZED (
        SELECT *,
          ${hsumSql(Seq("sa_crr", "irb_crr", "ccr_rwea", "dfund_rwea",
            "cva_rwea", "settle_rwea"))} AS tot_crr,
          ${hsumSql(Seq("sa_b31", "irb_b31", "ccr_rwea", "dfund_rwea",
            "cva_rwea", "settle_rwea"))} AS tot_b31
        FROM credit, ccr, dfund, cva, settle),
      sheet AS (
        SELECT 1 AS row_ref, 'credit_risk_sa' AS risk_type,
               sa_crr AS rwea_crr, sa_b31 AS rwea_b31 FROM wide
        UNION ALL SELECT 2, 'credit_risk_irb', irb_crr, irb_b31 FROM wide
        UNION ALL SELECT 6, 'ccr_sa_ccr', ccr_rwea, ccr_rwea FROM wide
        UNION ALL SELECT 7, 'ccr_default_fund', dfund_rwea, dfund_rwea FROM wide
        UNION ALL SELECT 10, 'cva', cva_rwea, cva_rwea FROM wide
        UNION ALL SELECT 15, 'settlement_risk', settle_rwea, settle_rwea FROM wide
        UNION ALL SELECT 29, 'total', tot_crr, tot_b31 FROM wide)
      SELECT row_ref, risk_type, rwea_crr, rwea_b31,
             ${sql2("rwea_crr * 0.08")} AS own_funds_req
      FROM sheet
      ORDER BY row_ref
      """.stripMargin.trim
    })

  // ---- CR10 geometry (reference `reporting/pillar3/cr10.py`;
  //      Reg (EU) 2021/637 Annex XXIII, PRA onshored) -------------------

  /** The official 12-row CR10.1-4 grid: each of the five Art. 153(5)
    * supervisory categories split into two remaining-maturity bands, plus
    * TWO maturity-split Total rows (the official template has no single
    * combined Total — `cr10.py` row-geometry note). The fixed regulatory
    * risk weight (col c, ×100) is maturity-correct per category and NULL
    * on the Total rows; Default carries the Art. 153(5) 0% the engine
    * actually applies (capital via EL — the reference's recorded R18
    * rendering of the template's em-dash). */
  private[queries] val cr10Axis: Seq[(Int, String, String, Option[Double])] =
    graft.engine.Slotting.table1.zipWithIndex.flatMap {
      // ×100 quantised to the exact integer double (1.15·100 is
      // 114.99999999999999 in IEEE — the fixed display column must be
      // the exact regulatory percentage on both engine sides)
      case ((cat, rwShort, rwLong), i) => Seq(
        (i * 2 + 1, cat, "lt_2_5", Some(math.floor(rwShort * 100 + 0.5))),
        (i * 2 + 2, cat, "ge_2_5", Some(math.floor(rwLong * 100 + 0.5))))
    } ++ Seq((11, "TOTAL", "lt_2_5", None), (12, "TOTAL", "ge_2_5", None))

  /** q131: Pillar-3 CR10 — specialised lending on the slotting approach
    * (reference `reporting/pillar3/cr10.py`; CRR Art. 438(e)). The grid,
    * the fixed-weight column and the a/b-zero-vs-d/e/f-null empty-row
    * asymmetry follow the reference exactly; the weights and EL rates
    * are the REAL Art. 153(5) Table 1 / Art. 158(6) Table B chains
    * (`graft.engine.Slotting` — rendered into the oracle from the same
    * data, so the oracle proves the engine chain emits the declared
    * table). Population decision (this rulebook has no slotting product
    * column): the origin slotting book is the IRB-permitted corporate
    * slice, its supervisory category derived from the exposure key with
    * defaulted rows forced to Category 5 — the same derived-attribute
    * discipline as q120's PD scale.
    *
    * Scale shape: one projection over the persisted ledger slice, the
    * category/EL chains are codegen when-chains (no join), ONE ROLLUP
    * shuffle emits the category rows AND the two maturity Totals
    * together, then the 12-row axis left-joins the broadcast roll-up to
    * pin the grid.
    */
  val q131Cr10Slotting = QueryDef(
    "q131_cr10_slotting",
    (s, dir) => {
      import s.implicits._
      import graft.engine.Slotting
      val axis =
        cr10Axis.toDF("row_ref", "slotting_category", "maturity_band", "fixed_rw_pct")
      val k = expr("CAST(substring(exposure_reference, 5) AS BIGINT)")
      val slot = DomainPipeline.ledger(s, dir)
        .filter(col("approach") === "IRB" && col("exposure_class") === "corporate")
        .withColumn("k", k)
        .withColumn("slotting_category",
          when(col("is_defaulted"), "default")
            .when(col("k") % 4 === 0, "strong")
            .when(col("k") % 4 === 1, "good")
            .when(col("k") % 4 === 2, "satisfactory")
            .otherwise("weak"))
        .withColumn("res_maturity", lit(1.0) + (col("k") % 5).cast("double"))
        .withColumn("slot_rw",
          Slotting.riskWeight(col("slotting_category"), col("res_maturity")))
        .withColumn("el_rate",
          Slotting.elRate(col("slotting_category"), col("res_maturity")))
      val rolled = broadcast(slot
        .withColumn("is_short", col("res_maturity") < 2.5)
        .rollup(col("is_short"), col("slotting_category"))
        .agg(
          count(lit(1)).as("n_exposures"),
          dsum(col("drawn_base"), 2).as("gross_on_bs"),
          dsum(col("undrawn_base"), 2).as("gross_off_bs"),
          dsum(col("ead_pre_crm"), 2).as("exposure_value"),
          dsum(q2(col("ead_pre_crm") * col("slot_rw")), 2).as("rwea"),
          dsum(q2(col("ead_pre_crm") * col("el_rate")), 2).as("expected_loss"))
        .filter(col("is_short").isNotNull)
        .withColumn("cat_key", coalesce(col("slotting_category"), lit("TOTAL"))))
      axis
        .join(rolled,
          axis("slotting_category") === rolled("cat_key") &&
            rolled("is_short") === (axis("maturity_band") === "lt_2_5"),
          "left")
        .select(
          axis("row_ref"), axis("slotting_category"), axis("maturity_band"),
          axis("fixed_rw_pct"),
          coalesce(col("n_exposures"), lit(0L)).as("n_exposures"),
          coalesce(col("gross_on_bs"), lit(0.0)).as("gross_on_bs"),
          coalesce(col("gross_off_bs"), lit(0.0)).as("gross_off_bs"),
          col("exposure_value"), col("rwea"), col("expected_loss"))
        .coalesce(1)
        .orderBy(col("row_ref"))
    },
    Some {
      val slotValues = graft.engine.Slotting.table1
        .zip(graft.engine.Slotting.elTable).map {
          case ((cat, rwS, rwL), (_, elS, elL)) =>
            s"('$cat', ${d(rwS)}, ${d(rwL)}, ${d(elS)}, ${d(elL)})"
        }.mkString(", ")
      val axisValues = cr10Axis.map { case (ref, cat, band, rwOpt) =>
        val rw = rwOpt.fold("CAST(NULL AS DOUBLE)")(v => d(v))
        s"($ref, '$cat', '$band', $rw)"
      }.mkString(", ")
      s"""
      WITH ${Domain.domainLedgerCtes},
      slot_rules(cat, rw_short, rw_long, el_short, el_long) AS
        (VALUES $slotValues),
      axis(row_ref, slotting_category, maturity_band, fixed_rw_pct) AS
        (VALUES $axisValues),
      slot AS (
        SELECT *, CAST(substr(exposure_reference, 5) AS BIGINT) AS k
        FROM final
        WHERE approach = 'IRB' AND exposure_class = 'corporate'),
      cats AS (
        SELECT *,
               CASE WHEN is_defaulted THEN 'default'
                    WHEN k % 4 = 0 THEN 'strong'
                    WHEN k % 4 = 1 THEN 'good'
                    WHEN k % 4 = 2 THEN 'satisfactory'
                    ELSE 'weak' END AS slotting_category,
               1.0 + (k % 5) AS res_maturity
        FROM slot),
      rated AS (
        SELECT c.*, c.res_maturity < 2.5 AS is_short,
               CASE WHEN c.res_maturity < 2.5 THEN r.rw_short ELSE r.rw_long END
                 AS slot_rw,
               CASE WHEN c.res_maturity < 2.5 THEN r.el_short ELSE r.el_long END
                 AS el_rate
        FROM cats c JOIN slot_rules r ON c.slotting_category = r.cat),
      rolled AS (
        SELECT is_short, slotting_category,
               count(*) AS n_exposures,
               ${sqlDsum("drawn_base", 2)} AS gross_on_bs,
               ${sqlDsum("undrawn_base", 2)} AS gross_off_bs,
               ${sqlDsum("ead_pre_crm", 2)} AS exposure_value,
               ${sqlDsum(sql2("ead_pre_crm * slot_rw"), 2)} AS rwea,
               ${sqlDsum(sql2("ead_pre_crm * el_rate"), 2)} AS expected_loss
        FROM rated
        GROUP BY ROLLUP(is_short, slotting_category))
      SELECT ax.row_ref, ax.slotting_category, ax.maturity_band,
             ax.fixed_rw_pct,
             coalesce(r.n_exposures, 0) AS n_exposures,
             coalesce(r.gross_on_bs, 0.0) AS gross_on_bs,
             coalesce(r.gross_off_bs, 0.0) AS gross_off_bs,
             r.exposure_value, r.rwea, r.expected_loss
      FROM axis ax
      LEFT JOIN (SELECT * FROM rolled WHERE is_short IS NOT NULL) r
        ON coalesce(r.slotting_category, 'TOTAL') = ax.slotting_category
       AND r.is_short = (ax.maturity_band = 'lt_2_5')
      ORDER BY ax.row_ref
      """.stripMargin.trim
    })

  // ---- CMS1 / CMS2 — modelled vs standardised comparison (B3.1) ------

  /** The modelled-leg IRB kernel derivation shared by q132/q133 — the
    * real `IrbKernel` B3.1 F-IRB branch (no 1.06 scaling, 40% senior
    * unsecured LGD, corporate correlation curve for both IRB-permitted
    * classes, FIRB defaulted → RW 0 with capital via EL) over
    * key-derived PD in [0.03, 0.12] — the q92 discipline that keeps the
    * oracle's Acklam CENTRAL-branch `norm_ppf` replica valid. */
  private def withModelledRwa(led: org.apache.spark.sql.DataFrame) = {
    import graft.engine.IrbKernel
    val k = expr("CAST(substring(exposure_reference, 5) AS BIGINT)")
    val pdM = lit(0.03) + (k % 10).cast("double") * lit(0.01)
    val matM = lit(1.0) + (k % 5).cast("double")
    val corrM = IrbKernel.correlationCorporate(pdM)
    val rwM = when(col("is_defaulted"), 0.0).otherwise(
      lit(0.40) * (IrbKernel.conditionalPd(pdM, corrM) - pdM) * lit(12.5) *
        IrbKernel.maturityAdjustment(pdM, matM))
    led
      .withColumn("is_modelled", col("approach") === "IRB")
      .withColumn("rwa_modelled_leg",
        when(col("approach") === "IRB", q2(rwM * col("ead_pre_crm")))
          .otherwise(0.0))
  }

  /** The DuckDB twin of [[withModelledRwa]]: CTE fragments appended after
    * the ledger's `final` — `cms` derives the kernel inputs, `cmsr` the
    * modelled RWA leg. */
  private val modelledCtesSql: String = {
    val g999 = graft.functions.NormalMath.normPpf(0.999)
    val af = s"((1.0 - exp(-50.0 * pd_m)) / ${1.0 - math.exp(-50.0)})"
    s"""cms AS (
        SELECT *,
               0.03 + (CAST(substr(exposure_reference, 5) AS BIGINT) % 10) * 0.01
                 AS pd_m,
               1.0 + (CAST(substr(exposure_reference, 5) AS BIGINT) % 5)
                 AS mat_m
        FROM final),
      cmsc AS (
        SELECT *, 0.12 * $af + 0.24 * (1.0 - $af) AS corr_m
        FROM cms),
      cmsr AS (
        SELECT *,
          CASE WHEN approach = 'IRB' THEN
            ${sql2(
              s"(CASE WHEN is_defaulted THEN 0.0 ELSE " +
              s"0.40 * ((${Rwa.sqlNormCdf(
                s"((${Rwa.sqlNormPpfCentral("pd_m")}) + sqrt(corr_m) * ($g999)) / sqrt(1.0 - corr_m)")})" +
              s" - pd_m) * 12.5 * " +
              s"((1.0 + (mat_m - 2.5) * pow(0.11852 - 0.05478 * ln(pd_m), 2.0))" +
              s" / (1.0 - 1.5 * pow(0.11852 - 0.05478 * ln(pd_m), 2.0))) END) * ead_pre_crm")}
          ELSE 0.0 END AS rwa_modelled_leg
        FROM cmsc)"""
  }

  /** q132: Pillar-3 CMS1 — modelled vs standardised RWEA by risk type
    * (reference `reporting/pillar3/cms1.py`; PS1/26 Art. 455(1)(a),
    * Basel 3.1 only). Semantics carried over exactly:
    *
    *  - The columns PARTITION each row (the reference's recorded
    *    2026-07-14 fix): col a is the modelled (IRB) population's actual
    *    RWEA, col b the COMPLEMENT — everything not modelled — never an
    *    SA allow-list; col c = a + b; col d re-computes the WHOLE row
    *    population under the standardised approach (the output-floor
    *    S-TREA basis — the ledger's own_rw_b31 weights for every row).
    *  - Row 10 is non-CCR credit risk, row 20 the CCR charge (bound,
    *    zero-filled — all-standardised in this book), rows 30-70 the
    *    FIXED all-null out-of-scope set ("null is not the same claim as
    *    0.0" — the reference's recorded decision), row 80 the total.
    *
    * The modelled leg is the REAL `IrbKernel` B3.1 branch — this sheet
    * is the one place the disclosure ties the kernel's modelled RWEA and
    * the ledger's standardised weights side by side. COMPOSITION like
    * OV1: the CCR row embeds q56/q105's own oracle SQL, so the sheet is
    * provably consistent with the queries it summarises. Scale shape:
    * ONE conditional aggregation over the persisted ledger; the CCR
    * components are q130's 1-row frame ([[ccrComponents]]), read from
    * the session's bundle when OV1 ran first, and broadcast into the
    * cross-join; the total sums horizontally — no data-sized shuffle
    * beyond the components' own.
    */
  val q132Cms1 = QueryDef(
    "q132_cms1",
    (s, dir) => {
      val credit = withModelledRwa(DomainPipeline.ledger(s, dir)).agg(
        dsum(col("rwa_modelled_leg"), 2).as("a_credit"),
        dsum(when(!col("is_modelled"), col("rwa_b31")).otherwise(0.0), 2)
          .as("b_credit"),
        dsum(col("rwa_b31"), 2).as("d_credit"))
      def h2(cols: Seq[Column]): Column =
        cols.map(_.cast(DecimalType(38, 2))).reduce(_ + _).cast("double")
      val wide = credit
        .crossJoin(broadcast(ccrComponents(s, dir)
          .select(col("ccr_rwea"), col("dfund_rwea"))))
        .withColumn("b_ccr", h2(Seq(col("ccr_rwea"), col("dfund_rwea"))))
        .withColumn("a_tot", col("a_credit"))
        .withColumn("b_tot", h2(Seq(col("b_credit"), col("b_ccr"))))
        .withColumn("d_tot", h2(Seq(col("d_credit"), col("b_ccr"))))
      wide.selectExpr(
        """stack(8,
             10, 'credit_risk',      a_credit,             b_credit,
                 d_credit,
             20, 'ccr',              CAST(0.0 AS DOUBLE),  b_ccr,
                 b_ccr,
             30, 'cva',              CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                 CAST(NULL AS DOUBLE),
             40, 'securitisation',   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                 CAST(NULL AS DOUBLE),
             50, 'market_risk',      CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                 CAST(NULL AS DOUBLE),
             60, 'operational_risk', CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                 CAST(NULL AS DOUBLE),
             70, 'residual',         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                 CAST(NULL AS DOUBLE),
             80, 'total',            a_tot,                b_tot,
                 d_tot)
           AS (row_ref, risk_type, rwea_modelled, rwea_standardised,
               sa_equivalent)""")
        .withColumn("rwea_total",
          when(col("rwea_modelled").isNotNull,
            h2(Seq(col("rwea_modelled"), col("rwea_standardised")))))
        .select(
          col("row_ref"), col("risk_type"), col("rwea_modelled"),
          col("rwea_standardised"), col("rwea_total"), col("sa_equivalent"))
        .orderBy(col("row_ref"))
    },
    Some {
      val h2sql = (cols: Seq[String]) =>
        "CAST(" + cols.map(c => s"CAST($c AS DECIMAL(38,2))").mkString(" + ") +
          " AS DOUBLE)"
      s"""
      WITH ${Domain.domainLedgerCtes},
      $modelledCtesSql,
      credit AS (
        SELECT
          ${sqlDsum("rwa_modelled_leg", 2)} AS a_credit,
          ${sqlDsum("CASE WHEN approach <> 'IRB' THEN rwa_b31 ELSE 0.0 END", 2)}
            AS b_credit,
          ${sqlDsum("rwa_b31", 2)} AS d_credit
        FROM cmsr),
      ccrq AS (
        SELECT ${sqlDsum(sql2("ns_addon * 1.4"), 2)} AS ccr_saccr
        FROM (${Ccr.q56SaCcrAddon.oracle.get}) t),
      dfund AS (
        SELECT ${sqlDsum("total_rwea", 2)} AS ccr_dfund
        FROM (${Ccr.q105DefaultFund.oracle.get}) t),
      wide AS MATERIALIZED (
        SELECT *,
          ${h2sql(Seq("ccr_saccr", "ccr_dfund"))} AS b_ccr
        FROM credit, ccrq, dfund),
      wide2 AS (
        SELECT *,
          a_credit AS a_tot,
          ${h2sql(Seq("b_credit", "b_ccr"))} AS b_tot,
          ${h2sql(Seq("d_credit", "b_ccr"))} AS d_tot
        FROM wide),
      sheet AS (
        SELECT 10 AS row_ref, 'credit_risk' AS risk_type,
               a_credit AS rwea_modelled, b_credit AS rwea_standardised,
               d_credit AS sa_equivalent FROM wide2
        UNION ALL SELECT 20, 'ccr', 0.0, b_ccr, b_ccr FROM wide2
        UNION ALL SELECT 30, 'cva', NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE
        UNION ALL SELECT 40, 'securitisation', NULL::DOUBLE, NULL::DOUBLE,
               NULL::DOUBLE
        UNION ALL SELECT 50, 'market_risk', NULL::DOUBLE, NULL::DOUBLE,
               NULL::DOUBLE
        UNION ALL SELECT 60, 'operational_risk', NULL::DOUBLE, NULL::DOUBLE,
               NULL::DOUBLE
        UNION ALL SELECT 70, 'residual', NULL::DOUBLE, NULL::DOUBLE,
               NULL::DOUBLE
        UNION ALL SELECT 80, 'total', a_tot, b_tot, d_tot FROM wide2)
      SELECT row_ref, risk_type, rwea_modelled, rwea_standardised,
             CASE WHEN rwea_modelled IS NOT NULL
                  THEN ${h2sql(Seq("rwea_modelled", "rwea_standardised"))} END
               AS rwea_total,
             sa_equivalent
      FROM sheet
      ORDER BY row_ref
      """.stripMargin.trim
    })

  /** q133: Pillar-3 CMS2 — modelled vs standardised RWEA by asset class
    * (reference `reporting/pillar3/cms2.py`; Basel 3.1 only). Rows key
    * the ORIGINATION class (the CR6-A obligor discipline — substitution
    * moves no row); col a is the class's modelled (IRB kernel) RWEA, col
    * b the SA recomputation of exactly that modelled population, col c
    * the row's TOTAL actual RWEA across all approaches (the reference's
    * recorded fix: modelled actual + standardised actual, never an
    * SA-only term), col d the full-SA recomputation of the whole class —
    * the per-class output-floor base. One ROLLUP shuffle emits the class
    * rows and the Total together from the single persisted-ledger pass.
    */
  val q133Cms2 = QueryDef(
    "q133_cms2",
    (s, dir) => {
      val led = withModelledRwa(DomainPipeline.ledger(s, dir))
      def h2(cols: Seq[Column]): Column =
        cols.map(_.cast(DecimalType(38, 2))).reduce(_ + _).cast("double")
      led.rollup(col("exposure_class"))
        .agg(
          count(lit(1)).as("n_exposures"),
          dsum(col("rwa_modelled_leg"), 2).as("rwea_modelled"),
          dsum(when(col("is_modelled"), col("rwa_b31")).otherwise(0.0), 2)
            .as("sa_equiv_modelled"),
          dsum(when(!col("is_modelled"), col("rwa_b31")).otherwise(0.0), 2)
            .as("sa_actual"),
          dsum(col("rwa_b31"), 2).as("sa_equiv_total"))
        .select(
          coalesce(col("exposure_class"), lit("TOTAL")).as("exposure_class"),
          col("n_exposures"), col("rwea_modelled"), col("sa_equiv_modelled"),
          h2(Seq(col("rwea_modelled"), col("sa_actual"))).as("rwea_total"),
          col("sa_equiv_total"))
        .coalesce(1)
        .orderBy(col("exposure_class"))
    },
    Some(s"""
      WITH ${Domain.domainLedgerCtes},
      $modelledCtesSql,
      rolled AS (
        SELECT exposure_class,
               count(*) AS n_exposures,
               ${sqlDsum("rwa_modelled_leg", 2)} AS rwea_modelled,
               ${sqlDsum("CASE WHEN approach = 'IRB' THEN rwa_b31 ELSE 0.0 END", 2)}
                 AS sa_equiv_modelled,
               ${sqlDsum("CASE WHEN approach <> 'IRB' THEN rwa_b31 ELSE 0.0 END", 2)}
                 AS sa_actual,
               ${sqlDsum("rwa_b31", 2)} AS sa_equiv_total
        FROM cmsr
        GROUP BY ROLLUP(exposure_class))
      SELECT coalesce(exposure_class, 'TOTAL') AS exposure_class,
             n_exposures, rwea_modelled, sa_equiv_modelled,
             CAST(CAST(rwea_modelled AS DECIMAL(38,2)) +
                  CAST(sa_actual AS DECIMAL(38,2)) AS DOUBLE) AS rwea_total,
             sa_equiv_total
      FROM rolled
      ORDER BY exposure_class
    """.stripMargin.trim))

  /** The fixed origination-class axis shared by the scope sheets (every
    * class the domain classifier can emit, plus the Total). */
  private val originClasses: Seq[String] =
    Seq("corporate", "institution", "retail", "sme_corporate", "sovereign")

  /** q137: Pillar-3 CR6-A — scope of the use of IRB and SA approaches
    * (reference `reporting/pillar3/cr6a.py`; CRR Art. 452(b), and the
    * C 08.07 COREP twin `corep/c08_07.py`). Rows key the ORIGINATION
    * class — deliberately NOT the applied Art. 112 basis: Art. 452(b)
    * discloses the extent of IRB use across the obligor population, and
    * the applied basis would silently drop defaulted-SA EAD out of every
    * class row while the Total kept it (the reference's recorded keying
    * decision). Col a = EAD on the IRB-family approaches, col b = EAD
    * across all approaches; the SA share is EXACTLY b − a (the approach
    * subsets partition the row); the roll-out-plan percentage is the
    * recorded constant 0.0 — roll-out plans are not pipeline data. Empty
    * class rows report a/b = 0.0 with null percentages. One conditional
    * ROLLUP pass over the persisted ledger; the 6-row axis left-joins
    * the broadcast roll-up.
    */
  val q137Cr6aScope = QueryDef(
    "q137_cr6a_scope",
    (s, dir) => {
      import s.implicits._
      val axis = (originClasses.zipWithIndex.map { case (c, i) => (i + 1, c) } :+
          ((originClasses.size + 1, "TOTAL")))
        .toDF("row_ref", "exposure_class")
      val rolled = broadcast(DomainPipeline.ledger(s, dir)
        .rollup(col("exposure_class"))
        .agg(
          dsum(when(col("approach") === "IRB", col("ead_pre_crm"))
            .otherwise(0.0), 2).as("ead_irb"),
          dsum(col("ead_pre_crm"), 2).as("ead_total"))
        .withColumn("cls_key", coalesce(col("exposure_class"), lit("TOTAL")))
        .drop("exposure_class"))
      axis.join(rolled, axis("exposure_class") === rolled("cls_key"), "left")
        .select(
          axis("row_ref"), axis("exposure_class"),
          coalesce(col("ead_irb"), lit(0.0)).as("ead_irb"),
          coalesce(col("ead_total"), lit(0.0)).as("ead_total"),
          when(col("ead_total") > 0,
            q6(col("ead_irb") / col("ead_total") * 100)).as("pct_irb"),
          when(col("ead_total") > 0,
            q6((col("ead_total") - col("ead_irb")) / col("ead_total") * 100))
            .as("pct_sa"),
          when(col("ead_total") > 0, lit(0.0)).as("pct_rollout"))
        .coalesce(1)
        .orderBy(col("row_ref"))
    },
    Some {
      val axisValues = (originClasses.zipWithIndex
        .map { case (c, i) => s"(${i + 1}, '$c')" } :+
        s"(${originClasses.size + 1}, 'TOTAL')").mkString(", ")
      s"""
      WITH ${Domain.domainLedgerCtes},
      axis(row_ref, exposure_class) AS (VALUES $axisValues),
      rolled AS (
        SELECT coalesce(exposure_class, 'TOTAL') AS cls_key,
               ${sqlDsum(
                 "CASE WHEN approach = 'IRB' THEN ead_pre_crm ELSE 0.0 END", 2)}
                 AS ead_irb,
               ${sqlDsum("ead_pre_crm", 2)} AS ead_total
        FROM final
        GROUP BY ROLLUP(exposure_class))
      SELECT ax.row_ref, ax.exposure_class,
             coalesce(r.ead_irb, 0.0) AS ead_irb,
             coalesce(r.ead_total, 0.0) AS ead_total,
             CASE WHEN r.ead_total > 0
                  THEN ${sql6("r.ead_irb / r.ead_total * 100")} END AS pct_irb,
             CASE WHEN r.ead_total > 0
                  THEN ${sql6("(r.ead_total - r.ead_irb) / r.ead_total * 100")}
                  END AS pct_sa,
             CASE WHEN r.ead_total > 0 THEN 0.0 END AS pct_rollout
      FROM axis ax LEFT JOIN rolled r ON r.cls_key = ax.exposure_class
      ORDER BY ax.row_ref
      """.stripMargin.trim
    })

  /** q138: COREP OF 02.01 — the output-floor comparison sheet (reference
    * `reporting/corep/of02.py`; Basel 3.1 only). Semantics carried over
    * exactly:
    *
    *  - **The columns PARTITION the book** (the reference's recorded
    *    2026-07-14 fix): col 0010 is the modelled-only portfolios'
    *    PRE-floor own-approach RWA (the IRB kernel leg), col 0020 the
    *    COMPLEMENT's actual standardised RWA — never an SA allow-list
    *    and never the S-TREA leg — and col 0030 = 0010 + 0020
    *    reconstitutes the portfolio BECAUSE they partition it.
    *  - Col 0040 is the S-TREA basis (the full-SA recomputation of the
    *    whole book), the floor is the fully-phased 72.5%, the floored
    *    TREA = max(0030, 72.5%·0040) and the add-on its excess over the
    *    unfloored total — the q52 identity over the REAL domain ledger.
    *
    * One conditional aggregation over the persisted ledger; the floor
    * arithmetic is horizontal on the single-row aggregate.
    */
  val q138Of0201 = QueryDef(
    "q138_of0201",
    (s, dir) => {
      val agg = withModelledRwa(DomainPipeline.ledger(s, dir)).agg(
        dsum(col("rwa_modelled_leg"), 2).as("rwa_modelled_only"),
        dsum(when(!col("is_modelled"), col("rwa_b31")).otherwise(0.0), 2)
          .as("rwa_standardised_only"),
        dsum(col("rwa_b31"), 2).as("s_trea"))
      def h2(cols: Seq[Column]): Column =
        cols.map(_.cast(DecimalType(38, 2))).reduce(_ + _).cast("double")
      agg
        .withColumn("rwa_total",
          h2(Seq(col("rwa_modelled_only"), col("rwa_standardised_only"))))
        .withColumn("floor_pct", lit(0.725))
        .withColumn("floored_trea",
          greatest(col("rwa_total"), q2(col("s_trea") * lit(0.725))))
        .withColumn("floor_addon",
          q2(greatest(lit(0.0), q2(col("s_trea") * lit(0.725)) - col("rwa_total"))))
        .withColumn("floor_binds", col("rwa_total") < q2(col("s_trea") * lit(0.725)))
        .select(
          col("rwa_modelled_only"), col("rwa_standardised_only"),
          col("rwa_total"), col("s_trea"), col("floor_pct"),
          col("floored_trea"), col("floor_addon"), col("floor_binds"))
    },
    Some(s"""
      WITH ${Domain.domainLedgerCtes},
      $modelledCtesSql,
      agg AS (
        SELECT
          ${sqlDsum("rwa_modelled_leg", 2)} AS rwa_modelled_only,
          ${sqlDsum("CASE WHEN approach <> 'IRB' THEN rwa_b31 ELSE 0.0 END", 2)}
            AS rwa_standardised_only,
          ${sqlDsum("rwa_b31", 2)} AS s_trea
        FROM cmsr),
      wide AS (
        SELECT *,
          CAST(CAST(rwa_modelled_only AS DECIMAL(38,2)) +
               CAST(rwa_standardised_only AS DECIMAL(38,2)) AS DOUBLE)
            AS rwa_total
        FROM agg)
      SELECT rwa_modelled_only, rwa_standardised_only, rwa_total, s_trea,
             0.725 AS floor_pct,
             greatest(rwa_total, ${sql2("s_trea * 0.725")}) AS floored_trea,
             ${sql2(s"greatest(0.0, ${sql2("s_trea * 0.725")} - rwa_total)")}
               AS floor_addon,
             rwa_total < ${sql2("s_trea * 0.725")} AS floor_binds
      FROM wide
    """.stripMargin.trim))

  /** q139: Pillar-3 CR7-A — extent of the use of CRM techniques on the
    * IRB book (reference `reporting/pillar3/cr7a.py`; CRR Art. 453(g)).
    * Per exposure class: total EAD, the unsecured remainder, the part
    * secured by ANY CRM, then the covered amount split by protection
    * kind — financial collateral, real-estate, other physical, and
    * unfunded guarantees — off the ledger's own waterfall decomposition
    * (`coll_covered`'s typed sub-carriers + `guar_covered`; the covered
    * splits re-sum to the secured total by the waterfall's conservation
    * law). One ROLLUP pass over the persisted IRB slice.
    */
  val q139Cr7aCrmExtent = QueryDef(
    "q139_cr7a_crm_extent",
    (s, dir) => {
      DomainPipeline.ledger(s, dir)
        .filter(col("approach") === "IRB")
        .rollup(col("exposure_class"))
        .agg(
          count(lit(1)).as("n_exposures"),
          dsum(col("ead_pre_crm"), 2).as("ead_total"),
          dsum(col("unsecured"), 2).as("ead_unsecured"),
          dsum(q2(col("coll_covered") + col("guar_covered")), 2)
            .as("ead_secured"),
          dsum(col("collateral_financial_value"), 2).as("secured_financial"),
          dsum(col("collateral_re_value"), 2).as("secured_real_estate"),
          dsum(col("collateral_other_value"), 2).as("secured_other_physical"),
          dsum(col("guar_covered"), 2).as("secured_guarantees"))
        .select(
          coalesce(col("exposure_class"), lit("TOTAL")).as("exposure_class"),
          col("n_exposures"), col("ead_total"), col("ead_unsecured"),
          col("ead_secured"), col("secured_financial"),
          col("secured_real_estate"), col("secured_other_physical"),
          col("secured_guarantees"))
        .coalesce(1)
        .orderBy(col("exposure_class"))
    },
    Some(s"""
      WITH ${Domain.domainLedgerCtes},
      rolled AS (
        SELECT exposure_class,
               count(*) AS n_exposures,
               ${sqlDsum("ead_pre_crm", 2)} AS ead_total,
               ${sqlDsum("unsecured", 2)} AS ead_unsecured,
               ${sqlDsum(sql2("coll_covered + guar_covered"), 2)} AS ead_secured,
               ${sqlDsum("collateral_financial_value", 2)} AS secured_financial,
               ${sqlDsum("collateral_re_value", 2)} AS secured_real_estate,
               ${sqlDsum("collateral_other_value", 2)} AS secured_other_physical,
               ${sqlDsum("guar_covered", 2)} AS secured_guarantees
        FROM final WHERE approach = 'IRB'
        GROUP BY ROLLUP(exposure_class))
      SELECT coalesce(exposure_class, 'TOTAL') AS exposure_class,
             n_exposures, ead_total, ead_unsecured, ead_secured,
             secured_financial, secured_real_estate, secured_other_physical,
             secured_guarantees
      FROM rolled
      ORDER BY exposure_class
    """.stripMargin.trim))

  // ---- q157: the Pillar-3 SA scope-of-use sheet ------------------------

  /** q157: the CR4 sheet computed over the `SaScope`-narrowed SA
    * credit-risk population (reference `reporting/pillar3/sa_scope.py`
    * + `cr4.py:60-75` — the scope runs BEFORE the template executes).
    *
    * The pre-scope population is deliberately polluted the way the
    * reference describes: the SA ledger rows (loan on-balance-sheet,
    * `facility_undrawn` with a NULL sealed side) unioned with the three
    * non-credit-risk synthetic leg families (SA-CCR netting sets, CCP
    * default-fund contributions, settlement failed trades), which carry
    * the standardised label and so pass a naive origin filter. The scope
    * then (a) drops the CCR legs over ALL columns — a row's RWEA never
    * covers exposure the on/off-balance-sheet split omits — and (b)
    * patches the commitment leg off-balance-sheet, so gross (a+b) and
    * post-CCF (c+d) columns cover the SAME rows and the sheet internally
    * reconciles.
    *
    * The memo rows make the exclusion non-vacuous: one census row per
    * excluded exposure_type with its row count and EAD, so the oracle
    * hash fails if the scope filter ever stops matching real rows.
    *
    * Scale shape: the scope is a pushed-down Column filter (no shuffle);
    * the sheet is ONE rollup over the scoped frame (class rows + total
    * from a single shuffle); the memo census aggregates the excluded
    * legs straight off the orders scan, without the ledger; the few
    * output rows are sorted in one partition.
    */
  val q157SaScope = QueryDef(
    "q157_sa_scope",
    (s, dir) => {
      val led = DomainPipeline.ledger(s, dir)
        .filter(col("approach") === "SA")
        .select(
          col("exposure_type"), col("exposure_class"),
          // the sealed side carrier: loan = on-BS; the commitment leg
          // stays null (belongs to neither side until a template decides)
          when(col("exposure_type") === "loan", lit(true))
            .cast("boolean").as("reporting_on_balance_sheet"),
          when(col("exposure_type") === "loan", col("drawn_base"))
            .otherwise(0.0).as("g_on"),
          when(col("exposure_type") === "facility_undrawn", col("undrawn_base"))
            .otherwise(0.0).as("g_off"),
          col("ead_pre_crm"), col("rwa"))
      val legKind = when(col("o_orderkey") % 7 === 3, "ccr_netting_set")
        .when(col("o_orderkey") % 97 === 0, "ccr_default_fund")
        .when(col("o_orderkey") % 53 === 1, "ccr_failed_trade")
      val legs = Tables.orders(s, dir)
        .select(
          legKind.as("exposure_type"), lit("corporate").as("exposure_class"),
          lit(null).cast("boolean").as("reporting_on_balance_sheet"),
          lit(0.0).as("g_on"), lit(0.0).as("g_off"),
          q2(col("o_totalprice") *
            when(col("o_orderkey") % 7 === 3, 0.05)
              .when(col("o_orderkey") % 97 === 0, 0.02)
              .otherwise(0.01)).as("ead_pre_crm"))
        .withColumn("rwa", col("ead_pre_crm"))
        .filter(col("exposure_type").isNotNull)
      val population = led.unionByName(legs)
      val scoped = SaScope.saCreditRiskPopulation(population)
      val sheet = scoped.rollup(col("exposure_class"))
        .agg(
          count(lit(1)).as("n_rows"),
          dsum(col("g_on"), 2).as("gross_on_bs"),
          dsum(col("g_off"), 2).as("gross_off_bs"),
          dsum(when(col("reporting_on_balance_sheet"), col("ead_pre_crm"))
            .otherwise(0.0), 2).as("ead_on_bs"),
          dsum(when(!col("reporting_on_balance_sheet"), col("ead_pre_crm"))
            .otherwise(0.0), 2).as("ead_off_bs"),
          dsum(col("rwa"), 2).as("rwea"))
        .select(
          coalesce(col("exposure_class"), lit("total")).as("row_id"),
          col("n_rows"), col("gross_on_bs"), col("gross_off_bs"),
          col("ead_on_bs"), col("ead_off_bs"), col("rwea"),
          when(col("ead_on_bs") + col("ead_off_bs") > 0,
            q6(col("rwea") / (col("ead_on_bs") + col("ead_off_bs"))))
            .as("rwea_density"),
          lit(null).cast("double").as("excluded_ead"))
      val memo = legs
        .filter(col("exposure_type").isin(SaScope.excludedExposureTypes: _*))
        .groupBy(col("exposure_type"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("ead_pre_crm"), 2).as("excluded_ead"))
        .select(
          concat(lit("memo_excluded:"), col("exposure_type")).as("row_id"),
          col("n_rows"),
          lit(null).cast("double").as("gross_on_bs"),
          lit(null).cast("double").as("gross_off_bs"),
          lit(null).cast("double").as("ead_on_bs"),
          lit(null).cast("double").as("ead_off_bs"),
          lit(null).cast("double").as("rwea"),
          lit(null).cast("double").as("rwea_density"),
          col("excluded_ead"))
      sheet.unionByName(memo).coalesce(1).orderBy(col("row_id"))
    },
    Some(s"""
      WITH ${Domain.domainLedgerCtes},
      x157legs AS (
        SELECT CASE WHEN o_orderkey % 7 = 3 THEN 'ccr_netting_set'
                    WHEN o_orderkey % 97 = 0 THEN 'ccr_default_fund'
                    WHEN o_orderkey % 53 = 1 THEN 'ccr_failed_trade' END
                 AS exposure_type,
               ${sql2("o_totalprice * (CASE WHEN o_orderkey % 7 = 3 THEN 0.05 " +
                 "WHEN o_orderkey % 97 = 0 THEN 0.02 ELSE 0.01 END)")} AS ead
        FROM orders
        WHERE o_orderkey % 7 = 3 OR o_orderkey % 97 = 0
           OR o_orderkey % 53 = 1),
      x157pop AS (
        SELECT exposure_class,
               exposure_type <> 'facility_undrawn' AS on_bs,
               CASE WHEN exposure_type = 'loan' THEN drawn_base
                    ELSE 0.0 END AS g_on,
               CASE WHEN exposure_type = 'facility_undrawn' THEN undrawn_base
                    ELSE 0.0 END AS g_off,
               ead_pre_crm, rwa
        FROM final WHERE approach = 'SA'),
      x157sheet AS (
        SELECT coalesce(exposure_class, 'total') AS row_id,
               count(*) AS n_rows,
               ${sqlDsum("g_on", 2)} AS gross_on_bs,
               ${sqlDsum("g_off", 2)} AS gross_off_bs,
               ${sqlDsum("CASE WHEN on_bs THEN ead_pre_crm ELSE 0.0 END", 2)}
                 AS ead_on_bs,
               ${sqlDsum("CASE WHEN NOT on_bs THEN ead_pre_crm ELSE 0.0 END", 2)}
                 AS ead_off_bs,
               ${sqlDsum("rwa", 2)} AS rwea
        FROM x157pop GROUP BY ROLLUP (exposure_class))
      SELECT row_id, n_rows, gross_on_bs, gross_off_bs, ead_on_bs, ead_off_bs,
             rwea,
             CASE WHEN ead_on_bs + ead_off_bs > 0
                  THEN ${sql6("rwea / (ead_on_bs + ead_off_bs)")} END
               AS rwea_density,
             CAST(NULL AS DOUBLE) AS excluded_ead
      FROM x157sheet
      UNION ALL
      SELECT 'memo_excluded:' || exposure_type, count(*),
             NULL, NULL, NULL, NULL, NULL, NULL,
             ${sqlDsum("ead", 2)}
      FROM x157legs GROUP BY exposure_type
      ORDER BY row_id
    """.stripMargin.trim))

  // ---- q161: CR5 full published geometry -------------------------------

  /** The published CRR CR5 risk-weight bands (reference `templates.py`
    * CRR_CR5_RISK_WEIGHTS — 14 bands; weights outside the band set fall
    * into the Other/Deducted residual). */
  private[graft] val cr5Bands: Seq[(String, Double)] = Seq(
    "b000" -> 0.00, "b002" -> 0.02, "b004" -> 0.04, "b010" -> 0.10,
    "b020" -> 0.20, "b035" -> 0.35, "b050" -> 0.50, "b070" -> 0.70,
    "b075" -> 0.75, "b100" -> 1.00, "b150" -> 1.50, "b250" -> 2.50,
    "b370" -> 3.70, "b1250" -> 12.50)

  /** q161: Pillar-3 CR5 — SA exposure values by risk-weight band, the
    * full published CRR geometry (reference `reporting/pillar3/cr5.py`;
    * CRR Art. 444(e)). The recorded cell semantics carried over:
    *
    *  - the population is the `SaScope`-narrowed SA book (the scope runs
    *    BEFORE execution, `cr5.py:12-20` — a no-op on the sealed ledger,
    *    which carries no CCR legs, but the pipeline position is the
    *    contract);
    *  - CR5 carries ONLY post-CCF/post-CRM figures, banded on the
    *    APPLIED weight per CRM leg: the collateralised slice at the flat
    *    collateral weight, the unsecured slice at the obligor weight,
    *    and a guarantee leg that actually substitutes
    *    (guarantor_rw < own_rw, the q129 `applied` discipline) lands in
    *    the protection provider's row — institutions in this rulebook —
    *    at the substituted weight (C 07.00 col 0200 basis, ¶56A);
    *  - band matching uses the generator-heritage ±0.5pp half-open
    *    window; weights with no published band (this vocabulary's 30%
    *    institution and 85% SME grades) fall into the Other/Deducted
    *    residual, computed as the Formula max(0, Total − Σ bands) on
    *    horizontal decimal sums;
    *  - "of which: unrated" keys the obligor's own external-rating
    *    carrier (null `own_cqs`), kept on EVERY leg including the
    *    substituted one — the reference's recorded limitation (a rated
    *    guarantor's leg from an unrated obligor counts unrated;
    *    unrated ≤ Total still holds, `cr5.py:41-53`).
    *
    * Scale shape: three leg rows per ledger row from one scan (an
    * explode of a 3-element array, no join, no union); the legs group
    * by (class, weight, rated) with ONE decimal sum each, then ONE
    * rollup over those few groups evaluates the 16 band sums for class
    * rows + total; the output is sorted in one partition.
    */
  /** The CR5 per-CRM-leg fan over a (scoped) SA ledger frame — shared by
    * the q161 sheet build and the lineage cell drill. */
  private[graft] def cr5Legs(led: DataFrame): DataFrame = {
    val applied = col("guar_covered") > 0 && col("guarantor_rw").isNotNull &&
      col("guarantor_rw") < col("own_rw")
    def leg(rowClass: Column, legRw: Column, ev: Column): Column =
      struct(rowClass.as("row_class"), legRw.as("leg_rw"), ev.as("ev"))
    led.select(col("exposure_reference"), col("own_cqs"), explode(array(
        leg(col("exposure_class"), lit(DomainPipeline.collateralRw),
          col("coll_covered")),
        leg(when(applied, "institution").otherwise(col("exposure_class")),
          when(applied, col("guarantor_rw")).otherwise(col("own_rw")),
          col("guar_covered")),
        leg(col("exposure_class"), col("own_rw"), col("unsecured")))).as("leg"))
      .select(col("exposure_reference"), col("leg.row_class"),
        col("leg.leg_rw"), col("leg.ev"), col("own_cqs"))
  }

  val q161Pillar3Cr5 = QueryDef(
    "q161_pillar3_cr5",
    (s, dir) => {
      val led = graft.operators.SaScope.saCreditRiskPopulation(
        DomainPipeline.ledger(s, dir).filter(col("approach") === "SA"))
      // two levels (the TemplateGenerator.wideRow shape): each (class,
      // weight, rated) group sums its legs once, then every band sums the
      // groups on its weight — exact, as the band and rating predicates
      // are constant within a group
      val legs = cr5Legs(led)
        .groupBy(col("row_class"), col("leg_rw"), col("own_cqs").isNull.as("unrated"))
        .agg(sum(col("ev").cast(DecimalType(38, 2))).as("ev"))
      def dsumWhen(pred: Column): Column =
        sum(when(pred, col("ev")).otherwise(lit(0).cast(DecimalType(38, 2))))
          .cast("double")
      val bandAggs = cr5Bands.map { case (name, w) =>
        dsumWhen(abs(col("leg_rw") - w) < 0.005).as(name)
      }
      val rolled = legs.rollup(col("row_class"))
        .agg(bandAggs.head,
          (bandAggs.tail :+
            sum(col("ev")).cast("double").as("total_ev") :+
            dsumWhen(col("unrated")).as("unrated_ev")): _*)
      val bandSum = cr5Bands.map { case (name, _) =>
        col(name).cast(DecimalType(38, 2)) }.reduce(_ + _).cast("double")
      rolled.select(
        (coalesce(col("row_class"), lit("total")).as("row_id") +:
          cr5Bands.map { case (name, _) => col(name) }) :+
          greatest(lit(0.0), col("total_ev") - bandSum).as("other_deducted") :+
          col("total_ev") :+ col("unrated_ev"): _*)
        .coalesce(1)
        .orderBy(col("row_id"))
    },
    Some {
      val bandCols = cr5Bands.map { case (name, w) =>
        s"${sqlDsum(s"CASE WHEN abs(leg_rw - ${d(w)}) < 0.005 THEN ev ELSE 0.0 END", 2)} AS $name"
      }.mkString(",\n               ")
      val bandSum = "CAST(" + cr5Bands.map { case (name, _) =>
        s"CAST($name AS DECIMAL(38,2))" }.mkString(" + ") + " AS DOUBLE)"
      val bandNames = cr5Bands.map(_._1).mkString(", ")
      s"""
      WITH ${Domain.domainLedgerCtes},
      cr5sa AS MATERIALIZED (
        SELECT exposure_class, own_cqs, own_rw, guarantor_rw,
               coll_covered, guar_covered, unsecured,
               (guar_covered > 0 AND guarantor_rw IS NOT NULL
                 AND guarantor_rw < own_rw) AS applied
        FROM final WHERE approach = 'SA'),
      cr5legs AS (
        SELECT exposure_class AS row_class,
               ${d(DomainPipeline.collateralRw)} AS leg_rw,
               coll_covered AS ev, own_cqs
        FROM cr5sa
        UNION ALL
        SELECT CASE WHEN applied THEN 'institution' ELSE exposure_class END,
               CASE WHEN applied THEN guarantor_rw ELSE own_rw END,
               guar_covered, own_cqs
        FROM cr5sa
        UNION ALL
        SELECT exposure_class, own_rw, unsecured, own_cqs
        FROM cr5sa),
      cr5rolled AS (
        SELECT coalesce(row_class, 'total') AS row_id,
               $bandCols,
               ${sqlDsum("ev", 2)} AS total_ev,
               ${sqlDsum("CASE WHEN own_cqs IS NULL THEN ev ELSE 0.0 END", 2)}
                 AS unrated_ev
        FROM cr5legs GROUP BY ROLLUP (row_class))
      SELECT row_id, $bandNames,
             greatest(0.0, total_ev - $bandSum) AS other_deducted,
             total_ev, unrated_ev
      FROM cr5rolled
      ORDER BY row_id
    """.stripMargin.trim
    })

  val all: Seq[QueryDef] = Seq(
    q120Pillar3Cr6, q122Cr8Flow, q123Cr7CrmEffects, q130Ov1Overview,
    q131Cr10Slotting, q132Cms1, q133Cms2, q137Cr6aScope, q138Of0201,
    q139Cr7aCrmExtent, q157SaScope, q161Pillar3Cr5)
}
