package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.DomainPipeline
import graft.rulebook.SaRwCascade
import graft.sources.Tables
import Q._

/** The composed domain-pipeline battery: the full reference pipeline
  * (derive → conform → unify → FX → hierarchy → classify → CCF → CRM
  * waterfall → SA risk weights → supporting factors → aggregate) as ONE
  * oracle-checked query. The DuckDB oracle replicates every stage as a
  * CTE chain whose rule tables are GENERATED from the same Scala rule
  * data `DomainPipeline` compiles for Spark — one source of truth, two
  * engines (reference `engine/registry.py:46-58`,
  * `engine/pipeline.py:184-210`).
  */
object Domain {

  // ---- SQL fragments generated from the shared rule data ---------------

  private def d(v: Double): String = s"CAST($v AS DOUBLE)"

  private val sectorValues = DomainPipeline.sectorMap
    .map { case (seg, sec) => s"('$seg', '$sec')" }.mkString(", ")
  private val fxValues = DomainPipeline.fxTable
    .map { case (r, c, v) => s"('$r', '$c', ${d(v)})" }.mkString(", ")
  private val ccfValues = DomainPipeline.ccfTable
    .map { case (t, v) => s"('$t', ${d(v)})" }.mkString(", ")
  private val haircutValues = DomainPipeline.haircutTable
    .map { case (t, v) => s"('$t', ${d(v)})" }.mkString(", ")
  private val collTypeValues = DomainPipeline.collTypeByMod
    .map { case (m, t) => s"($m, '$t')" }.mkString(", ")
  private val rwValues = DomainPipeline.rwTable
    .map { case (c, q, w) => s"('$c', $q, ${d(w)})" }.mkString(", ")
  private val rwValuesB31 = DomainPipeline.rwTableB31
    .map { case (c, q, w) => s"('$c', $q, ${d(w)})" }.mkString(", ")
  private val sovereignList = DomainPipeline.sovereignCountries
    .map(c => s"'$c'").mkString(", ")
  private val guarantorRwCase = DomainPipeline.rwTable
    .filter(_._1 == "institution")
    .map { case (_, q, w) => s"WHEN guarantor_cqs = $q THEN ${d(w)}" }
    .mkString("CASE ", " ", s" ELSE ${d(1.0)} END")

  /** The oracle replica of `DomainPipeline.ledger` as a reusable CTE
    * chain (ends at `final` = the per-exposure ledger) — shared by q90's
    * summary and q94's COREP template so both gates replicate the SAME
    * pipeline. */
  private[queries] val domainLedgerCtes: String = s"""sector_map(segment, sector) AS (VALUES $sectorValues),
      fx(fx_region, currency, fx_rate) AS (VALUES $fxValues),
      ccf_rules(ccf_type, ccf) AS (VALUES $ccfValues),
      haircut_rules(hc_type, haircut) AS (VALUES $haircutValues),
      coll_type_map(mod_key, ct) AS (VALUES $collTypeValues),
      rw_rules(rw_class, rw_cqs, rw) AS (VALUES $rwValues),
      rw_rules_b31(b31_class, b31_cqs, rw_b31) AS (VALUES $rwValuesB31),
      ratings AS (
        SELECT 'CP-' || CAST(c_custkey AS VARCHAR) AS counterparty_reference,
               ag.agency AS rating_agency,
               1 + (c_custkey + ag.agency * 7) % 6 AS cqs
        FROM customer CROSS JOIN (VALUES (0), (1), (2)) AS ag(agency)
        WHERE c_acctbal >= 0 AND ag.agency <= c_custkey % 3),
      best_rating AS (
        SELECT counterparty_reference, cqs AS own_cqs FROM (
          SELECT *, row_number() OVER (
            PARTITION BY counterparty_reference
            ORDER BY cqs, rating_agency) AS rn
          FROM ratings)
        WHERE rn = 1),
      cpty AS (
        SELECT 'CP-' || CAST(c_custkey AS VARCHAR) AS counterparty_reference,
               'GRP-' || CAST(n_nationkey AS VARCHAR) AS parent_group,
               n_nationkey AS country_key,
               coalesce(sm.sector, 'corporate') AS sector,
               n_name AS country, r_name AS region_name,
               c_acctbal * 10000.0 AS turnover,
               br.own_cqs
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        LEFT JOIN sector_map sm ON c_mktsegment = sm.segment
        LEFT JOIN best_rating br
          ON br.counterparty_reference = 'CP-' || CAST(c_custkey AS VARCHAR)),
      expo AS (
        SELECT 'ORD-' || CAST(o_orderkey AS VARCHAR) AS exposure_reference,
               'loan' AS exposure_type,
               'CP-' || CAST(o_custkey AS VARCHAR) AS counterparty_reference,
               o_totalprice AS drawn, 0.0 AS undrawn,
               (o_orderkey % 41 = 0) AS is_defaulted
        FROM orders
        UNION ALL
        SELECT 'FAC-' || CAST(o_orderkey AS VARCHAR),
               'facility_undrawn',
               'CP-' || CAST(o_custkey AS VARCHAR),
               0.0, o_totalprice * 0.25,
               (o_orderkey % 41 = 0)
        FROM orders WHERE o_orderstatus = 'O'),
      enriched AS (
        SELECT e.*, c.parent_group, c.country_key, c.sector, c.country,
               c.turnover, c.own_cqs, f.fx_rate
        FROM expo e
        LEFT JOIN cpty c USING (counterparty_reference)
        LEFT JOIN fx f ON c.region_name = f.fx_region),
      fxconv AS (
        SELECT *, ${sql2("drawn * fx_rate")} AS drawn_base,
               ${sql2("undrawn * fx_rate")} AS undrawn_base
        FROM enriched),
      hier AS (
        SELECT *,
          ${sqlDsumOver("drawn_base", 2, "PARTITION BY parent_group")} AS group_drawn,
          min(own_cqs) OVER (PARTITION BY parent_group) AS group_best_cqs
        FROM fxconv),
      eff AS (
        SELECT *, coalesce(own_cqs, group_best_cqs, 4) AS effective_cqs
        FROM hier),
      classified AS (
        SELECT *,
          CASE WHEN country IN ($sovereignList) AND effective_cqs <= 2
                 THEN 'sovereign'
               WHEN sector = 'individual' AND drawn_base < 100000 THEN 'retail'
               WHEN sector = 'institution' THEN 'institution'
               WHEN turnover < 50000000.0 THEN 'sme_corporate'
               ELSE 'corporate' END AS exposure_class
        FROM eff),
      approached AS (
        SELECT *,
          CASE WHEN country_key % 2 = 0
                AND exposure_class IN ('corporate', 'institution')
               THEN 'IRB' ELSE 'SA' END AS approach
        FROM classified),
      eadc AS (
        SELECT a.*, coalesce(ccf, 1.0) AS ccf_eff,
               ${sql2("drawn_base + undrawn_base * coalesce(ccf, 1.0)")} AS ead_gross
        FROM approached a LEFT JOIN ccf_rules ON exposure_type = ccf_type),
      prov_direct AS (
        SELECT 'ORD-' || CAST(l_orderkey AS VARCHAR) AS pd_ref,
               ${sqlDsum(sql2("l_extendedprice * 0.10"), 2)} AS prov_direct
        FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1),
      prov_cp AS (
        SELECT 'CP-' || CAST(c_custkey AS VARCHAR) AS pc_ref,
               ${sqlDsum(sql2("-c_acctbal * 50.0"), 2)} AS prov_cp
        FROM customer WHERE c_acctbal < 0 GROUP BY 1),
      provj AS (
        SELECT e.*, pd.prov_direct, pc.prov_cp,
               ${sqlDsumOver("ead_gross", 2, "PARTITION BY counterparty_reference")} AS cp_basis
        FROM eadc e
        LEFT JOIN prov_direct pd ON e.exposure_reference = pd.pd_ref
        LEFT JOIN prov_cp pc ON e.counterparty_reference = pc.pc_ref),
      prova AS (
        SELECT *, ${sql2(
          "coalesce(prov_direct, 0.0) + (CASE WHEN cp_basis > 0 THEN " +
          sql2("coalesce(prov_cp, 0.0) * ead_gross / cp_basis") +
          " ELSE 0.0 END)")} AS provision_allocated
        FROM provj),
      provb AS (
        SELECT *, CASE WHEN approach = 'SA'
                       THEN least(provision_allocated, greatest(drawn_base, 0.0))
                       ELSE 0.0 END AS provision_on_drawn
        FROM prova),
      provc AS (
        SELECT *, CASE WHEN approach = 'SA'
                       THEN least(greatest(provision_allocated - provision_on_drawn, 0.0),
                                  undrawn_base)
                       ELSE 0.0 END AS provision_on_nominal
        FROM provb),
      provd AS (
        SELECT *, ${sql2("provision_on_drawn + provision_on_nominal")} AS provision_deducted,
               ${sql2(
                 "greatest(drawn_base - provision_on_drawn, 0.0) + " +
                 "(undrawn_base - provision_on_nominal) * ccf_eff")} AS ead_pre_crm
        FROM provc),
      ownrw AS (
        SELECT e.*,
          CASE WHEN e.is_defaulted AND e.approach = 'SA'
               THEN CASE WHEN e.provision_allocated >= e.ead_gross * 0.2
                         THEN 1.0 ELSE 1.5 END
               ELSE coalesce(r.rw, 1.0) END AS own_rw,
          CASE WHEN e.is_defaulted AND e.approach = 'SA'
               THEN CASE WHEN e.provision_allocated >= e.ead_gross * 0.2
                         THEN 1.0 ELSE 1.5 END
               ELSE coalesce(rb.rw_b31, 1.0) END AS own_rw_b31
        FROM provd e
        LEFT JOIN rw_rules r
          ON e.exposure_class = r.rw_class AND e.effective_cqs = r.rw_cqs
        LEFT JOIN rw_rules_b31 rb
          ON e.exposure_class = rb.b31_class AND e.effective_cqs = rb.b31_cqs),
      coll_items AS (
        SELECT 'ORD-' || CAST(l_orderkey AS VARCHAR) AS exposure_reference,
               1 AS priority,
               'COLL-' || CAST(l_orderkey AS VARCHAR) || '-' ||
                 CAST(l_linenumber AS VARCHAR) AS item_ref,
               coalesce(m.ct, 'other') AS coll_type,
               l_extendedprice * 0.5 AS market_value
        FROM lineitem LEFT JOIN coll_type_map m ON l_partkey % 5 = m.mod_key
        WHERE l_returnflag = 'R'),
      guar_items AS (
        SELECT 'ORD-' || CAST(l_orderkey AS VARCHAR) AS exposure_reference,
               2 AS priority,
               'G-' || CAST(l_orderkey AS VARCHAR) AS item_ref,
               1 + l_suppkey % 4 AS guarantor_cqs,
               CASE WHEN l_tax > 0.04 THEN 0.75 ELSE 0.5 END AS coverage_pct
        FROM lineitem WHERE l_linenumber = 1 AND l_discount >= 0.05),
      items AS (
        SELECT ci.exposure_reference, ci.priority, ci.item_ref, ci.coll_type,
               ${sql2("ci.market_value * o.fx_rate * (1.0 - coalesce(h.haircut, 0.40))")} AS amount,
               NULL::DOUBLE AS guarantor_rw,
               o.ead_pre_crm
        FROM coll_items ci
        JOIN ownrw o USING (exposure_reference)
        LEFT JOIN haircut_rules h ON ci.coll_type = h.hc_type
        UNION ALL
        SELECT gi.exposure_reference, gi.priority, gi.item_ref,
               NULL::VARCHAR AS coll_type,
               ${sql2("gi.coverage_pct * o.ead_pre_crm")} AS amount,
               $guarantorRwCase AS guarantor_rw,
               o.ead_pre_crm
        FROM guar_items gi JOIN ownrw o USING (exposure_reference)),
      wf AS (
        SELECT *,
          ${sqlDsumOver("amount", 2,
            "PARTITION BY exposure_reference " +
            "ORDER BY priority, item_ref, coll_type, amount, guarantor_rw " +
            "ROWS UNBOUNDED PRECEDING")} AS cum
        FROM items),
      alloc AS (
        SELECT *,
          ${sql2("greatest(0.0, least(amount, ead_pre_crm - (cum - amount)))")} AS allocated
        FROM wf),
      per_exposure AS (
        SELECT exposure_reference,
          ${sqlDsum("CASE WHEN priority = 1 THEN allocated ELSE 0.0 END", 2)} AS coll_covered,
          ${sqlDsum(
            "CASE WHEN priority = 1 AND coll_type IN ('financial', 'gold') " +
            "THEN allocated ELSE 0.0 END", 2)} AS collateral_financial_value,
          ${sqlDsum(
            "CASE WHEN priority = 1 AND coll_type IN ('re_residential', 're_commercial') " +
            "THEN allocated ELSE 0.0 END", 2)} AS collateral_re_value,
          ${sqlDsum(
            "CASE WHEN priority = 1 AND coll_type = 'other' " +
            "THEN allocated ELSE 0.0 END", 2)} AS collateral_other_value,
          ${sqlDsum("CASE WHEN priority = 2 THEN allocated ELSE 0.0 END", 2)} AS guar_covered,
          max(guarantor_rw) AS guarantor_rw
        FROM alloc GROUP BY exposure_reference),
      ledger AS (
        SELECT o.*,
          coalesce(p.coll_covered, 0.0) AS coll_covered,
          coalesce(p.collateral_financial_value, 0.0) AS collateral_financial_value,
          coalesce(p.collateral_re_value, 0.0) AS collateral_re_value,
          coalesce(p.collateral_other_value, 0.0) AS collateral_other_value,
          coalesce(p.guar_covered, 0.0) AS guar_covered,
          p.guarantor_rw,
          greatest(0.0, ${sql2(
            "o.ead_pre_crm - coalesce(p.coll_covered, 0.0) - coalesce(p.guar_covered, 0.0)")})
            AS unsecured
        FROM ownrw o LEFT JOIN per_exposure p USING (exposure_reference)),
      rwac AS (
        SELECT *,
          ${sql2(s"coll_covered * ${DomainPipeline.collateralRw}")} +
          ${sql2("guar_covered * least(own_rw, coalesce(guarantor_rw, own_rw))")} +
          ${sql2("unsecured * own_rw")} AS rwa_pre_sf,
          ${sql2(s"coll_covered * ${DomainPipeline.collateralRw}")} +
          ${sql2("guar_covered * least(own_rw_b31, coalesce(guarantor_rw, own_rw_b31))")} +
          ${sql2("unsecured * own_rw_b31")} AS rwa_pre_sf_b31
        FROM ledger),
      sfd AS (
        SELECT *,
          CASE WHEN exposure_class = 'sme_corporate' THEN
                 CASE WHEN group_drawn <= 1500000 THEN 0.7619
                      WHEN group_drawn <= 3000000 THEN 0.85
                      ELSE 1.0 END
               ELSE 1.0 END AS sf_factor
        FROM rwac),
      final AS (SELECT *, ${sql2("rwa_pre_sf * sf_factor")} AS rwa,
                       ${sql2("rwa_pre_sf_b31 * sf_factor")} AS rwa_b31 FROM sfd)""".stripMargin.trim

  /** q90: the composed flagship. Single plan: orders scanned for the
    * exposure side, lineitem for the CRM book; counterparty joins
    * broadcast, rule tables are CASE expressions; the CRM item join, the
    * per-exposure waterfall window, and the final summary are the only
    * data-sized shuffles. The summary is planned afresh over the memoised
    * ledger on each call (not the API's memoised summary), so every run
    * of q90 aggregates the ledger.
    */
  val q90DomainPipeline = QueryDef(
    "q90_domain_pipeline",
    (s, dir) => DomainPipeline.summarise(DomainPipeline.ledger(s, dir)),
    Some(s"""
      WITH $domainLedgerCtes,
      summary AS (
        SELECT exposure_class, approach, count(*) AS n_exposures,
               ${sqlDsum("ead_pre_crm", 2)} AS total_ead,
               ${sqlDsum("coll_covered", 2)} AS collateral_covered,
               ${sqlDsum("guar_covered", 2)} AS guarantee_covered,
               ${sqlDsum("unsecured", 2)} AS unsecured_ead,
               ${sqlDsum("provision_deducted", 2)} AS provisions_deducted,
               ${sqlDsum("rwa", 2)} AS total_rwa
        FROM final GROUP BY exposure_class, approach),
      tot AS (SELECT ${sqlDsum("rwa", 2)} AS portfolio_rwa FROM final)
      SELECT exposure_class, approach, n_exposures, total_ead,
             collateral_covered, guarantee_covered, unsecured_ead,
             provisions_deducted, total_rwa,
             ${sql6("total_rwa / portfolio_rwa")} AS rwa_share
      FROM summary CROSS JOIN tot
      ORDER BY exposure_class, approach
    """.stripMargin.trim))

  // ---- q85: model-permission routing ----------------------------------

  /** q85: the permission-mode approach routing in isolation — the grants
    * table (one IRB approval per model_id + exposure_class + geography,
    * reference `api/service.py:47-53` permission modes), and the routed
    * (class, approach) census after the broadcast grant join with SA
    * fallback. The oracle rebuilds both from the same star schema. */
  val q85ModelPermissions = QueryDef(
    "q85_model_permissions",
    (s, dir) => {
      val grants = DomainPipeline.modelPermissions(s, dir)
      val grantRows = grants.select(
        lit("grant").as("section"), col("model_id"),
        col("perm_class").as("exposure_class"),
        col("perm_country").as("country"),
        lit(null).cast("string").as("approach"),
        lit(null).cast("long").as("n"))
      val routed = DomainPipeline.ledger(s, dir)
        .groupBy(col("exposure_class"), col("approach"))
        .agg(count(lit(1)).as("n"))
        .select(lit("routing").as("section"),
          lit(null).cast("string").as("model_id"), col("exposure_class"),
          lit(null).cast("string").as("country"), col("approach"), col("n"))
      grantRows.unionByName(routed).orderBy(
        col("section"), coalesce(col("model_id"), lit("")),
        col("exposure_class"), coalesce(col("country"), lit("")),
        coalesce(col("approach"), lit("")))
    },
    Some(s"""
      WITH $domainLedgerCtes,
      grants AS (
        SELECT 'IRB-' || upper(substring(cls, 1, 4)) || '-1' AS model_id,
               cls AS exposure_class, n_name AS country
        FROM nation CROSS JOIN (VALUES ('corporate'), ('institution')) AS t(cls)
        WHERE n_nationkey % 2 = 0)
      SELECT * FROM (
        SELECT 'grant' AS section, model_id, exposure_class, country,
               CAST(NULL AS VARCHAR) AS approach, CAST(NULL AS BIGINT) AS n
        FROM grants
        UNION ALL
        SELECT 'routing', CAST(NULL AS VARCHAR), exposure_class,
               CAST(NULL AS VARCHAR), approach, count(*)
        FROM final GROUP BY exposure_class, approach)
      ORDER BY section, coalesce(model_id, ''), exposure_class,
               coalesce(country, ''), coalesce(approach, '')
    """.stripMargin.trim))

  // ---- q86: two-run (parallel-run) comparison --------------------------

  private val comparisonGrid = Seq("corporate", "equity", "institution",
    "retail", "sme_corporate", "sovereign")

  /** q86: base-vs-candidate framework comparison (reference
    * `analysis/comparison.py`): the base regime and the B3.1-style
    * candidate rulepack are evaluated as SHADOW COLUMNS in one ledger
    * pass (the reference runs the pipeline once per framework; at 100 TB
    * one scan computing both regimes dominates two runs), then
    * `Comparison.compareRuns` full-outer-joins the per-class run results
    * and `scaffoldSummary` projects them onto the complete report grid —
    * including the `equity` cell absent from both runs — with broadcast
    * 1-row totals and share-of-delta. */
  val q86RunComparison = QueryDef(
    "q86_run_comparison",
    (s, dir) => {
      import s.implicits._
      import graft.analysis.Comparison
      // `runs` (a ~6-row per-class aggregate) is a DIAMOND: base + cand
      // + the scaffold's two total branches all consume it. Persist the
      // tiny aggregate so the ledger subtree executes exactly once per
      // run even when the ledger cache itself is cold — without it the
      // four branches could each re-drive the full ledger fill
      // (bench-observed bimodal 1.0 s / 6.2 s depending on cache state).
      val runs = DomainPipeline.ledger(s, dir)
        .groupBy(col("exposure_class"))
        .agg(dsum(col("rwa"), 2).as("rwa_base_m"),
             dsum(col("rwa_b31"), 2).as("rwa_cand_m"))
        .transform(graft.SessionScope.persist)
      val base = runs.select(col("exposure_class"), col("rwa_base_m").as("rwa"))
      val cand = runs.select(col("exposure_class"), col("rwa_cand_m").as("rwa"))
      val recon = Comparison.compareRuns(
        base, cand, Seq("exposure_class"), Seq("rwa"))
      val grid = broadcast(comparisonGrid.toDF("exposure_class"))
      Comparison.scaffoldSummary(recon, grid, Seq("exposure_class"), Seq("rwa"))
        .select(col("exposure_class"), col("rwa_base"), col("rwa_cand"),
          col("in_base"), col("in_cand"), col("delta_rwa"), col("pct_rwa"),
          col("total_rwa_base"), col("total_delta_rwa"),
          col("share_of_delta_rwa"))
        .orderBy(col("exposure_class"))
    },
    Some(s"""
      WITH $domainLedgerCtes,
      base AS (
        SELECT exposure_class, ${sqlDsum("rwa", 2)} AS rwa
        FROM final GROUP BY exposure_class),
      cand AS (
        SELECT exposure_class, ${sqlDsum("rwa_b31", 2)} AS rwa
        FROM final GROUP BY exposure_class),
      recon AS (
        SELECT coalesce(b.exposure_class, c.exposure_class) AS exposure_class,
               b.rwa AS rwa_base, c.rwa AS rwa_cand,
               b.exposure_class IS NOT NULL AS in_base,
               c.exposure_class IS NOT NULL AS in_cand,
               coalesce(c.rwa, 0.0) - coalesce(b.rwa, 0.0) AS delta_rwa,
               CASE WHEN abs(coalesce(b.rwa, 0.0)) > 1e-10 THEN
                 ${sql6("(coalesce(c.rwa, 0.0) - coalesce(b.rwa, 0.0)) / b.rwa")}
               END AS pct_rwa
        FROM base b FULL OUTER JOIN cand c ON b.exposure_class = c.exposure_class),
      grid(exposure_class) AS (VALUES ${comparisonGrid.map(c => s"('$c')").mkString(", ")}),
      filled AS (
        SELECT g.exposure_class,
               coalesce(r.rwa_base, 0.0) AS rwa_base,
               coalesce(r.rwa_cand, 0.0) AS rwa_cand,
               coalesce(r.in_base, false) AS in_base,
               coalesce(r.in_cand, false) AS in_cand,
               coalesce(r.delta_rwa, 0.0) AS delta_rwa,
               r.pct_rwa
        FROM grid g LEFT JOIN recon r ON g.exposure_class = r.exposure_class),
      tot AS (
        SELECT ${sqlDsum("rwa_base", 2)} AS total_rwa_base,
               ${sqlDsum("delta_rwa", 2)} AS total_delta_rwa
        FROM recon)
      SELECT f.exposure_class, f.rwa_base, f.rwa_cand, f.in_base, f.in_cand,
             f.delta_rwa, f.pct_rwa, t.total_rwa_base, t.total_delta_rwa,
             CASE WHEN abs(t.total_delta_rwa) > 1e-10 THEN
               ${sql6("f.delta_rwa / t.total_delta_rwa")}
             END AS share_of_delta_rwa
      FROM filled f CROSS JOIN tot t
      ORDER BY exposure_class
    """.stripMargin.trim))

  // ---- q91: the B3.1 override cascade --------------------------------

  /** Deterministic exposure-attribute derivation: every branch of the
    * 24-branch cascade fires at every SF (modular arithmetic over the
    * order/customer keys covers all class × flag × rating combinations).
    * Shared by the Spark query and the oracle.
    */
  private val ucByMod: Seq[(Int, String)] = Seq(
    0 -> "SOVEREIGN", 1 -> "PSE", 2 -> "INSTITUTION", 3 -> "RETAIL",
    4 -> "RE_RESIDENTIAL", 5 -> "RE_COMMERCIAL", 6 -> "ADC",
    7 -> "CORPORATE", 8 -> "COVERED_BOND", 9 -> "EQUITY")

  /** q91: SA risk-weight override cascade — the reference's single biggest
    * logic mass (reference `engine/sa/risk_weights.py:1034-1243`) compiled
    * from `SaRwCascade` rulepack data by the dual-target `RwChain`
    * combinator: 24 ordered branches (defaults, high-risk, sovereign/PSE,
    * institution short-term gate, retail sub-classes, banded-LTV real
    * estate, ADC, SME/corporate, covered bonds, equity) resolving both the
    * weight AND the audit lineage label. The oracle CASE chains are
    * generated from the same branch data. One scan, zero joins, one
    * summary shuffle; the chain compiles in batches so codegen methods
    * stay under the JVM 64KB rule at reference scale (849 whens).
    */
  val q91RwCascade = QueryDef(
    "q91_rw_cascade",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val ucChain = ucByMod.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
        case (None, (m, u)) => Some(when(col("o_orderkey") % 10 === m, u))
        case (Some(acc), (m, u)) => Some(acc.when(col("o_orderkey") % 10 === m, u))
      }.get.otherwise("OTHER")
      val attrs = o.select(
        col("o_totalprice").as("ead"),
        ucChain.as("uc"),
        when((col("o_custkey") % 8).between(1, 6),
          (col("o_custkey") % 8).cast("int")).as("cqs"),
        ((col("o_orderkey") % 8) * lit(0.125)).as("maturity_years"),
        (lit(0.3) + (col("o_orderkey") % 60) * lit(0.01)).as("ltv"),
        (col("o_orderkey") % 37 === 0).as("is_defaulted"),
        (col("o_orderkey") % 74 === 0).as("provisions_ge_20"),
        (col("o_custkey") % 41 === 0).as("is_high_risk"),
        (col("o_orderkey") % 3 === 0).as("is_qrre_transactor"),
        (col("o_orderkey") % 5 === 0).as("is_payroll_loan"),
        (col("o_orderkey") % 7 =!= 0).as("qualifies_as_retail"),
        (col("o_custkey") % 2 === 0).as("is_sme"),
        (col("o_orderkey") % 2 === 0).as("is_speculative"))
      val (label, rw) = SaRwCascade.chain.compile()
      attrs
        .withColumn("rw_label", label)
        .withColumn("rw", rw)
        .groupBy(col("rw_label"))
        .agg(
          count(lit(1)).as("n_exposures"),
          q6(min(col("rw"))).as("min_rw"),
          q6(max(col("rw"))).as("max_rw"),
          dsum(col("ead"), 2).as("total_ead"),
          dsum(q2(col("ead") * col("rw")), 2).as("total_rwa"))
        .orderBy(col("rw_label"))
    },
    Some {
      val ucCase = ucByMod
        .map { case (m, u) => s"WHEN o_orderkey % 10 = $m THEN '$u'" }
        .mkString("CASE ", " ", " ELSE 'OTHER' END")
      s"""
      WITH attrs AS (
        SELECT o_totalprice AS ead,
               $ucCase AS uc,
               CASE WHEN o_custkey % 8 BETWEEN 1 AND 6 THEN o_custkey % 8 END AS cqs,
               (o_orderkey % 8) * 0.125 AS maturity_years,
               0.3 + (o_orderkey % 60) * 0.01 AS ltv,
               o_orderkey % 37 = 0 AS is_defaulted,
               o_orderkey % 74 = 0 AS provisions_ge_20,
               o_custkey % 41 = 0 AS is_high_risk,
               o_orderkey % 3 = 0 AS is_qrre_transactor,
               o_orderkey % 5 = 0 AS is_payroll_loan,
               o_orderkey % 7 <> 0 AS qualifies_as_retail,
               o_custkey % 2 = 0 AS is_sme,
               o_orderkey % 2 = 0 AS is_speculative
        FROM orders),
      resolved AS (
        SELECT ead,
               ${SaRwCascade.chain.toSqlLabel} AS rw_label,
               ${SaRwCascade.chain.toSqlRw} AS rw
        FROM attrs)
      SELECT rw_label, count(*) AS n_exposures,
             ${sql6("min(rw)")} AS min_rw,
             ${sql6("max(rw)")} AS max_rw,
             ${sqlDsum("ead", 2)} AS total_ead,
             ${sqlDsum(sql2("ead * rw"), 2)} AS total_rwa
      FROM resolved
      GROUP BY rw_label
      ORDER BY rw_label
      """.stripMargin.trim
    })

  // ---- q92: the full IRB calculator over a derived portfolio ----------

  /** q92: `IrbKernel` end-to-end — both regimes (CRR 1.06 / B3.1), both
    * approaches (F-IRB supervisory LGD incl. subordination and the B3.1
    * 40% non-FSE rate; A-IRB own estimates with B3.1 input floors), all
    * six class correlation variants, FSE multiplier, SME size
    * adjustment + CRR supporting factor, defaulted branches, and the
    * B3.1 UK-residential RWEA floor. PD is derived in [0.03, 0.12] so
    * the oracle's Acklam CENTRAL branch replica is valid (same q51
    * discipline); the kernel's PD floors are exercised separately by
    * OracleDerivationsSpec against the reference's hand-derived values.
    */
  val q92IrbPortfolio = QueryDef(
    "q92_irb_portfolio",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val classChain = when(col("o_orderkey") % 6 === 0, "corporate")
        .when(col("o_orderkey") % 6 === 1, "corporate_sme")
        .when(col("o_orderkey") % 6 === 2, "institution")
        .when(col("o_orderkey") % 6 === 3, "retail_other")
        .when(col("o_orderkey") % 6 === 4, "retail_mortgage")
        .otherwise("retail_qrre")
      val attrs = o.select(
        when(col("o_custkey") % 2 === 0, "CRR").otherwise("BASEL_3_1").as("framework"),
        when(col("o_orderkey") % 2 === 0, "FIRB").otherwise("AIRB").as("approach"),
        classChain.as("exposure_class"),
        col("o_totalprice").as("ead"),
        (lit(0.03) + (col("o_orderkey") % 10) * lit(0.01)).as("pd_value"),
        (lit(0.05) + (col("o_custkey") % 10) * lit(0.05)).as("lgd"),
        (lit(1.0) + (col("o_orderkey") % 5).cast("double")).as("maturity"),
        when(col("o_orderkey") % 11 === 0, "subordinated").otherwise("senior")
          .as("seniority"),
        (col("o_custkey") % 13 === 0).as("is_fse"),
        (lit(1.0) + (col("o_custkey") % 50).cast("double")).as("sme_size_metric_m"),
        ((lit(0.05) + (col("o_custkey") % 10) * lit(0.05)) * lit(0.5)).as("beel"),
        (col("o_orderkey") % 17 === 0).as("is_defaulted"),
        (col("o_orderkey") % 3 === 0).as("is_qrre_transactor"),
        (col("o_custkey") % 3 =!= 0).as("is_uk_property"))
      graft.engine.IrbKernel.calculate(attrs)
        .groupBy(col("framework"), col("approach"), col("exposure_class"))
        .agg(
          count(lit(1)).as("n_exposures"),
          dsum(q6(col("risk_weight")), 6).as("sum_rw"),
          dsum(q2(col("rwa")), 2).as("total_rwa"))
        .orderBy(col("framework"), col("approach"), col("exposure_class"))
    },
    Some {
      val g999 = graft.functions.NormalMath.normPpf(0.999)
      s"""
      WITH attrs AS (
        SELECT CASE WHEN o_custkey % 2 = 0 THEN 'CRR' ELSE 'BASEL_3_1' END AS framework,
               CASE WHEN o_orderkey % 2 = 0 THEN 'FIRB' ELSE 'AIRB' END AS approach,
               CASE WHEN o_orderkey % 6 = 0 THEN 'corporate'
                    WHEN o_orderkey % 6 = 1 THEN 'corporate_sme'
                    WHEN o_orderkey % 6 = 2 THEN 'institution'
                    WHEN o_orderkey % 6 = 3 THEN 'retail_other'
                    WHEN o_orderkey % 6 = 4 THEN 'retail_mortgage'
                    ELSE 'retail_qrre' END AS exposure_class,
               o_totalprice AS ead,
               0.03 + (o_orderkey % 10) * 0.01 AS pd_value,
               0.05 + (o_custkey % 10) * 0.05 AS lgd,
               1.0 + (o_orderkey % 5) AS maturity,
               CASE WHEN o_orderkey % 11 = 0 THEN 'subordinated' ELSE 'senior' END AS seniority,
               o_custkey % 13 = 0 AS is_fse,
               1.0 + (o_custkey % 50) AS sme_size_metric_m,
               (0.05 + (o_custkey % 10) * 0.05) * 0.5 AS beel,
               o_orderkey % 17 = 0 AS is_defaulted,
               o_orderkey % 3 = 0 AS is_qrre_transactor,
               o_custkey % 3 <> 0 AS is_uk_property
        FROM orders),
      resolved AS (
        SELECT *,
          pd_value AS pd_applied,
          CASE WHEN approach = 'FIRB' THEN
                 CASE WHEN seniority = 'subordinated' THEN 0.75
                      WHEN framework = 'BASEL_3_1' AND NOT is_fse THEN 0.40
                      ELSE 0.45 END
               ELSE
                 CASE WHEN framework = 'BASEL_3_1' THEN
                        greatest(lgd,
                          CASE WHEN exposure_class = 'retail_mortgage' THEN 0.05
                               WHEN exposure_class = 'retail_qrre' THEN 0.50
                               WHEN exposure_class = 'retail_other' THEN 0.30
                               ELSE 0.25 END)
                      ELSE lgd END END AS lgd_applied
        FROM attrs),
      corr AS (
        SELECT *,
          (CASE WHEN exposure_class IN ('corporate_sme', 'corporate') THEN
                 (0.12 * ((1.0 - exp(-50.0 * pd_applied)) / ${1.0 - math.exp(-50.0)}) +
                  0.24 * (1.0 - ((1.0 - exp(-50.0 * pd_applied)) / ${1.0 - math.exp(-50.0)})))
                 - 0.04 * (1.0 -
                     (least(greatest(CASE WHEN framework = 'CRR' THEN 5.0 ELSE 4.4 END, sme_size_metric_m),
                            CASE WHEN framework = 'CRR' THEN 50.0 ELSE 44.0 END)
                      - CASE WHEN framework = 'CRR' THEN 5.0 ELSE 4.4 END)
                     / (CASE WHEN framework = 'CRR' THEN 50.0 ELSE 44.0 END
                        - CASE WHEN framework = 'CRR' THEN 5.0 ELSE 4.4 END))
               WHEN exposure_class = 'institution' THEN
                 0.12 * ((1.0 - exp(-50.0 * pd_applied)) / ${1.0 - math.exp(-50.0)}) +
                 0.24 * (1.0 - ((1.0 - exp(-50.0 * pd_applied)) / ${1.0 - math.exp(-50.0)}))
               WHEN exposure_class = 'retail_mortgage' THEN 0.15
               WHEN exposure_class = 'retail_qrre' THEN 0.04
               ELSE
                 0.03 * ((1.0 - exp(-35.0 * pd_applied)) / ${1.0 - math.exp(-35.0)}) +
                 0.16 * (1.0 - ((1.0 - exp(-35.0 * pd_applied)) / ${1.0 - math.exp(-35.0)}))
          END) * (CASE WHEN is_fse THEN 1.25 ELSE 1.0 END) AS correlation
        FROM resolved),
      rwcalc AS (
        SELECT *,
          CASE WHEN is_defaulted THEN
                 CASE WHEN approach = 'FIRB' THEN 0.0
                      ELSE greatest(0.0, 12.5 * (lgd_applied - beel)) END
               ELSE
                 (CASE WHEN exposure_class IN ('corporate', 'corporate_sme', 'institution') THEN
                   lgd_applied * ((${Rwa.sqlNormCdf(
                     s"((${Rwa.sqlNormPpfCentral("pd_applied")}) + sqrt(correlation) * ($g999)) / sqrt(1.0 - correlation)")})
                     - pd_applied) * 12.5 *
                   (CASE WHEN framework = 'CRR' THEN 1.06 ELSE 1.0 END) *
                   ((1.0 + (maturity - 2.5) * pow(0.11852 - 0.05478 * ln(pd_applied), 2.0))
                    / (1.0 - 1.5 * pow(0.11852 - 0.05478 * ln(pd_applied), 2.0)))
                 ELSE
                   lgd_applied * ((${Rwa.sqlNormCdf(
                     s"((${Rwa.sqlNormPpfCentral("pd_applied")}) + sqrt(correlation) * ($g999)) / sqrt(1.0 - correlation)")})
                     - pd_applied) * 12.5 *
                   (CASE WHEN framework = 'CRR' THEN 1.06 ELSE 1.0 END)
                 END)
          END AS risk_weight
        FROM corr),
      rwafinal AS (
        SELECT *,
          CASE WHEN framework = 'BASEL_3_1' AND exposure_class = 'retail_mortgage'
                    AND is_uk_property AND NOT is_defaulted
               THEN greatest(rwa_sme, 0.1 * ead) ELSE rwa_sme END AS rwa
        FROM (
          SELECT *,
            CASE WHEN framework = 'CRR' AND exposure_class = 'corporate_sme'
                 THEN (risk_weight * ead) *
                      ((least(ead, 2500000.0) * 0.7619 +
                        greatest(ead - 2500000.0, 0.0) * 0.85) / ead)
                 ELSE risk_weight * ead END AS rwa_sme
          FROM rwcalc))
      SELECT framework, approach, exposure_class,
             count(*) AS n_exposures,
             ${sqlDsum(sql6("risk_weight"), 6)} AS sum_rw,
             ${sqlDsum(sql2("rwa"), 2)} AS total_rwa
      FROM rwafinal
      GROUP BY framework, approach, exposure_class
      ORDER BY framework, approach, exposure_class
      """.stripMargin.trim
    })

  // ---- q93: reconciliation at depth -----------------------------------

  /** q93: the full parallel-run reconciliation path (reference
    * `analysis/reconciliation.py` + `engine/aggregator/_collapse.py`):
    * our sub-row frame (0.25/0.75 guarantee legs per exposure) collapses
    * to key grain (exact decimal sums, ratio recompute, min-categorical
    * with heterogeneity flag), full-outer compares against a derived
    * "legacy" book on TWO numeric components (abs tolerance) and ONE
    * categorical component (normalise + value-map), rolls up the 5-way
    * row bucket, and emits the bucket summary unioned with the ranked
    * break worklist. Perturbations are deterministic (key modulus):
    * %29 → 5.0 ead break, %13 → 0.004 within-tolerance, %31 → dropped
    * from legacy (missing_right), %503 → legacy-only key (missing_left),
    * %41 → unmapped class code (categorical break).
    */
  val q93Reconciliation = QueryDef(
    "q93_reconciliation",
    (s, dir) => {
      import graft.analysis.Reconciliation
      import graft.analysis.Reconciliation.{CategoricalComponent, NumericComponent}
      val o = Tables.orders(s, dir)
      val classChain = when(col("o_orderkey") % 4 === 0, "corporate")
        .when(col("o_orderkey") % 4 === 1, "retail")
        .when(col("o_orderkey") % 4 === 2, "sovereign")
        .otherwise("institution")
      val rwChain = when(col("o_orderkey") % 4 === 0, 1.0)
        .when(col("o_orderkey") % 4 === 1, 0.75)
        .when(col("o_orderkey") % 4 === 2, 0.2)
        .otherwise(0.5)
      // our side: two legs per exposure (guarantee-split sub-rows)
      val legs = o.select(
          concat(lit("ORD-"), col("o_orderkey").cast("string")).as("exposure_reference"),
          col("o_totalprice"), classChain.as("exposure_class"), rwChain.as("rw"),
          explode(array(
            struct(lit("covered").as("kind"), lit(0.25).as("share")),
            struct(lit("remainder").as("kind"), lit(0.75).as("share")))).as("leg"),
          col("o_orderkey"))
        .select(col("exposure_reference"), col("exposure_class"),
          (col("o_totalprice") * col("leg.share")).as("ead"),
          (col("o_totalprice") * col("leg.share") * col("rw")).as("rwa"),
          when(col("o_orderkey") % 23 === 0 && col("leg.kind") === "covered",
            "banking").otherwise("trading").as("book"))
      val collapsed = Reconciliation.collapseToKeyGrain(
        legs, Seq("exposure_reference"),
        additive = Seq("ead" -> 4, "rwa" -> 6),
        ratios = Seq(("risk_weight", "rwa", "ead")),
        categoricals = Seq("exposure_class", "book"))
      // legacy side: one row per loan, coded classes, seeded perturbations
      val legacyCode = when(col("o_orderkey") % 41 === 0, "XXX")
        .when(col("o_orderkey") % 4 === 0, "CORP")
        .when(col("o_orderkey") % 4 === 1, "RET")
        .when(col("o_orderkey") % 4 === 2, "SOV")
        .otherwise("INST")
      val legacyBase = o.filter(col("o_orderkey") % 31 =!= 0).select(
        concat(lit("ORD-"), col("o_orderkey").cast("string")).as("exposure_reference"),
        when(col("o_orderkey") % 29 === 0, col("o_totalprice") + 5.0)
          .when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 0.004)
          .otherwise(col("o_totalprice")).as("ead"),
        (col("o_totalprice") * rwChain).as("rwa"),
        legacyCode.as("exposure_class"))
      val legacyExtra = o.filter(col("o_orderkey") % 503 === 0).select(
        concat(lit("XTRA-"), col("o_orderkey").cast("string")).as("exposure_reference"),
        col("o_totalprice").as("ead"),
        (col("o_totalprice") * rwChain).as("rwa"),
        legacyCode.as("exposure_class"))
      val legacy = legacyBase.unionByName(legacyExtra)
      // persisted: the summary and worklist union branches below both
      // consume the full recon frame, and Catalyst does not CSE across
      // union branches — unpersisted, the collapse + full-outer compare
      // chain executed twice (r19; same fix as q98)
      val recon = Reconciliation.compareMulti(
        collapsed, legacy, Seq("exposure_reference"),
        numerics = Seq(NumericComponent("ead", absTol = 0.005),
          NumericComponent("rwa", absTol = 0.01)),
        categoricals = Seq(CategoricalComponent("exposure_class", valueMap = Seq(
          "CORP" -> "CORPORATE", "RET" -> "RETAIL",
          "SOV" -> "SOVEREIGN", "INST" -> "INSTITUTION"))))
        .transform(graft.SessionScope.persist)
      val summaryRows = recon.groupBy(col("row_bucket")).agg(
          count(lit(1)).as("n"),
          count(when(col("ead_bucket") === "break", lit(1))).as("n_ead_break"),
          count(when(col("exposure_class_bucket") === "break", lit(1)))
            .as("n_class_break"),
          dsum(q2(coalesce(abs(col("abs_delta_ead")), lit(0.0))), 2)
            .as("sum_abs_delta_ead"))
        .select(lit("summary").as("section"), col("row_bucket"),
          lit(null).cast("string").as("ref_key"),
          lit(null).cast("long").as("rank"),
          col("n"), col("n_ead_break"), col("n_class_break"),
          col("sum_abs_delta_ead"),
          lit(null).cast("double").as("delta_ead"))
      val worklistRows = Reconciliation.breakWorklist(
          recon, Seq("exposure_reference"), "abs_delta_ead", limit = 5)
        .select(lit("worklist").as("section"), col("row_bucket"),
          col("exposure_reference").as("ref_key"), col("rank"),
          lit(null).cast("long").as("n"),
          lit(null).cast("long").as("n_ead_break"),
          lit(null).cast("long").as("n_class_break"),
          lit(null).cast("double").as("sum_abs_delta_ead"),
          q2(coalesce(col("abs_delta_ead"), lit(0.0))).as("delta_ead"))
      summaryRows.unionByName(worklistRows)
        .orderBy(col("section"), col("row_bucket"),
          coalesce(col("rank"), lit(0L)), coalesce(col("ref_key"), lit("")))
    },
    Some(s"""
      WITH o AS (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderkey % 4 = 0 THEN 'corporate'
                    WHEN o_orderkey % 4 = 1 THEN 'retail'
                    WHEN o_orderkey % 4 = 2 THEN 'sovereign'
                    ELSE 'institution' END AS cls,
               CASE WHEN o_orderkey % 4 = 0 THEN 1.0
                    WHEN o_orderkey % 4 = 1 THEN 0.75
                    WHEN o_orderkey % 4 = 2 THEN 0.2
                    ELSE 0.5 END AS rw
        FROM orders),
      legs AS (
        SELECT 'ORD-' || CAST(o_orderkey AS VARCHAR) AS exposure_reference,
               cls AS exposure_class,
               o_totalprice * leg.share AS ead,
               o_totalprice * leg.share * rw AS rwa,
               CASE WHEN o_orderkey % 23 = 0 AND leg.kind = 'covered'
                    THEN 'banking' ELSE 'trading' END AS book
        FROM o,
             unnest([struct_pack(kind := 'covered', share := CAST(0.25 AS DOUBLE)),
                     struct_pack(kind := 'remainder', share := CAST(0.75 AS DOUBLE))]) AS t(leg)),
      collapsed AS (
        SELECT exposure_reference,
               CAST(sum(CAST(ead AS DECIMAL(38,4))) AS DOUBLE) AS ead,
               CAST(sum(CAST(rwa AS DECIMAL(38,6))) AS DOUBLE) AS rwa,
               min(exposure_class) AS exposure_class,
               (count(DISTINCT exposure_class) > 1 OR count(DISTINCT book) > 1)
                 AS recon_grain_heterogeneous
        FROM legs GROUP BY exposure_reference),
      legacy AS (
        SELECT 'ORD-' || CAST(o_orderkey AS VARCHAR) AS exposure_reference,
               CASE WHEN o_orderkey % 29 = 0 THEN o_totalprice + 5.0
                    WHEN o_orderkey % 13 = 0 THEN o_totalprice + 0.004
                    ELSE o_totalprice END AS ead,
               o_totalprice * rw AS rwa,
               CASE WHEN o_orderkey % 41 = 0 THEN 'XXX'
                    WHEN o_orderkey % 4 = 0 THEN 'CORP'
                    WHEN o_orderkey % 4 = 1 THEN 'RET'
                    WHEN o_orderkey % 4 = 2 THEN 'SOV'
                    ELSE 'INST' END AS exposure_class
        FROM o WHERE o_orderkey % 31 <> 0
        UNION ALL
        SELECT 'XTRA-' || CAST(o_orderkey AS VARCHAR),
               o_totalprice,
               o_totalprice * rw,
               CASE WHEN o_orderkey % 41 = 0 THEN 'XXX'
                    WHEN o_orderkey % 4 = 0 THEN 'CORP'
                    WHEN o_orderkey % 4 = 1 THEN 'RET'
                    WHEN o_orderkey % 4 = 2 THEN 'SOV'
                    ELSE 'INST' END
        FROM o WHERE o_orderkey % 503 = 0),
      joined AS (
        SELECT coalesce(c.exposure_reference, l.exposure_reference) AS exposure_reference,
               c.ead AS our_ead, l.ead AS legacy_ead,
               c.rwa AS our_rwa, l.rwa AS legacy_rwa,
               c.exposure_class AS our_cls, l.exposure_class AS legacy_cls,
               c.exposure_reference IS NOT NULL AS our_present,
               l.exposure_reference IS NOT NULL AS legacy_present
        FROM collapsed c FULL OUTER JOIN legacy l USING (exposure_reference)),
      bucketed AS (
        SELECT *,
          our_ead - legacy_ead AS abs_delta_ead,
          CASE WHEN NOT our_present THEN 'missing_left'
               WHEN NOT legacy_present THEN 'missing_right'
               WHEN our_ead IS NULL AND legacy_ead IS NULL THEN 'exact_match'
               WHEN our_ead IS NULL OR legacy_ead IS NULL THEN 'break'
               WHEN abs(our_ead - legacy_ead) <= 1e-9 THEN 'exact_match'
               WHEN abs(our_ead - legacy_ead) <= 0.005 THEN 'within_tolerance'
               ELSE 'break' END AS ead_bucket,
          CASE WHEN NOT our_present THEN 'missing_left'
               WHEN NOT legacy_present THEN 'missing_right'
               WHEN our_rwa IS NULL AND legacy_rwa IS NULL THEN 'exact_match'
               WHEN our_rwa IS NULL OR legacy_rwa IS NULL THEN 'break'
               WHEN abs(our_rwa - legacy_rwa) <= 1e-9 THEN 'exact_match'
               WHEN abs(our_rwa - legacy_rwa) <= 0.01 THEN 'within_tolerance'
               ELSE 'break' END AS rwa_bucket,
          CASE WHEN NOT our_present THEN 'missing_left'
               WHEN NOT legacy_present THEN 'missing_right'
               WHEN our_cls IS NULL AND legacy_cls IS NULL THEN 'exact_match'
               WHEN our_cls IS NULL OR legacy_cls IS NULL THEN 'break'
               WHEN upper(trim(our_cls)) =
                    (CASE WHEN upper(trim(legacy_cls)) = 'CORP' THEN 'CORPORATE'
                          WHEN upper(trim(legacy_cls)) = 'RET' THEN 'RETAIL'
                          WHEN upper(trim(legacy_cls)) = 'SOV' THEN 'SOVEREIGN'
                          WHEN upper(trim(legacy_cls)) = 'INST' THEN 'INSTITUTION'
                          ELSE upper(trim(legacy_cls)) END)
                 THEN 'exact_match'
               ELSE 'break' END AS exposure_class_bucket
        FROM joined),
      rolled AS (
        SELECT *,
          CASE WHEN NOT our_present THEN 'missing_left'
               WHEN NOT legacy_present THEN 'missing_right'
               WHEN ead_bucket = 'break' OR rwa_bucket = 'break'
                    OR exposure_class_bucket = 'break' THEN 'break'
               WHEN ead_bucket = 'within_tolerance' OR rwa_bucket = 'within_tolerance'
                 THEN 'within_tolerance'
               ELSE 'exact_match' END AS row_bucket
        FROM bucketed),
      summary AS (
        SELECT 'summary' AS section, row_bucket,
               NULL::VARCHAR AS ref_key, NULL::BIGINT AS rank,
               count(*) AS n,
               count(CASE WHEN ead_bucket = 'break' THEN 1 END) AS n_ead_break,
               count(CASE WHEN exposure_class_bucket = 'break' THEN 1 END) AS n_class_break,
               ${sqlDsum(sql2("coalesce(abs(abs_delta_ead), 0.0)"), 2)} AS sum_abs_delta_ead,
               NULL::DOUBLE AS delta_ead
        FROM rolled GROUP BY row_bucket),
      worklist AS (
        SELECT 'worklist' AS section, row_bucket,
               exposure_reference AS ref_key,
               CAST(row_number() OVER (
                 ORDER BY coalesce(abs(abs_delta_ead), 0.0) DESC, exposure_reference)
                 AS BIGINT) AS rank,
               NULL::BIGINT AS n, NULL::BIGINT AS n_ead_break,
               NULL::BIGINT AS n_class_break, NULL::DOUBLE AS sum_abs_delta_ead,
               ${sql2("coalesce(abs_delta_ead, 0.0)")} AS delta_ead
        FROM rolled WHERE row_bucket = 'break'
        QUALIFY rank <= 5)
      SELECT * FROM (SELECT * FROM summary UNION ALL SELECT * FROM worklist)
      ORDER BY section, row_bucket, coalesce(rank, 0), coalesce(ref_key, '')
    """.stripMargin.trim))

  // ---- q94: COREP template + supervisory validations -------------------

  /** C 07.00-style sheet geometry, shared by the Spark cells and the
    * oracle: rows = exposure classes + the total row, columns = the
    * Annex-II-style measure set (original exposure, unfunded protection,
    * funded collateral, post-CRM net exposure, RWEA). */
  private val corepClasses = Seq(
    "corporate", "institution", "retail", "sme_corporate", "sovereign")
  private val corepCols: Seq[(String, String)] = Seq(
    "C0010" -> "ead_pre_crm", "C0060" -> "guar_covered",
    "C0070" -> "coll_covered", "C0110" -> "unsecured", "C0220" -> "rwa",
    // per-type collateral tracking (C 08.01 cols 0170-0210 analogue)
    "C0170" -> "collateral_financial_value",
    "C0180" -> "collateral_re_value",
    "C0210" -> "collateral_other_value")
  private val corepRows: Seq[(String, Option[String])] =
    corepClasses.map(c => s"R_$c" -> Some(c)) :+ ("R_TOTAL" -> None)
  private def corepCellId(row: String, colId: String) = s"C07|$row|$colId"

  /** C 07.00 memo block: breakdown of the UNSECURED (own-weight) leg by
    * applied risk weight — the published template's rows 0140-0280
    * "breakdown of exposures by risk weights" on this rulebook's CLOSED
    * weight vocabulary (rwTable ∪ the defaulted-SA 1.0/1.5 ∪ the
    * coalesce fallback 1.0), so the bands partition the unsecured book
    * exactly. Per band: C0200 = net exposure in the band, C0215 = the
    * band's RWEA leg. */
  private val corepBandRows: Seq[(String, Double)] = Seq(
    "R_rw0" -> 0.0, "R_rw20" -> 0.2, "R_rw30" -> 0.3, "R_rw50" -> 0.5,
    "R_rw75" -> 0.75, "R_rw85" -> 0.85, "R_rw100" -> 1.0, "R_rw150" -> 1.5)
  private def corepBandRowId(w: Double): String = s"R_rw${math.round(w * 100)}"

  /** RWEA leg measures as SQL strings — ONE source of truth parsed
    * identically by Spark's `expr()` and DuckDB (`floor`/`least`/
    * `coalesce` share semantics): C0215 the unsecured leg, C0216 the
    * collateral leg, C0217 the guarantee leg — exactly the three `rwac`
    * legs, so per row C0215 + C0216 + C0217 = rwa_pre_sf and the v0329_m
    * partition is EXACT wherever the SME supporting factor cannot
    * intervene. */
  private val corepLegCols: Seq[(String, String)] = Seq(
    "C0215" -> sql2("unsecured * own_rw"),
    "C0216" -> sql2(s"coll_covered * ${DomainPipeline.collateralRw}"),
    "C0217" -> sql2("guar_covered * least(own_rw, coalesce(guarantor_rw, own_rw))"))

  /** One supervisory cross-cell rule: `op` compares the decimal sums of
    * the LHS and RHS cell sets ("eq" within tolerance, "le"/"ge" with
    * tolerance slack), carrying the publisher's severity so a WARNING
    * breach renders distinctly from an ERROR breach — the catalogue
    * record shape of the `reporting/validations/rules` JSON catalogues
    * (id, severity, formula) reduced to the sum-comparison core. */
  private final case class CorepRule(
      id: String, severity: String, op: String,
      lhs: Seq[String], rhs: Seq[String], tol: Double,
      rhsScale: Double = 1.0)

  private val corepRules: Seq[CorepRule] =
    // additivity: total row = sum of class rows, per column
    corepCols.map { case (colId, _) =>
      CorepRule(s"v_add_$colId", "ERROR", "eq",
        Seq(corepCellId("R_TOTAL", colId)),
        corepClasses.map(c => corepCellId(s"R_$c", colId)),
        0.01)
    } ++
    // CRM identity per row: net + outflows reconstitute the original
    // exposure (tolerance covers the per-exposure cent-rounding of the
    // waterfall legs aggregated across the book)
    corepRows.map { case (row, _) =>
      CorepRule(s"v_crm_$row", "ERROR", "eq",
        Seq("C0110", "C0060", "C0070").map(corepCellId(row, _)),
        Seq(corepCellId(row, "C0010")),
        1.0)
    } ++
    // per-type collateral cells partition the funded-collateral total
    // exactly (same allocated legs, split by family)
    corepRows.map { case (row, _) =>
      CorepRule(s"v_colltype_$row", "ERROR", "eq",
        Seq("C0170", "C0180", "C0210").map(corepCellId(row, _)),
        Seq(corepCellId(row, "C0070")),
        0.01)
    }

  /** Catalogue slice (reference
    * `reporting/validations/rules/crr-eba-v3.0-credit-risk.json` — the
    * EBA v3.0(3.0.1) credit-risk rule catalogue, 1,011 records; loaded
    * as data by `reporting/validations/rules.py`): ten representative
    * LIVE C 07.00 rule families hand-translated onto this sheet's column
    * analogues, ids and severities preserved, with per-row instances
    * keyed `id@row` the way the catalogue scopes a rule to its `rows`
    * list. Shapes ported: the v0305_m CRM-components identity, the
    * v0307_m funded-collateral family partition, v0310_m / v0313_m
    * total-row additivity (published at WARNING severity), the v8726_m
    * post-CRM <= pre-CRM and v1641_m covered <= original monotonicity
    * inequalities, and the v3697_s / v3698_s / v3700_s / v3703_s
    * non-negativity sign rules (empty RHS compares against zero). */
  private val corepCatalogue: Seq[CorepRule] = {
    def classCells(colId: String) =
      corepClasses.map(c => corepCellId(s"R_$c", colId))
    Seq(
      CorepRule("v0310_m", "WARNING", "eq",
        Seq(corepCellId("R_TOTAL", "C0220")), classCells("C0220"), 0.01),
      CorepRule("v0313_m", "WARNING", "eq",
        Seq(corepCellId("R_TOTAL", "C0010")), classCells("C0010"), 0.01)) ++
    corepRows.flatMap { case (row, _) => Seq(
      CorepRule(s"v0305_m@$row", "ERROR", "eq",
        Seq(corepCellId(row, "C0010")),
        Seq("C0110", "C0060", "C0070").map(corepCellId(row, _)), 1.0),
      CorepRule(s"v0307_m@$row", "ERROR", "eq",
        Seq(corepCellId(row, "C0070")),
        Seq("C0170", "C0180", "C0210").map(corepCellId(row, _)), 0.01),
      CorepRule(s"v8726_m@$row", "WARNING", "le",
        Seq(corepCellId(row, "C0110")), Seq(corepCellId(row, "C0010")), 0.01),
      CorepRule(s"v1641_m@$row", "ERROR", "le",
        Seq(corepCellId(row, "C0070")), Seq(corepCellId(row, "C0010")), 0.01),
      CorepRule(s"v3698_s@$row", "ERROR", "ge",
        Seq(corepCellId(row, "C0010")), Nil, 0.0),
      CorepRule(s"v3697_s@$row", "ERROR", "ge",
        Seq(corepCellId(row, "C0220")), Nil, 0.0),
      CorepRule(s"v3700_s@$row", "ERROR", "ge",
        Seq(corepCellId(row, "C0110")), Nil, 0.0),
      CorepRule(s"v3703_s@$row:C0170", "ERROR", "ge",
        Seq(corepCellId(row, "C0170")), Nil, 0.0),
      CorepRule(s"v3703_s@$row:C0180", "ERROR", "ge",
        Seq(corepCellId(row, "C0180")), Nil, 0.0),
      CorepRule(s"v3703_s@$row:C0210", "ERROR", "ge",
        Seq(corepCellId(row, "C0210")), Nil, 0.0))
    }
  }

  /** Second catalogue slice (round 9): the C 07.00 risk-weight-breakdown
    * rule families (same EBA v3.0(3.0.1) extract), bound to the band
    * memo rows above. Five shapes ported, ids + severities preserved:
    *
    *  - v0318_m-v0328_m family (the `{rX, c0215} = {rX, c0200} * RW%`
    *    band-rate arithmetic): the five members whose rate exists in
    *    this rulebook's weight vocabulary (20/50/75/100/150%), each as
    *    a scaled-RHS comparison. The tolerance is the EBA "interval"
    *    arithmetic approach scaled to this estate: the LHS accumulates
    *    per-row cent-quantised legs while the RHS scales the exact band
    *    exposure sum, so the diff is a random walk of ≤0.005/row
    *    rounding residues (≈ √n·0.003 — tol 25.0 holds to sf ≥ 10).
    *  - v0316_m (`{r0140, c0215} = 0`): the 0% band carries no RWEA.
    *  - v0312_m (total = Σ breakdown rows, per column): EXACT here
    *    because the weight vocabulary is closed, instanced per column
    *    the way the catalogue scopes its `columns` list.
    *  - v0329_m (`{c0215} + {c0216} + {c0217} = {c0220}`): the three
    *    RWEA legs partition the row's RWEA — scoped to the four
    *    non-SME class rows (the catalogue's `rows` list idiom), since
    *    the sme_corporate row's supporting factor intervenes between
    *    rwa_pre_sf and rwa.
    */
  private val corepCatalogue2: Seq[CorepRule] =
    Seq(("v0320_m", 0.2), ("v0322_m", 0.5), ("v0324_m", 0.75),
        ("v0325_m", 1.0), ("v0326_m", 1.5)).map { case (id, w) =>
      CorepRule(id, "ERROR", "eq",
        Seq(corepCellId(corepBandRowId(w), "C0215")),
        Seq(corepCellId(corepBandRowId(w), "C0200")),
        25.0, rhsScale = w)
    } ++
    Seq(
      CorepRule("v0316_m", "ERROR", "eq",
        Seq(corepCellId("R_rw0", "C0215")), Nil, 0.01),
      CorepRule("v0312_m@C0200", "WARNING", "eq",
        Seq(corepCellId("R_TOTAL", "C0110")),
        corepBandRows.map { case (r, _) => corepCellId(r, "C0200") }, 0.01),
      CorepRule("v0312_m@C0215", "WARNING", "eq",
        Seq(corepCellId("R_TOTAL", "C0215")),
        corepBandRows.map { case (r, _) => corepCellId(r, "C0215") }, 0.01)) ++
    Seq("corporate", "institution", "retail", "sovereign").map { c =>
      CorepRule(s"v0329_m@R_$c", "WARNING", "eq",
        corepLegCols.map { case (colId, _) => corepCellId(s"R_$c", colId) },
        Seq(corepCellId(s"R_$c", "C0220")), 0.01)
    }

  private val corepAllRules: Seq[CorepRule] =
    corepRules ++ corepCatalogue ++ corepCatalogue2

  /** The full C 07.00 cell catalogue — static predicates/measures over
    * the sealed ledger, shared by the q94 sheet build and the REST cell
    * drill-down (`/api/lineage/cell`). This is the reference's
    * keyed-plan lineage idea (`reporting/lineage.py`: every published
    * template keys its execution plan, so ANY reported cell's predicate
    * is re-runnable over the ledger for drill-down) applied to this
    * sheet's whole cell surface: class rows × the Annex-II measure set,
    * the RWEA leg columns, and the risk-weight band memo block. */
  private[graft] def c07Cells: Seq[graft.reporting.CellSpec] = {
    import graft.reporting.CellSpec
    val classCells = for {
      (row, clsOpt) <- corepRows
      (colId, measure) <- corepCols
    } yield CellSpec(
      corepCellId(row, colId),
      clsOpt.fold(lit(true))(c => col("exposure_class") === c),
      col(measure))
    // RWEA leg columns on the class rows (v0329_m / v0312_m@C0215) —
    // expr() of the shared SQL measure, so both engines parse one text
    val legCells = for {
      (row, clsOpt) <- corepRows
      (colId, legSql) <- corepLegCols
    } yield CellSpec(
      corepCellId(row, colId),
      clsOpt.fold(lit(true))(c => col("exposure_class") === c),
      expr(legSql))
    // risk-weight band memo rows: net unsecured exposure + its RWEA leg
    val bandCells = for {
      (row, w) <- corepBandRows
      (colId, m) <- Seq("C0200" -> col("unsecured"),
        "C0215" -> expr(corepLegCols.head._2))
    } yield CellSpec(corepCellId(row, colId), col("own_rw") === w, m)
    classCells ++ legCells ++ bandCells
  }

  /** q94: COREP sheet content + supervisory validations — the whole
    * C 07.00-style sheet (class rows, RWEA leg columns, and the
    * risk-weight band memo block — 82 cells) is ONE two-level
    * conditional aggregation over the composed q90 ledger (11 decimal
    * sums per ledger row, one per distinct measure), then
    * every cross-cell rule — the
    * engine's own identities AND the ported EBA catalogue slice
    * (`corepCatalogue`, ids + severities in the output frame) — evaluates
    * horizontally on the same single-row aggregate (`TemplateGenerator` /
    * `TemplateValidator` discipline, reference
    * `reporting/corep/generator.py` + the `reporting/validations`
    * package). The oracle rebuilds the identical ledger (shared CTE chain
    * with q90) and the identical cells/rules.
    */
  val q94CorepTemplate = QueryDef(
    "q94_corep_template",
    (s, dir) => {
      import graft.reporting.{CellSpec, TemplateGenerator}
      val led = DomainPipeline.ledger(s, dir)
      val cells = c07Cells
      // SINGLE-BRANCH plan: one aggregation over the ledger produces the
      // wide 1-row frame; sheet cells AND every cross-cell rule total
      // come out of it in ONE stack (cells as values, rule LHS/RHS as
      // horizontal decimal sums computed in the projection before the
      // stack). The ~300-node ledger subtree therefore appears exactly
      // once in the plan — it is analysed, optimised, and executed once,
      // where a union of cell and validation branches would carry (and
      // re-optimise) it twice.
      val row0 = TemplateGenerator.wideRow(led, cells)
      def dsumH(ids: Seq[String]): Column =
        if (ids.isEmpty) lit(0.0)
        else ids.map(id => col(s"`$id`").cast(DecimalType(38, 2)))
          .reduce(_ + _).cast("double")
      val wide = row0.select(
        cells.map(c => col(s"`${c.cellId}`")) ++
        corepAllRules.flatMap { r =>
          val rhs = if (r.rhsScale == 1.0) dsumH(r.rhs)
            else dsumH(r.rhs) * lit(r.rhsScale)
          Seq(dsumH(r.lhs).as(s"${r.id}__lhs"), rhs.as(s"${r.id}__rhs")) }: _*)
      val nullD = "CAST(NULL AS DOUBLE)"
      val nullS = "CAST(NULL AS STRING)"
      val stackRows =
        cells.map(c =>
          s"'cell', '${c.cellId}', $nullS, `${c.cellId}`, $nullD, $nullD") ++
        corepAllRules.map { r =>
          s"'validation', '${r.id}', '${r.severity}', $nullD, `${r.id}__lhs`, `${r.id}__rhs`" }
      val stacked = wide.selectExpr(
        s"stack(${stackRows.size}, ${stackRows.mkString(", ")}) " +
          "AS (section, id, severity, value, lhs_total, rhs_total)")
      // status: per-rule comparison compiled to one when-chain — "eq"
      // within tolerance, "le"/"ge" with tolerance slack on the breach
      // side only.
      val passChain = corepAllRules.foldLeft(Option.empty[Column]) { (acc, r) =>
        val cond = r.op match {
          case "eq" => abs(col("diff")) <= r.tol
          case "le" => col("diff") <= r.tol
          case _ => -col("diff") <= r.tol
        }
        acc match {
          case None => Some(when(col("id") === r.id, cond))
          case Some(a) => Some(a.when(col("id") === r.id, cond))
        }
      }.get.otherwise(lit(false))
      stacked
        .withColumn("diff", col("lhs_total") - col("rhs_total"))
        .withColumn("status", when(col("section") === "validation",
          when(passChain, "pass").otherwise("fail")))
        .orderBy(col("section"), col("id"))
    },
    Some {
      val classDefs = for {
        ((row, clsOpt), ri) <- corepRows.zipWithIndex
        ((colId, measure), ci) <- corepCols.zipWithIndex
      } yield {
        val pred = clsOpt.fold("TRUE")(c => s"exposure_class = '$c'")
        val alias = s"cell_${ri}_$ci"
        (corepCellId(row, colId), alias,
          s"""sum(CAST(CASE WHEN $pred THEN $measure ELSE 0.0 END AS DECIMAL(38,2))) AS $alias""")
      }
      val legDefs = for {
        ((row, clsOpt), ri) <- corepRows.zipWithIndex
        ((colId, legSql), ci) <- corepLegCols.zipWithIndex
      } yield {
        val pred = clsOpt.fold("TRUE")(c => s"exposure_class = '$c'")
        val alias = s"cell_leg_${ri}_$ci"
        (corepCellId(row, colId), alias,
          s"""sum(CAST(CASE WHEN $pred THEN $legSql ELSE 0.0 END AS DECIMAL(38,2))) AS $alias""")
      }
      val bandDefs = for {
        ((row, w), ri) <- corepBandRows.zipWithIndex
        ((colId, measure), ci) <- Seq(
          "C0200" -> "unsecured", "C0215" -> corepLegCols.head._2).zipWithIndex
      } yield {
        val pred = s"own_rw = CAST($w AS DOUBLE)"
        val alias = s"cell_band_${ri}_$ci"
        (corepCellId(row, colId), alias,
          s"""sum(CAST(CASE WHEN $pred THEN $measure ELSE 0.0 END AS DECIMAL(38,2))) AS $alias""")
      }
      val cellDefs = classDefs ++ legDefs ++ bandDefs
      val aggSelect = cellDefs.map(_._3).mkString(",\n               ")
      val cellUnion = cellDefs.map { case (id, alias, _) =>
        s"SELECT '$id' AS id, CAST($alias AS DOUBLE) AS value FROM agg"
      }.mkString("\n        UNION ALL ")
      def sideSql(ids: Seq[String]): String =
        if (ids.isEmpty) "CAST(0.0 AS DOUBLE)"
        else {
          val in = ids.map(c => s"'$c'").mkString(", ")
          s"CAST(sum(CASE WHEN id IN ($in) THEN CAST(value AS DECIMAL(38,2)) ELSE CAST(0.0 AS DECIMAL(38,2)) END) AS DOUBLE)"
        }
      val ruleUnion = corepAllRules.map { r =>
        val rhsSql = if (r.rhsScale == 1.0) sideSql(r.rhs)
          else s"(${sideSql(r.rhs)} * CAST(${r.rhsScale} AS DOUBLE))"
        s"""SELECT '${r.id}' AS rule_id, '${r.severity}' AS severity,
           ${sideSql(r.lhs)} AS lhs_total,
           $rhsSql AS rhs_total
         FROM cells"""
      }.mkString("\n        UNION ALL ")
      val statusCase = corepAllRules.map { r =>
        val cond = r.op match {
          case "eq" => s"abs(lhs_total - rhs_total) <= ${r.tol}"
          case "le" => s"lhs_total - rhs_total <= ${r.tol}"
          case _ => s"rhs_total - lhs_total <= ${r.tol}"
        }
        s"WHEN rule_id = '${r.id}' THEN CASE WHEN $cond THEN 'pass' ELSE 'fail' END"
      }.mkString("CASE ", " ", " ELSE 'fail' END")
      s"""
      WITH $domainLedgerCtes,
      agg AS MATERIALIZED (
        SELECT $aggSelect
        FROM final),
      cells AS MATERIALIZED (
        $cellUnion),
      vals AS (
        $ruleUnion),
      vout AS (
        SELECT rule_id, severity, lhs_total, rhs_total,
               lhs_total - rhs_total AS diff,
               $statusCase AS status
        FROM vals)
      SELECT * FROM (
        SELECT 'cell' AS section, id, NULL::VARCHAR AS severity, value,
               NULL::DOUBLE AS lhs_total, NULL::DOUBLE AS rhs_total,
               NULL::DOUBLE AS diff, NULL::VARCHAR AS status
        FROM cells
        UNION ALL
        SELECT 'validation', rule_id, severity, NULL::DOUBLE,
               lhs_total, rhs_total, diff, status
        FROM vout)
      ORDER BY section, id
      """.stripMargin.trim
    })

  // ---- q95: the full SA calculator over a derived two-regime book ------

  private def sqlLookupI(key: String, table: Seq[(Int, Double)], default: String): String =
    table.map { case (k, v) => s"WHEN $key = $k THEN ${d(v)}" }
      .mkString("CASE ", " ", s" ELSE $default END")

  /** q95: `SaKernel` end-to-end — sovereign/RGLA/PSE/MDB routing with
    * local-currency and equivalent-jurisdiction preferences, CRR
    * sovereign-CQS fallback tables vs B3.1 ECRA/SCRA, retail sub-classes,
    * the CRR Art. 125/126 and B3.1 Art. 124F/H real-estate blends and
    * Table 6B bands, ADC, the defaulted 20% provision test, covered
    * bonds, and the CRR SME/infrastructure RWEA factors. Attributes are
    * modular-arithmetic derivations of the order/customer keys so every
    * route fires; the oracle mirrors the kernel CASE-for-CASE with the
    * lookup tables rendered from the same Scala data. The kernel's
    * constants are independently pinned by SaOracleDerivationsSpec (104
    * hand-derived regulatory values).
    */
  val q95SaPortfolio = QueryDef(
    "q95_sa_portfolio",
    (s, dir) => {
      import graft.engine.SaKernel
      val o = Tables.orders(s, dir)
      val classChain =
        when(col("o_orderkey") % 37 === 0, "defaulted")
          .when(col("o_custkey") % 53 === 0, "high_risk")
          .when(col("o_orderkey") % 12 === 0, "central_govt_central_bank")
          .when(col("o_orderkey") % 12 === 1, "rgla")
          .when(col("o_orderkey") % 12 === 2, "pse")
          .when(col("o_orderkey") % 12 === 3, "mdb")
          .when(col("o_orderkey") % 12 === 4, "international_organisation")
          .when(col("o_orderkey") % 12 === 5, "institution")
          .when(col("o_orderkey") % 12 === 6, "retail_other")
          .when(col("o_orderkey") % 12 === 7, "retail_mortgage")
          .when(col("o_orderkey") % 12 === 8, "commercial_mortgage")
          .when(col("o_orderkey") % 12 === 9, "covered_bond")
          .when(col("o_orderkey") % 12 === 10, "corporate_sme")
          .otherwise("corporate")
      val attrs = o.select(
        when(col("o_custkey") % 2 === 0, "CRR").otherwise("BASEL_3_1").as("framework"),
        lit("SA").as("approach"),
        classChain.as("exposure_class"),
        when(col("o_custkey") % 3 === 0, "mdb_named")
          .when(col("o_orderkey") % 10 === 0, "rgla_sovereign")
          .otherwise("generic").as("entity_type"),
        when(col("o_custkey") % 5 === 1, "GB")
          .when(col("o_custkey") % 5 === 2, "FR")
          .otherwise("US").as("country_code"),
        when(col("o_orderkey") % 13 === 0, 0.25)
          .otherwise(lit(1.0) + (col("o_orderkey") % 5).cast("double"))
          .as("original_maturity_years"),
        col("o_totalprice").as("ead"),
        when((col("o_custkey") % 8).between(1, 6),
          (col("o_custkey") % 8).cast("int")).as("cqs"),
        when((col("o_orderkey") % 9).between(1, 6),
          (col("o_orderkey") % 9).cast("int")).as("sovereign_cqs"),
        when(col("o_custkey") % 5 === 0, "USD").when(col("o_custkey") % 5 === 1, "GBP")
          .when(col("o_custkey") % 5 === 2, "EUR").when(col("o_custkey") % 5 === 3, "JPY")
          .otherwise("ZAR").as("currency"),
        when(col("o_custkey") % 4 === 0, "GBP").as("local_currency"),
        (col("o_orderkey") % 2 === 0).as("cp_is_natural_person"),
        (col("o_orderkey") % 7 =!= 0).as("qualifies_as_retail"),
        (col("o_orderkey") % 5 === 0).as("is_payroll_loan"),
        (col("o_orderkey") % 3 === 0).as("is_qrre_transactor"),
        (lit(0.3) + (col("o_orderkey") % 80) * lit(0.01)).as("ltv"),
        when(col("o_orderkey") % 12 === 7, "residential")
          .when(col("o_custkey") % 2 === 0, "commercial").otherwise("residential")
          .as("property_type"),
        (col("o_custkey") % 3 === 1).as("has_income_cover"),
        (col("o_orderkey") % 11 === 0).as("is_adc"),
        (col("o_orderkey") % 22 === 0).as("is_presold"),
        (col("o_orderkey") % 37 === 0).as("is_defaulted"),
        when(col("o_orderkey") % 2 === 0, col("o_totalprice") * 0.25)
          .otherwise(col("o_totalprice") * 0.1).as("provision_allocated"),
        when(col("o_custkey") % 7 === 0, "A").when(col("o_custkey") % 7 === 1, "B")
          .when(col("o_custkey") % 7 === 2, "C")
          .when(col("o_custkey") % 7 === 3, "A_ENHANCED").as("scra_grade"),
        (col("o_custkey") % 6 === 0).as("is_equivalent_jurisdiction"),
        (col("o_orderkey") % 2 === 0).as("is_sme"),
        (col("o_orderkey") % 4 === 0).as("is_investment_grade"),
        (col("o_orderkey") % 8 === 0).as("use_investment_grade_assessment"),
        (col("o_custkey") % 17 === 0).as("is_infrastructure"),
        lit(null).cast("string").as("equity_type"),
        lit(false).as("is_diversified"),
        lit(false).as("is_exchange_traded"),
        lit(null).cast("string").as("permission"),
        lit(null).cast("string").as("slotting_category"),
        lit(false).as("is_short_maturity"),
        lit(false).as("is_hvcre"))
      SaKernel.calculate(attrs)
        .groupBy(col("framework"), col("exposure_class"))
        .agg(
          count(lit(1)).as("n_exposures"),
          dsum(q6(col("risk_weight")), 6).as("sum_rw"),
          dsum(q2(col("rwa")), 2).as("total_rwa"))
        .orderBy(col("framework"), col("exposure_class"))
    },
    Some {
      import graft.engine.SaKernel._
      val cpty = "CASE WHEN cp_is_natural_person THEN 0.75 ELSE 1.0 END"
      def blend(secShare: Double, secRw: Double, restRw: String): String = {
        val frac = s"least($secShare / ltv, 1.0)"
        s"($frac) * $secRw + (1.0 - ($frac)) * ($restRw)"
      }
      val resiBands = b31IpreResiBands
        .map { case (ub, v) => s"WHEN ltv <= $ub THEN ${d(v)}" }
        .mkString("CASE ", " ", s" ELSE ${d(b31IpreResiTerminal)} END")
      s"""
      WITH attrs AS (
        SELECT CASE WHEN o_custkey % 2 = 0 THEN 'CRR' ELSE 'BASEL_3_1' END AS framework,
               CASE WHEN o_orderkey % 37 = 0 THEN 'defaulted'
                    WHEN o_custkey % 53 = 0 THEN 'high_risk'
                    WHEN o_orderkey % 12 = 0 THEN 'central_govt_central_bank'
                    WHEN o_orderkey % 12 = 1 THEN 'rgla'
                    WHEN o_orderkey % 12 = 2 THEN 'pse'
                    WHEN o_orderkey % 12 = 3 THEN 'mdb'
                    WHEN o_orderkey % 12 = 4 THEN 'international_organisation'
                    WHEN o_orderkey % 12 = 5 THEN 'institution'
                    WHEN o_orderkey % 12 = 6 THEN 'retail_other'
                    WHEN o_orderkey % 12 = 7 THEN 'retail_mortgage'
                    WHEN o_orderkey % 12 = 8 THEN 'commercial_mortgage'
                    WHEN o_orderkey % 12 = 9 THEN 'covered_bond'
                    WHEN o_orderkey % 12 = 10 THEN 'corporate_sme'
                    ELSE 'corporate' END AS exposure_class,
               CASE WHEN o_custkey % 3 = 0 THEN 'mdb_named'
                    WHEN o_orderkey % 10 = 0 THEN 'rgla_sovereign'
                    ELSE 'generic' END AS entity_type,
               CASE WHEN o_custkey % 5 = 1 THEN 'GB'
                    WHEN o_custkey % 5 = 2 THEN 'FR'
                    ELSE 'US' END AS country_code,
               CASE WHEN o_orderkey % 13 = 0 THEN 0.25
                    ELSE 1.0 + o_orderkey % 5 END AS original_maturity_years,
               o_totalprice AS ead,
               CASE WHEN o_custkey % 8 BETWEEN 1 AND 6 THEN o_custkey % 8 END AS cqs,
               CASE WHEN o_orderkey % 9 BETWEEN 1 AND 6 THEN o_orderkey % 9 END AS sovereign_cqs,
               CASE WHEN o_custkey % 5 = 0 THEN 'USD' WHEN o_custkey % 5 = 1 THEN 'GBP'
                    WHEN o_custkey % 5 = 2 THEN 'EUR' WHEN o_custkey % 5 = 3 THEN 'JPY'
                    ELSE 'ZAR' END AS currency,
               CASE WHEN o_custkey % 4 = 0 THEN 'GBP' END AS local_currency,
               o_orderkey % 2 = 0 AS cp_is_natural_person,
               o_orderkey % 7 <> 0 AS qualifies_as_retail,
               o_orderkey % 5 = 0 AS is_payroll_loan,
               o_orderkey % 3 = 0 AS is_qrre_transactor,
               0.3 + (o_orderkey % 80) * 0.01 AS ltv,
               CASE WHEN o_orderkey % 12 = 7 THEN 'residential'
                    WHEN o_custkey % 2 = 0 THEN 'commercial' ELSE 'residential' END AS property_type,
               o_custkey % 3 = 1 AS has_income_cover,
               o_orderkey % 11 = 0 AS is_adc,
               o_orderkey % 22 = 0 AS is_presold,
               o_orderkey % 37 = 0 AS is_defaulted,
               CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 0.25
                    ELSE o_totalprice * 0.1 END AS provision_allocated,
               CASE WHEN o_custkey % 7 = 0 THEN 'A' WHEN o_custkey % 7 = 1 THEN 'B'
                    WHEN o_custkey % 7 = 2 THEN 'C'
                    WHEN o_custkey % 7 = 3 THEN 'A_ENHANCED' END AS scra_grade,
               o_custkey % 6 = 0 AS is_equivalent_jurisdiction,
               o_orderkey % 2 = 0 AS is_sme,
               o_orderkey % 4 = 0 AS is_investment_grade,
               o_orderkey % 8 = 0 AS use_investment_grade_assessment,
               o_custkey % 17 = 0 AS is_infrastructure
        FROM orders),
      routed AS (
        SELECT *,
          framework = 'CRR' AS crr,
          currency IS NOT NULL AND local_currency IS NOT NULL
            AND currency = local_currency AS is_local,
          coalesce(country_code = 'GB', false) AS is_uk,
          coalesce(country_code = 'GB', false)
            AND coalesce(currency = 'GBP', false) AS is_uk_domestic
        FROM attrs),
      weighted AS (
        SELECT *,
          CASE
            WHEN exposure_class = 'defaulted' THEN
              CASE WHEN provision_allocated / (ead + provision_allocated) >= 0.2
                   THEN 1.0 ELSE 1.5 END
            WHEN exposure_class = 'high_risk' THEN 1.5
            WHEN exposure_class = 'central_govt_central_bank' THEN
              CASE WHEN is_local THEN 0.0
                   ELSE ${sqlLookupI("cqs", sovereignT1, "CAST(1.0 AS DOUBLE)")} END
            WHEN exposure_class = 'rgla' THEN
              CASE WHEN entity_type = 'rgla_sovereign'
                        AND (is_uk OR (sovereign_cqs IS NOT NULL AND sovereign_cqs > 0)) THEN
                     CASE WHEN is_uk_domestic THEN 0.0
                          ELSE ${sqlLookupI("sovereign_cqs", sovereignT1, "CAST(0.0 AS DOUBLE)")} END
                   WHEN is_uk_domestic THEN 0.2
                   WHEN cqs IS NOT NULL
                     THEN ${sqlLookupI("cqs", b31RglaT1b, "CAST(1.0 AS DOUBLE)")}
                   WHEN sovereign_cqs IS NOT NULL
                     THEN ${sqlLookupI("sovereign_cqs", b31RglaT1a, "CAST(1.0 AS DOUBLE)")}
                   ELSE 1.0 END
            WHEN exposure_class = 'pse' THEN
              CASE WHEN NOT (is_uk OR coalesce(is_equivalent_jurisdiction, false)) THEN 1.0
                   WHEN is_uk AND original_maturity_years <= 0.25 THEN 0.2
                   WHEN cqs IS NOT NULL
                     THEN ${sqlLookupI("cqs", b31PseT2a, "CAST(1.0 AS DOUBLE)")}
                   WHEN sovereign_cqs IS NOT NULL
                     THEN ${sqlLookupI("sovereign_cqs", pseT2, "CAST(1.0 AS DOUBLE)")}
                   ELSE 1.0 END
            WHEN exposure_class = 'mdb' THEN
              CASE WHEN entity_type = 'mdb_named' THEN 0.0
                   WHEN crr THEN
                     CASE WHEN cqs IS NOT NULL
                            THEN ${sqlLookupI("cqs", crrInstitutionT3, "CAST(1.0 AS DOUBLE)")}
                          WHEN sovereign_cqs IS NOT NULL
                            THEN ${sqlLookupI("sovereign_cqs", crrInstitutionT5, "CAST(1.0 AS DOUBLE)")}
                          ELSE 1.0 END
                   WHEN cqs IS NOT NULL
                     THEN ${sqlLookupI("cqs", b31MdbT2b, "CAST(1.0 AS DOUBLE)")}
                   ELSE 0.5 END
            WHEN exposure_class = 'international_organisation' THEN 0.0
            WHEN exposure_class = 'institution' THEN
              CASE WHEN crr THEN
                     CASE WHEN cqs IS NOT NULL
                            THEN ${sqlLookupI("cqs", crrInstitutionT3, "CAST(1.0 AS DOUBLE)")}
                          WHEN sovereign_cqs IS NOT NULL
                            THEN ${sqlLookupI("sovereign_cqs", crrInstitutionT5, "CAST(1.0 AS DOUBLE)")}
                          ELSE 1.0 END
                   WHEN cqs IS NOT NULL
                     THEN ${sqlLookupI("cqs", b31InstitutionT3, "CAST(1.0 AS DOUBLE)")}
                   WHEN scra_grade = 'A_ENHANCED' THEN 0.3
                   WHEN scra_grade = 'A' THEN 0.4
                   WHEN scra_grade = 'B' THEN 0.75
                   WHEN scra_grade = 'C' THEN 1.5
                   ELSE 1.5 END
            WHEN exposure_class IN ('retail_other', 'retail_qrre') THEN
              CASE WHEN coalesce(is_payroll_loan, false) THEN 0.35
                   WHEN NOT crr AND coalesce(is_qrre_transactor, false) THEN 0.45
                   WHEN coalesce(qualifies_as_retail, false) THEN 0.75
                   ELSE 1.0 END
            WHEN exposure_class = 'retail_mortgage' THEN
              CASE WHEN crr THEN ${blend(0.8, 0.35, cpty)}
                   WHEN coalesce(has_income_cover, false) THEN $resiBands
                   ELSE ${blend(0.55, 0.20, cpty)} END
            WHEN exposure_class IN ('commercial_mortgage', 'residential_mortgage') THEN
              CASE WHEN coalesce(is_adc, false) THEN
                     CASE WHEN coalesce(is_presold, false) AND property_type = 'residential'
                          THEN 1.0 ELSE 1.5 END
                   WHEN crr THEN
                     CASE WHEN coalesce(has_income_cover, false)
                          THEN ${blend(0.5, 0.5, "1.0")} ELSE 1.0 END
                   WHEN coalesce(has_income_cover, false) THEN
                     CASE WHEN ltv <= 0.8 THEN 1.0 ELSE 1.1 END
                   ELSE ${blend(0.55, 0.60, cpty)} END
            WHEN exposure_class = 'covered_bond' THEN
              ${sqlLookupI("cqs", coveredBondT6a, "CAST(1.0 AS DOUBLE)")}
            WHEN exposure_class = 'corporate_sme' THEN
              CASE WHEN crr THEN
                     CASE WHEN cqs IS NOT NULL
                            THEN ${sqlLookupI("cqs", crrCorporateT6, "CAST(1.0 AS DOUBLE)")}
                          ELSE 1.0 END
                   WHEN cqs IS NOT NULL
                     THEN ${sqlLookupI("cqs", b31CorporateT6, "CAST(1.0 AS DOUBLE)")}
                   ELSE 0.85 END
            WHEN exposure_class = 'corporate' THEN
              CASE WHEN crr THEN
                     CASE WHEN cqs IS NOT NULL
                            THEN ${sqlLookupI("cqs", crrCorporateT6, "CAST(1.0 AS DOUBLE)")}
                          ELSE 1.0 END
                   WHEN cqs IS NOT NULL
                     THEN ${sqlLookupI("cqs", b31CorporateT6, "CAST(1.0 AS DOUBLE)")}
                   WHEN coalesce(use_investment_grade_assessment, false)
                        AND coalesce(is_investment_grade, false) THEN 0.65
                   ELSE 1.0 END
            ELSE 1.0
          END AS risk_weight
        FROM routed),
      rwafinal AS (
        SELECT *,
          CASE WHEN crr AND exposure_class = 'corporate_sme' AND coalesce(is_sme, false)
                 THEN (risk_weight * ead) *
                      ((least(ead, 2500000.0) * 0.7619 +
                        greatest(ead - 2500000.0, 0.0) * 0.85) / ead)
               WHEN crr AND coalesce(is_infrastructure, false)
                 THEN (risk_weight * ead) * 0.75
               ELSE risk_weight * ead END AS rwa
        FROM weighted)
      SELECT framework, exposure_class,
             count(*) AS n_exposures,
             ${sqlDsum(sql6("risk_weight"), 6)} AS sum_rw,
             ${sqlDsum(sql2("rwa"), 2)} AS total_rwa
      FROM rwafinal
      GROUP BY framework, exposure_class
      ORDER BY framework, exposure_class
      """.stripMargin.trim
    })

  // ---- q98: securitisation allocator ----------------------------------

  /** q98: the securitisation allocator (reference
    * `engine/securitisation/allocator.py:84-90,250`): per exposure,
    * build the `securitisation_pool_allocations` ARRAY<STRUCT<pool_reference,
    * allocation_pct>> column — the one nested output type in the
    * reference schema (`contracts/edges.py:757-758`) — as a
    * deterministic sort_array(collect_list(struct(...))) over the
    * per-pool weight shares, then explode it back and allocate EAD
    * pro-rata, with a conservation section proving the shares
    * reconstitute each exposure. The oracle computes the identical
    * values at the exploded grain (the array is built and consumed
    * in-plan; DuckDB never needs to materialise it).
    */
  val q98SecuritisationAllocator = QueryDef(
    "q98_securitisation_allocator",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      val slices = li.groupBy(
          col("l_orderkey"),
          concat(lit("POOL-"), (col("l_partkey") % 20).cast("string")).as("pool_reference"))
        .agg(dsum(col("l_quantity"), 2).as("pool_weight"))
      val wTot = Window.partitionBy(col("l_orderkey"))
      val withPct = slices
        .withColumn("total_weight", dsumOver(col("pool_weight"), 2, wTot))
        .withColumn("allocation_pct", q6(col("pool_weight") / col("total_weight")))
      // the nested output column, deterministic ordering
      val allocations = withPct.groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(
          struct(col("pool_reference"), col("allocation_pct")))).as("securitisation_pool_allocations"))
      // persisted: consumed by BOTH union branches below, and Catalyst
      // does not CSE across union/join branches — unpersisted, the whole
      // scan→agg→window→collect_list→join→explode chain executed twice
      // (r19; the crmWaterfall withRw precedent in the verify recipe)
      val exploded = allocations
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"),
          explode(col("securitisation_pool_allocations")).as("alloc"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("alloc.pool_reference").as("pool_reference"),
          q2(col("o_totalprice") * col("alloc.allocation_pct")).as("allocated_ead"))
        .transform(graft.SessionScope.persist)
      val perPool = exploded.groupBy(col("pool_reference"))
        .agg(count(lit(1)).as("n"), dsum(col("allocated_ead"), 2).as("total_allocated"))
        .select(lit("pool").as("section"), col("pool_reference").as("ref"),
          col("n"), col("total_allocated"))
      val conservation = exploded.groupBy(col("o_orderkey"), col("o_totalprice"))
        .agg(dsum(col("allocated_ead"), 2).as("order_allocated"),
          count(lit(1)).as("n_slices"))
        .agg(
          count(when(abs(col("order_allocated") - col("o_totalprice")) >
            col("n_slices") * lit(0.01), lit(1))).as("n_violations"),
          count(lit(1)).as("n_orders"))
        .select(lit("conservation").as("section"), lit("check").as("ref"),
          col("n_violations").as("n"), col("n_orders").cast("double").as("total_allocated"))
      perPool.unionByName(conservation).orderBy(col("section"), col("ref"))
    },
    Some(s"""
      WITH slices AS (
        SELECT l_orderkey,
               'POOL-' || CAST(l_partkey % 20 AS VARCHAR) AS pool_reference,
               ${sqlDsum("l_quantity", 2)} AS pool_weight
        FROM lineitem GROUP BY l_orderkey, pool_reference),
      with_pct AS (
        SELECT *,
          ${sqlDsumOver("pool_weight", 2, "PARTITION BY l_orderkey")} AS total_weight
        FROM slices),
      pct AS (
        SELECT l_orderkey, pool_reference,
               ${sql6("pool_weight / total_weight")} AS allocation_pct
        FROM with_pct),
      exploded AS (
        SELECT o_orderkey, o_totalprice, pool_reference,
               ${sql2("o_totalprice * allocation_pct")} AS allocated_ead
        FROM pct JOIN orders ON l_orderkey = o_orderkey),
      per_pool AS (
        SELECT 'pool' AS section, pool_reference AS ref, count(*) AS n,
               ${sqlDsum("allocated_ead", 2)} AS total_allocated
        FROM exploded GROUP BY pool_reference),
      per_order AS (
        SELECT o_orderkey, o_totalprice,
               ${sqlDsum("allocated_ead", 2)} AS order_allocated,
               count(*) AS n_slices
        FROM exploded GROUP BY o_orderkey, o_totalprice),
      conservation AS (
        SELECT 'conservation' AS section, 'check' AS ref,
               count(CASE WHEN abs(order_allocated - o_totalprice) > n_slices * 0.01
                          THEN 1 END) AS n,
               CAST(count(*) AS DOUBLE) AS total_allocated
        FROM per_order)
      SELECT * FROM (SELECT * FROM per_pool UNION ALL SELECT * FROM conservation)
      ORDER BY section, ref
    """.stripMargin.trim))

  // ---- q99: transition matrix + attribution ----------------------------

  /** q99: period-over-period migration matrix + the attribution
    * roll-forward (reference `analysis/transition.py`,
    * `analysis/attribution.py` neutral attributor): two derived
    * snapshots (period B migrates classes on seeded keys and rescales
    * EAD), the (from → to) matrix, and the per-class bridge
    * closing = opening + inflow − outflow + growth with every term an
    * exact decimal sum — plus an identity-check row proving the bridge
    * closes to the cent. One join + class-grain shuffles.
    */
  val q99Transition = QueryDef(
    "q99_transition",
    (s, dir) => {
      import graft.analysis.Transition
      val o = Tables.orders(s, dir)
      def classChain(k: org.apache.spark.sql.Column) =
        when(k % 4 === 0, "corporate").when(k % 4 === 1, "retail")
          .when(k % 4 === 2, "sovereign").otherwise("institution")
      val periodA = o.select(
        col("o_orderkey"), classChain(col("o_orderkey")).as("exposure_class"),
        col("o_totalprice").as("ead"))
      val shift = when(col("o_orderkey") % 19 === 0, 1)
        .when(col("o_orderkey") % 23 === 0, 3).otherwise(0)
      val factor = when(col("o_orderkey") % 3 === 0, 1.25)
        .when(col("o_orderkey") % 3 === 1, 0.8).otherwise(1.0)
      val periodB = o.select(
        col("o_orderkey"),
        classChain(col("o_orderkey") + shift).as("exposure_class"),
        q2(col("o_totalprice") * factor).as("ead"))
      val j = Transition.joined(periodA, periodB, "o_orderkey",
        "exposure_class", "ead")
      // ONE pass over the joined snapshots: the matrix and all five
      // attribution measures regroup the persisted #classes² decimal
      // cell grid (exact-sum-identical; decimal addition is associative)
      // — the former shape re-executed the join once for the matrix and
      // five more times per attribution consumer (r19, guide §2.3)
      // coalesce(1) before the persist: the grid is ≤ #classes² rows BY
      // CONSTRUCTION at any corpus size, but the aggregation leaves it in
      // shuffle-partition-count partitions, so every downstream regroup
      // (matrix + five attribution measures + bridge) ran as a full
      // task-per-partition stage — ten 32-task stages over ≤256 rows,
      // pure scheduler overhead (probe, r20). One partition makes each a
      // 1-task stage; the map-side partial aggregation of the big joined
      // frame stays fully parallel (coalesce is narrow, it only merges
      // the final-agg read side).
      val cells = Transition.cells(j).coalesce(1)
        .transform(graft.SessionScope.persist)
      val matrix = Transition.matrixFromCells(cells).select(
        lit("matrix").as("section"), col("class_from"), col("class_to"),
        col("n"), col("opening_measure").as("opening"),
        col("closing_measure").as("closing"),
        lit(null).cast("double").as("inflow"),
        lit(null).cast("double").as("outflow"),
        lit(null).cast("double").as("growth"))
      val attr = Transition.attributionFromCells(cells)
      val attrRows = attr.select(
        lit("attribution").as("section"), col("cls").as("class_from"),
        lit(null).cast("string").as("class_to"),
        lit(null).cast("long").as("n"),
        col("opening"), col("closing"), col("inflow"), col("outflow"),
        col("growth"))
      val check = attr.agg(
        count(when(abs(col("closing") -
          (col("opening") + col("inflow") - col("outflow") + col("growth")))
          > 0.005, lit(1))).as("n"))
        .select(lit("check").as("section"),
          lit("bridge_violations").as("class_from"),
          lit(null).cast("string").as("class_to"), col("n"),
          lit(null).cast("double").as("opening"),
          lit(null).cast("double").as("closing"),
          lit(null).cast("double").as("inflow"),
          lit(null).cast("double").as("outflow"),
          lit(null).cast("double").as("growth"))
      matrix.unionByName(attrRows).unionByName(check)
        .orderBy(col("section"), col("class_from"),
          coalesce(col("class_to"), lit("")))
    },
    Some(s"""
      WITH a AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 4 = 0 THEN 'corporate'
                    WHEN o_orderkey % 4 = 1 THEN 'retail'
                    WHEN o_orderkey % 4 = 2 THEN 'sovereign'
                    ELSE 'institution' END AS class_from,
               o_totalprice AS measure_from
        FROM orders),
      b AS (
        SELECT o_orderkey,
               CASE WHEN (o_orderkey + (CASE WHEN o_orderkey % 19 = 0 THEN 1
                                             WHEN o_orderkey % 23 = 0 THEN 3
                                             ELSE 0 END)) % 4 = 0 THEN 'corporate'
                    WHEN (o_orderkey + (CASE WHEN o_orderkey % 19 = 0 THEN 1
                                             WHEN o_orderkey % 23 = 0 THEN 3
                                             ELSE 0 END)) % 4 = 1 THEN 'retail'
                    WHEN (o_orderkey + (CASE WHEN o_orderkey % 19 = 0 THEN 1
                                             WHEN o_orderkey % 23 = 0 THEN 3
                                             ELSE 0 END)) % 4 = 2 THEN 'sovereign'
                    ELSE 'institution' END AS class_to,
               ${sql2("o_totalprice * (CASE WHEN o_orderkey % 3 = 0 THEN 1.25 " +
                 "WHEN o_orderkey % 3 = 1 THEN 0.8 ELSE 1.0 END)")} AS measure_to
        FROM orders),
      j AS (SELECT * FROM a JOIN b USING (o_orderkey)),
      matrix AS (
        SELECT 'matrix' AS section, class_from, class_to,
               count(*) AS n,
               ${sqlDsum("measure_from", 2)} AS opening,
               ${sqlDsum("measure_to", 2)} AS closing,
               NULL::DOUBLE AS inflow, NULL::DOUBLE AS outflow,
               NULL::DOUBLE AS growth
        FROM j GROUP BY class_from, class_to),
      opening AS (
        SELECT class_from AS cls, ${sqlDsum("measure_from", 2)} AS opening
        FROM j GROUP BY class_from),
      closing AS (
        SELECT class_to AS cls, ${sqlDsum("measure_to", 2)} AS closing
        FROM j GROUP BY class_to),
      inflow AS (
        SELECT class_to AS cls, ${sqlDsum("measure_from", 2)} AS inflow
        FROM j WHERE class_from <> class_to GROUP BY class_to),
      outflow AS (
        SELECT class_from AS cls, ${sqlDsum("measure_from", 2)} AS outflow
        FROM j WHERE class_from <> class_to GROUP BY class_from),
      growth AS (
        SELECT class_to AS cls, ${sqlDsum("measure_to - measure_from", 2)} AS growth
        FROM j GROUP BY class_to),
      attr AS (
        SELECT cls,
               coalesce(opening, 0.0) AS opening,
               coalesce(inflow, 0.0) AS inflow,
               coalesce(outflow, 0.0) AS outflow,
               coalesce(growth, 0.0) AS growth,
               coalesce(closing, 0.0) AS closing
        FROM opening
        FULL OUTER JOIN closing USING (cls)
        FULL OUTER JOIN inflow USING (cls)
        FULL OUTER JOIN outflow USING (cls)
        FULL OUTER JOIN growth USING (cls)),
      attr_rows AS (
        SELECT 'attribution' AS section, cls AS class_from,
               NULL::VARCHAR AS class_to, NULL::BIGINT AS n,
               opening, closing, inflow, outflow, growth
        FROM attr),
      chk AS (
        SELECT 'check' AS section, 'bridge_violations' AS class_from,
               NULL::VARCHAR AS class_to,
               count(CASE WHEN abs(closing - (opening + inflow - outflow + growth))
                          > 0.005 THEN 1 END) AS n,
               NULL::DOUBLE AS opening, NULL::DOUBLE AS closing,
               NULL::DOUBLE AS inflow, NULL::DOUBLE AS outflow,
               NULL::DOUBLE AS growth
        FROM attr)
      SELECT * FROM (
        SELECT * FROM matrix UNION ALL SELECT * FROM attr_rows
        UNION ALL SELECT * FROM chk)
      ORDER BY section, class_from, coalesce(class_to, '')
    """.stripMargin.trim))

  // ---- q102: Pillar-3 CR4 disclosure -----------------------------------

  /** q102: Pillar-3 template CR4 — "SA exposures and CRM effects"
    * (reference `reporting/pillar3/cr4.py`; CRR Art. 444(e)): the SA
    * credit-risk population by exposure class, exposures before CCF/CRM
    * (on/off balance sheet), the post-CCF/post-CRM-deduction exposure
    * value, RWEA and RWEA density, plus the total row.
    *
    * Spark-first shape: the class rows AND the total row come from ONE
    * `rollup` aggregate (grouping-sets — a single shuffle producing both
    * grains), not a union of two scans; density is derived post-agg on
    * the 6-row result. Sum columns follow the decimal discipline (the
    * CCF product is q2-quantised per row, then summed at scale 2 — the
    * magnitude-safe form). */
  val q102Pillar3Cr4 = QueryDef(
    "q102_pillar3_cr4",
    (s, dir) => {
      val led = DomainPipeline.ledger(s, dir).filter(col("approach") === "SA")
      led.rollup(col("exposure_class"))
        .agg(
          dsum(col("drawn_base"), 2).as("on_bs_pre"),
          dsum(col("undrawn_base"), 2).as("off_bs_pre"),
          dsum(greatest(col("drawn_base") - col("provision_on_drawn"), lit(0.0)), 2)
            .as("on_bs_post"),
          dsum(q2((col("undrawn_base") - col("provision_on_nominal")) * col("ccf_eff")), 2)
            .as("off_bs_post"),
          dsum(col("rwa"), 2).as("rwea"))
        .select(
          coalesce(col("exposure_class"), lit("total")).as("row_id"),
          col("on_bs_pre"), col("off_bs_pre"), col("on_bs_post"),
          col("off_bs_post"), col("rwea"),
          when(col("on_bs_post") + col("off_bs_post") > 0,
            q6(col("rwea") / (col("on_bs_post") + col("off_bs_post"))))
            .as("rwea_density"))
        .orderBy(col("row_id"))
    },
    Some(s"""
      WITH $domainLedgerCtes,
      rows_ AS (
        SELECT coalesce(exposure_class, 'total') AS row_id,
               ${sqlDsum("drawn_base", 2)} AS on_bs_pre,
               ${sqlDsum("undrawn_base", 2)} AS off_bs_pre,
               ${sqlDsum("greatest(drawn_base - provision_on_drawn, 0.0)", 2)} AS on_bs_post,
               ${sqlDsum(sql2("(undrawn_base - provision_on_nominal) * ccf_eff"), 2)} AS off_bs_post,
               ${sqlDsum("rwa", 2)} AS rwea
        FROM final WHERE approach = 'SA'
        GROUP BY ROLLUP (exposure_class))
      SELECT row_id, on_bs_pre, off_bs_pre, on_bs_post, off_bs_post, rwea,
             CASE WHEN on_bs_post + off_bs_post > 0
                  THEN ${sql6("rwea / (on_bs_post + off_bs_post)")} END AS rwea_density
      FROM rows_
      ORDER BY row_id
    """.stripMargin.trim))

  // ---- q103: CIU holdings look-through ---------------------------------

  /** q103: CIU (fund) holdings look-through — CRR Art. 132-132C
    * (reference `engine/equity/calculator.py:414-520`
    * `_resolve_look_through_rw` + `_append_ciu_branches`):
    *
    *  - the holdings book joins the (class, cqs) SA risk-weight table and
    *    aggregates a value-weighted effective RW per fund (look-through)
    *    plus the worst-asset RW (mandate-based proxy);
    *  - each fund position resolves its RW by approach: look_through /
    *    mandate_based take the computed fund RW × the Art. 132(4) 1.2
    *    third-party multiplier (waived on unrestricted access), capped at
    *    the 1250% fallback; unknown funds and the fallback approach take
    *    1250% outright.
    *
    * Scale shape: holdings aggregate to fund grain BEFORE joining
    * positions (the join carries 2 doubles per fund, not the holdings
    * book); the RW table is broadcast; one shuffle on fund_reference.
    */
  val q103CiuLookthrough = QueryDef(
    "q103_ciu_lookthrough",
    (s, dir) => {
      import s.implicits._
      val pt = Tables.part(s, dir)
      val o = Tables.orders(s, dir)
      val rw = broadcast(DomainPipeline.rwTable.toDF("rw_class", "rw_cqs", "rw"))
      val classChain = when(col("p_size") % 4 === 0, "sovereign")
        .when(col("p_size") % 4 === 1, "institution")
        .when(col("p_size") % 4 === 2, "corporate")
        .otherwise("retail")
      val holdings = pt.select(
          concat(lit("FUND-"), (col("p_partkey") % 40).cast("string")).as("fund_reference"),
          classChain.as("holding_class"),
          (lit(1) + col("p_partkey") % 6).cast("int").as("holding_cqs"),
          q2(col("p_retailprice") * col("p_size")).as("holding_value"))
        .join(rw, col("holding_class") === col("rw_class") &&
                  col("holding_cqs") === col("rw_cqs"), "left")
        .withColumn("holding_rw", coalesce(col("rw"), lit(1.0)))
      val fundRw = holdings.groupBy(col("fund_reference")).agg(
        q6(dsum(col("holding_value") * col("holding_rw"), 6) /
           dsum(col("holding_value"), 2)).as("fund_rw_lt"),
        max(col("holding_rw")).as("fund_rw_mandate"))
      val approachChain = when(col("o_orderkey") % 3 === 0, "look_through")
        .when(col("o_orderkey") % 3 === 1, "mandate_based")
        .otherwise("fallback")
      val positions = o.filter(col("o_orderpriority") === "1-URGENT").select(
        concat(lit("FUND-"), (col("o_orderkey") % 40).cast("string")).as("fund_reference"),
        approachChain.as("ciu_approach"),
        q2(col("o_totalprice") * 0.10).as("position_value"),
        (col("o_custkey") % 2 === 0).as("third_party_calc"),
        (col("o_custkey") % 4 === 0).as("unrestricted_access"))
      positions.join(fundRw, Seq("fund_reference"), "left")
        .withColumn("multiplier",
          when(col("third_party_calc") && !col("unrestricted_access"), 1.2)
            .otherwise(1.0))
        .withColumn("effective_rw",
          when(col("ciu_approach") === "fallback", 12.5)
            .when(col("ciu_approach") === "mandate_based",
              coalesce(least(q6(col("fund_rw_mandate") * col("multiplier")), lit(12.5)),
                lit(12.5)))
            .when(col("ciu_approach") === "look_through",
              coalesce(least(q6(col("fund_rw_lt") * col("multiplier")), lit(12.5)),
                lit(12.5)))
            .otherwise(12.5))
        .withColumn("rwa", q2(col("position_value") * col("effective_rw")))
        .groupBy(col("ciu_approach"))
        .agg(
          count(lit(1)).as("n_positions"),
          dsum(col("position_value"), 2).as("total_value"),
          dsum(col("rwa"), 2).as("total_rwa"))
        .orderBy(col("ciu_approach"))
    },
    Some(s"""
      WITH rw_rules(rw_class, rw_cqs, rw) AS (VALUES $rwValues),
      holdings AS (
        SELECT 'FUND-' || CAST(p_partkey % 40 AS VARCHAR) AS fund_reference,
               CASE WHEN p_size % 4 = 0 THEN 'sovereign'
                    WHEN p_size % 4 = 1 THEN 'institution'
                    WHEN p_size % 4 = 2 THEN 'corporate'
                    ELSE 'retail' END AS holding_class,
               1 + p_partkey % 6 AS holding_cqs,
               ${sql2("p_retailprice * p_size")} AS holding_value
        FROM part),
      hrw AS (
        SELECT h.*, coalesce(r.rw, 1.0) AS holding_rw
        FROM holdings h
        LEFT JOIN rw_rules r
          ON h.holding_class = r.rw_class AND h.holding_cqs = r.rw_cqs),
      fund_rw AS (
        SELECT fund_reference,
               ${sql6(s"${sqlDsum("holding_value * holding_rw", 6)} / " +
                 sqlDsum("holding_value", 2))} AS fund_rw_lt,
               max(holding_rw) AS fund_rw_mandate
        FROM hrw GROUP BY fund_reference),
      positions AS (
        SELECT 'FUND-' || CAST(o_orderkey % 40 AS VARCHAR) AS fund_reference,
               CASE WHEN o_orderkey % 3 = 0 THEN 'look_through'
                    WHEN o_orderkey % 3 = 1 THEN 'mandate_based'
                    ELSE 'fallback' END AS ciu_approach,
               ${sql2("o_totalprice * 0.10")} AS position_value,
               (o_custkey % 2 = 0) AS third_party_calc,
               (o_custkey % 4 = 0) AS unrestricted_access
        FROM orders WHERE o_orderpriority = '1-URGENT'),
      resolved AS (
        SELECT p.*,
               CASE WHEN third_party_calc AND NOT unrestricted_access
                    THEN 1.2 ELSE 1.0 END AS multiplier,
               f.fund_rw_lt, f.fund_rw_mandate
        FROM positions p LEFT JOIN fund_rw f USING (fund_reference)),
      weighted AS (
        SELECT *,
          CASE WHEN ciu_approach = 'fallback' THEN 12.5
               WHEN ciu_approach = 'mandate_based'
                 THEN coalesce(least(${sql6("fund_rw_mandate * multiplier")}, 12.5), 12.5)
               WHEN ciu_approach = 'look_through'
                 THEN coalesce(least(${sql6("fund_rw_lt * multiplier")}, 12.5), 12.5)
               ELSE 12.5 END AS effective_rw
        FROM resolved)
      SELECT ciu_approach, count(*) AS n_positions,
             ${sqlDsum("position_value", 2)} AS total_value,
             ${sqlDsum(sql2("position_value * effective_rw"), 2)} AS total_rwa
      FROM weighted
      GROUP BY ciu_approach
      ORDER BY ciu_approach
    """.stripMargin.trim))

  // ---- q106: audit-ledger census ---------------------------------------

  /** q106: the audit-column census — proves the ledger's lineage/warning
    * breadth (reference ledger schema `data/schemas.py:2877-3121`,
    * `exposure_class_reason` / `approach_selection_reason` / `ccf_source`
    * / `calculation_warnings`) end-to-end: the composed ledger's audit
    * columns, grouped and counted with the RWA they cover. The warnings
    * composite is a `concat_ws` over null-skipping branches — identical
    * semantics in both engines, no array carrier needed. One ledger pass,
    * one bounded-cardinality aggregate. */
  val q106LedgerAudit = QueryDef(
    "q106_ledger_audit",
    (s, dir) => {
      DomainPipeline.ledger(s, dir)
        .groupBy(col("exposure_class_reason"), col("approach_selection_reason"),
          col("ccf_source"), col("calculation_warnings"))
        .agg(count(lit(1)).as("n_exposures"), dsum(col("rwa"), 2).as("total_rwa"))
        .orderBy(col("exposure_class_reason"), col("approach_selection_reason"),
          col("ccf_source"), col("calculation_warnings"))
    },
    Some(s"""
      WITH $domainLedgerCtes,
      audit AS (
        SELECT *,
          CASE WHEN exposure_class = 'sovereign' THEN 'sovereign_country_cqs_le_2'
               WHEN exposure_class = 'retail' THEN 'individual_below_size_threshold'
               WHEN exposure_class = 'institution' THEN 'sector_institution'
               WHEN exposure_class = 'sme_corporate' THEN 'turnover_below_sme_threshold'
               ELSE 'corporate_default' END AS exposure_class_reason,
          CASE WHEN approach = 'IRB' THEN 'irb_permission_grant'
               ELSE 'sa_fallback' END AS approach_selection_reason,
          CASE WHEN exposure_type = 'facility_undrawn' THEN 'art_111_75pct_commitment'
               ELSE 'art_111_full_risk' END AS ccf_source,
          concat_ws(';',
            CASE WHEN own_cqs IS NULL THEN 'UNRATED_CPTY' END,
            CASE WHEN own_cqs IS NULL AND group_best_cqs IS NOT NULL
                 THEN 'RATING_INHERITED_FROM_GROUP' END,
            CASE WHEN fx_rate IS NULL THEN 'FX_RATE_MISSING' END,
            CASE WHEN is_defaulted THEN 'DEFAULTED_EXPOSURE' END,
            CASE WHEN provision_allocated > ead_gross
                 THEN 'PROVISION_EXCEEDS_EXPOSURE' END,
            CASE WHEN coll_covered + guar_covered >= ead_pre_crm
                 THEN 'FULLY_COVERED' END) AS calculation_warnings
        FROM final)
      SELECT exposure_class_reason, approach_selection_reason, ccf_source,
             calculation_warnings, count(*) AS n_exposures,
             ${sqlDsum("rwa", 2)} AS total_rwa
      FROM audit
      GROUP BY 1, 2, 3, 4
      ORDER BY 1, 2, 3, 4
    """.stripMargin.trim))

  // ---- q109: IRB double-default treatment ------------------------------

  /** q109: the Art. 153(3) double-default treatment for guaranteed A-IRB
    * corporate exposures (reference `engine/irb/guarantee.py:670-740`):
    * an eligible guarantee may take `RW_dd = RW_obligor × (0.15 + 160 ·
    * PD_guarantor)` instead of substitution. Eligibility per Art. 202:
    * corporate underlying, guarantor an institution / sovereign / rated
    * corporate (CQS ≤ 2), guarantor PD available, A-IRB book. The
    * beneficial gate compares DD against the substitution RW (the SA
    * guarantor chain) unfloored — Art. 153(3) carries no
    * no-better-than-direct floor — and the guaranteed leg never exceeds
    * the direct RW. Obligor RW comes from the shared `IrbKernel` scalar
    * formulae; the oracle replicates them via the Cody/Acklam SQL
    * replicas (obligor PDs kept inside Acklam's central branch — the
    * guarantor PD never passes through a ppf, so it can take realistic
    * small values that make both DD and substitution branches fire).
    * One scan, broadcast-free arithmetic, a 4-group output. */
  val q109DoubleDefault = QueryDef(
    "q109_double_default",
    (s, dir) => {
      import graft.engine.IrbKernel
      val o = Tables.orders(s, dir)
      val attrs = o.select(
        col("o_totalprice").as("ead"),
        (lit(0.03) + (col("o_orderkey") % 10) * lit(0.01)).as("pd_obligor"),
        (lit(1.0) + (col("o_orderkey") % 5).cast("double")).as("maturity"),
        when(col("o_orderkey") % 4 === 0, 0.0)
          .when(col("o_custkey") % 2 === 0, 0.75).otherwise(0.5).as("coverage"),
        when(col("o_custkey") % 4 === 0, "institution")
          .when(col("o_custkey") % 4 === 1, "central_govt_central_bank")
          .otherwise("corporate").as("guarantor_type"),
        (lit(1) + col("o_custkey") % 3).cast("int").as("guarantor_cqs"),
        (lit(0.0005) + (col("o_custkey") % 10) * lit(0.0015)).as("guarantor_pd"))
      val corr = IrbKernel.correlationCorporate(col("pd_obligor"))
      val condPd = IrbKernel.conditionalPd(col("pd_obligor"), corr)
      val rwObligor = q6(lit(0.45) * (condPd - col("pd_obligor")) * lit(12.5) *
        lit(1.06) * IrbKernel.maturityAdjustment(col("pd_obligor"), col("maturity")))
      // substitution RW resolved in the GUARANTOR's class context
      // (Art. 235: the covered leg takes the protection provider's
      // risk weight under its own class row)
      val rwSub = {
        val typeToClass = Seq(
          "central_govt_central_bank" -> "sovereign",
          "institution" -> "institution", "corporate" -> "corporate")
        typeToClass.flatMap { case (gt, cls) =>
          DomainPipeline.rwTable.filter(_._1 == cls)
            .map { case (_, q, w) => (gt, q, w) }
        }.foldLeft(Option.empty[Column]) {
          case (None, (gt, q, w)) =>
            Some(when(col("guarantor_type") === gt && col("guarantor_cqs") === q, w))
          case (Some(acc), (gt, q, w)) =>
            Some(acc.when(col("guarantor_type") === gt && col("guarantor_cqs") === q, w))
        }.get.otherwise(1.0)
      }
      val staged = attrs
        .withColumn("rw_obligor", rwObligor)
        .withColumn("eligible",
          col("coverage") > 0 && (
            col("guarantor_type").isin("institution", "central_govt_central_bank") ||
            (col("guarantor_type") === "corporate" && col("guarantor_cqs") <= 2)))
        .withColumn("dd_mult",
          lit(0.15) + lit(160.0) * greatest(col("guarantor_pd"), lit(0.0003)))
        .withColumn("rw_dd", q6(col("rw_obligor") * col("dd_mult")))
        .withColumn("rw_sub", rwSub)
        .withColumn("dd_applied", col("eligible") && col("rw_dd") < col("rw_sub"))
        .withColumn("rw_guaranteed",
          least(when(col("eligible"), least(col("rw_dd"), col("rw_sub")))
            .otherwise(col("rw_sub")), col("rw_obligor")))
        .withColumn("rwa",
          q2(col("ead") * col("coverage") * col("rw_guaranteed")) +
          q2(col("ead") * (lit(1.0) - col("coverage")) * col("rw_obligor")))
      staged.groupBy(col("guarantor_type"))
        .agg(
          count(lit(1)).as("n_exposures"),
          count(when(col("eligible"), lit(1))).as("n_eligible"),
          count(when(col("dd_applied"), lit(1))).as("n_dd_applied"),
          dsum(q2(col("ead") * col("coverage")), 2).as("guaranteed_ead"),
          dsum(col("rwa"), 2).as("total_rwa"))
        .orderBy(col("guarantor_type"))
    },
    Some {
      val g999 = graft.functions.NormalMath.normPpf(0.999)
      val k50 = 1.0 - math.exp(-50.0)
      val subCase = Seq(
        "central_govt_central_bank" -> "sovereign",
        "institution" -> "institution", "corporate" -> "corporate")
        .flatMap { case (gt, cls) =>
          DomainPipeline.rwTable.filter(_._1 == cls).map { case (_, q, w) =>
            s"WHEN guarantor_type = '$gt' AND guarantor_cqs = $q THEN ${d(w)}"
          }
        }
        .mkString("CASE ", " ", s" ELSE ${d(1.0)} END")
      s"""
      WITH attrs AS (
        SELECT o_totalprice AS ead,
               0.03 + (o_orderkey % 10) * 0.01 AS pd_obligor,
               1.0 + (o_orderkey % 5) AS maturity,
               CASE WHEN o_orderkey % 4 = 0 THEN 0.0
                    WHEN o_custkey % 2 = 0 THEN 0.75 ELSE 0.5 END AS coverage,
               CASE WHEN o_custkey % 4 = 0 THEN 'institution'
                    WHEN o_custkey % 4 = 1 THEN 'central_govt_central_bank'
                    ELSE 'corporate' END AS guarantor_type,
               1 + o_custkey % 3 AS guarantor_cqs,
               0.0005 + (o_custkey % 10) * 0.0015 AS guarantor_pd
        FROM orders),
      corr AS (
        SELECT *,
          (0.12 * ((1.0 - exp(-50.0 * pd_obligor)) / $k50) +
           0.24 * (1.0 - ((1.0 - exp(-50.0 * pd_obligor)) / $k50))) AS correlation,
          (1.0 + (maturity - 2.5) *
             (0.11852 - 0.05478 * ln(pd_obligor)) * (0.11852 - 0.05478 * ln(pd_obligor))) /
          (1.0 - 1.5 * (0.11852 - 0.05478 * ln(pd_obligor)) * (0.11852 - 0.05478 * ln(pd_obligor)))
            AS ma
        FROM attrs),
      rwbase AS (
        SELECT *,
          ${sql6(
            "0.45 * ((" + Rwa.sqlNormCdf(
              s"((${Rwa.sqlNormPpfCentral("pd_obligor")}) + sqrt(correlation) * ($g999)) " +
              "/ sqrt(1.0 - correlation)") + ") - pd_obligor) * 12.5 * 1.06 * ma")}
            AS rw_obligor
        FROM corr),
      staged AS (
        SELECT *,
          coverage > 0 AND (guarantor_type IN ('institution', 'central_govt_central_bank')
            OR (guarantor_type = 'corporate' AND guarantor_cqs <= 2)) AS eligible,
          ${sql6("rw_obligor * (0.15 + 160.0 * greatest(guarantor_pd, 0.0003))")} AS rw_dd,
          $subCase AS rw_sub
        FROM rwbase),
      gated AS (
        SELECT *,
          eligible AND rw_dd < rw_sub AS dd_applied,
          least(CASE WHEN eligible THEN least(rw_dd, rw_sub) ELSE rw_sub END,
                rw_obligor) AS rw_guaranteed
        FROM staged)
      SELECT guarantor_type, count(*) AS n_exposures,
             count(CASE WHEN eligible THEN 1 END) AS n_eligible,
             count(CASE WHEN dd_applied THEN 1 END) AS n_dd_applied,
             ${sqlDsum(sql2("ead * coverage"), 2)} AS guaranteed_ead,
             ${sqlDsum(
               sql2("ead * coverage * rw_guaranteed") + " + " +
               sql2("ead * (1.0 - coverage) * rw_obligor"), 2)} AS total_rwa
      FROM gated
      GROUP BY guarantor_type
      ORDER BY guarantor_type
      """.stripMargin.trim
    })

  // ---- q100: provisions vs expected loss (EL summary) ------------------

  private val cqsPdCase = DomainPipeline.cqsPdTable
    .map { case (q, p) => s"WHEN effective_cqs = $q THEN ${d(p)}" }
    .mkString("CASE ", " ", s" ELSE ${d(0.25)} END")

  /** q100: the portfolio EL summary over the composed book's IRB pool —
    * provisions vs expected loss with the CRR Art. 159(3) two-branch rule
    * (reference `engine/aggregator/_el_summary.py`): the defaulted and
    * non-defaulted pools compare EL against provisions SEPARATELY, so a
    * defaulted-pool excess can never offset a non-defaulted shortfall
    * (no cross-subsidisation; shortfall is a CET1 deduction, excess is
    * T2-recognisable only up to the Art. 62(d) 0.6%-of-IRB-RWA cap).
    * EL per exposure = PD(effective_cqs | 1.0 if defaulted) · LGD · EAD;
    * provisions enter via the multi-level allocation threaded through the
    * pipeline (IRB rows carry `provision_allocated` undeducted —
    * reference `engine/crm/provisions.py` IRB pass-through).
    * Scale: one ledger pass, a 2-group aggregate — nothing new shuffles.
    */
  val q100Provisions = QueryDef(
    "q100_provisions",
    (s, dir) => {
      val pdChain = DomainPipeline.cqsPdTable
        .foldLeft(Option.empty[Column]) {
          case (None, (q, p)) => Some(when(col("effective_cqs") === q, p))
          case (Some(acc), (q, p)) => Some(acc.when(col("effective_cqs") === q, p))
        }.get.otherwise(0.25)
      val led = DomainPipeline.ledger(s, dir)
        .filter(col("approach") === "IRB")
        .withColumn("pd_eff", when(col("is_defaulted"), 1.0).otherwise(pdChain))
        .withColumn("expected_loss",
          q2(col("pd_eff") * lit(DomainPipeline.elLgd) * col("ead_pre_crm")))
      led.groupBy(col("is_defaulted"))
        .agg(
          count(lit(1)).as("n_exposures"),
          dsum(col("expected_loss"), 2).as("expected_loss"),
          dsum(col("provision_allocated"), 2).as("provisions_allocated"),
          dsum(col("rwa"), 2).as("irb_rwa"))
        .withColumn("el_shortfall",
          q2(greatest(lit(0.0), col("expected_loss") - col("provisions_allocated"))))
        .withColumn("el_excess",
          q2(greatest(lit(0.0), col("provisions_allocated") - col("expected_loss"))))
        .withColumn("t2_cap", q2(col("irb_rwa") * lit(0.006)))
        .withColumn("el_excess_recognised", least(col("el_excess"), col("t2_cap")))
        .orderBy(col("is_defaulted"))
    },
    Some(s"""
      WITH $domainLedgerCtes,
      irb AS (
        SELECT *,
          ${sql2(s"(CASE WHEN is_defaulted THEN 1.0 ELSE $cqsPdCase END) * " +
            s"${DomainPipeline.elLgd} * ead_pre_crm")} AS expected_loss
        FROM final WHERE approach = 'IRB'),
      pools AS (
        SELECT is_defaulted, count(*) AS n_exposures,
               ${sqlDsum("expected_loss", 2)} AS expected_loss,
               ${sqlDsum("provision_allocated", 2)} AS provisions_allocated,
               ${sqlDsum("rwa", 2)} AS irb_rwa
        FROM irb GROUP BY is_defaulted)
      SELECT is_defaulted, n_exposures, expected_loss, provisions_allocated,
             irb_rwa,
             ${sql2("greatest(0.0, expected_loss - provisions_allocated)")} AS el_shortfall,
             ${sql2("greatest(0.0, provisions_allocated - expected_loss)")} AS el_excess,
             ${sql2("irb_rwa * 0.006")} AS t2_cap,
             least(${sql2("greatest(0.0, provisions_allocated - expected_loss)")},
                   ${sql2("irb_rwa * 0.006")}) AS el_excess_recognised
      FROM pools
      ORDER BY is_defaulted
    """.stripMargin.trim))

  /** q115: cross-artifact tie-outs (reference `reporting/tieouts.py`) —
    * the sealed ledger is reshaped into three independently-aggregated
    * artifacts (per-class sheet, (class, approach) summary, per-approach
    * OV1-style roll-up) and an explicit curated list of comparable
    * aggregate pairs is asserted to foot, emitted as DATA (one row per
    * tie, accumulate-don't-throw); pairs whose reporting bases differ by
    * regulation are recorded as non-comparable rows with the reason
    * rather than naively equated. The oracle rebuilds the identical
    * ledger and the identical reshapes, so every comparable tie must
    * come out 'pass' with a bit-identical delta. */
  val q115Tieouts = QueryDef(
    "q115_tieouts",
    (s, dir) => {
      graft.reporting.Tieouts.fromLedger(
        DomainPipeline.ledger(s, dir), DomainPipeline.summary(s, dir))
    },
    Some {
      val ncValues = graft.reporting.Tieouts.nonComparable
        .map { case (id, note) => s"('$id', '${note.replace("'", "''")}')" }
        .mkString(", ")
      s"""
      WITH $domainLedgerCtes,
      fin AS MATERIALIZED (SELECT * FROM final),
      sheet AS MATERIALIZED (
        SELECT exposure_class,
               ${sqlDsum("ead_pre_crm", 2)} AS sheet_ead,
               ${sqlDsum("rwa", 2)} AS sheet_rwa
        FROM fin GROUP BY exposure_class),
      summ AS MATERIALIZED (
        SELECT exposure_class, approach,
               ${sqlDsum("ead_pre_crm", 2)} AS total_ead,
               ${sqlDsum("coll_covered", 2)} AS collateral_covered,
               ${sqlDsum("guar_covered", 2)} AS guarantee_covered,
               ${sqlDsum("unsecured", 2)} AS unsecured_ead,
               ${sqlDsum("rwa", 2)} AS total_rwa
        FROM fin GROUP BY exposure_class, approach),
      ov1 AS (
        SELECT approach, ${sqlDsum("rwa", 2)} AS ov1_rwa
        FROM fin GROUP BY approach),
      wide AS (
        SELECT * FROM
          (SELECT ${sqlDsum("sheet_ead", 2)} AS sheet_ead_total,
                  ${sqlDsum("sheet_rwa", 2)} AS sheet_rwa_total FROM sheet)
          CROSS JOIN
          (SELECT ${sqlDsum("total_rwa", 2)} AS summ_rwa_total,
                  coalesce(${sqlDsum(
                    "CASE WHEN approach = 'SA' THEN total_rwa END", 2)}, 0.0)
                    AS summ_sa_rwa,
                  coalesce(${sqlDsum(
                    "CASE WHEN approach = 'IRB' THEN total_rwa END", 2)}, 0.0)
                    AS summ_irb_rwa,
                  ${sqlDsum("collateral_covered", 2)} +
                  ${sqlDsum("guarantee_covered", 2)} +
                  ${sqlDsum("unsecured_ead", 2)} AS summ_crm_total
           FROM summ)
          CROSS JOIN
          (SELECT ${sqlDsum("ov1_rwa", 2)} AS ov1_rwa_total,
                  coalesce(${sqlDsum(
                    "CASE WHEN approach = 'SA' THEN ov1_rwa END", 2)}, 0.0)
                    AS ov1_sa_rwa,
                  coalesce(${sqlDsum(
                    "CASE WHEN approach = 'IRB' THEN ov1_rwa END", 2)}, 0.0)
                    AS ov1_irb_rwa
           FROM ov1)
          CROSS JOIN (SELECT count(*) AS n_exposures FROM fin)),
      scalar_ties AS (
        SELECT 'rwea_total_sheet_vs_ov1' AS tie_id, sheet_rwa_total AS lhs_total,
               ov1_rwa_total AS rhs_total, 0.01 AS tol FROM wide
        UNION ALL
        SELECT 'rwea_total_summary_vs_ov1', summ_rwa_total, ov1_rwa_total, 0.01
        FROM wide
        UNION ALL
        SELECT 'rwea_sa_summary_vs_ov1', summ_sa_rwa, ov1_sa_rwa, 0.01 FROM wide
        UNION ALL
        SELECT 'rwea_irb_summary_vs_ov1', summ_irb_rwa, ov1_irb_rwa, 0.01 FROM wide
        UNION ALL
        SELECT 'crm_conservation_cross', summ_crm_total, sheet_ead_total,
               0.01 * CAST(n_exposures AS DOUBLE) FROM wide),
      class_ties AS (
        SELECT 'ead_class_' || s.exposure_class AS tie_id,
               s.sheet_ead AS lhs_total, c.cls_ead AS rhs_total, 0.01 AS tol
        FROM sheet s JOIN (
          SELECT exposure_class, ${sqlDsum("total_ead", 2)} AS cls_ead
          FROM summ GROUP BY exposure_class) c USING (exposure_class)),
      comparables AS (
        SELECT tie_id, TRUE AS comparable, lhs_total, rhs_total, tol,
               lhs_total - rhs_total AS delta,
               CASE WHEN abs(lhs_total - rhs_total) <= tol
                    THEN 'pass' ELSE 'fail' END AS status,
               NULL::VARCHAR AS basis_note
        FROM (SELECT * FROM scalar_ties UNION ALL SELECT * FROM class_ties)),
      nc(tie_id, basis_note) AS (VALUES $ncValues)
      SELECT * FROM (
        SELECT * FROM comparables
        UNION ALL
        SELECT tie_id, FALSE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
               NULL::DOUBLE, NULL::VARCHAR, basis_note
        FROM nc)
      ORDER BY tie_id
      """.stripMargin.trim
    })

  /** q116: C 09-style GEOGRAPHIC breakdown (reference
    * `reporting/corep/c09.py`): per (obligor country, exposure class)
    * original exposure, defaulted split, RWEA and RWA density, with the
    * country subtotals and the grand total emitted by ONE `ROLLUP` pass
    * — the grouping-sets shape (a single shuffle computes all three
    * grains; a union of three groupBys would scan the ledger three
    * times). Basis note: the split keys the IMMEDIATE obligor's country
    * (the ledger's counterparty nation) — the reference records the
    * two-basis geographic pairs as non-comparable (`tieouts.py`), which
    * is why this sheet is not tied to the ultimate-risk basis.
    */
  val q116GeoBreakdown = QueryDef(
    "q116_geo_breakdown",
    (s, dir) => {
      val led = DomainPipeline.ledger(s, dir)
      led.rollup(col("country"), col("exposure_class"))
        .agg(
          count(lit(1)).as("n_exposures"),
          dsum(col("ead_pre_crm"), 2).as("original_exposure"),
          count(when(col("is_defaulted"), lit(1))).as("n_defaulted"),
          dsum(when(col("is_defaulted"), col("ead_pre_crm")), 2)
            .as("defaulted_exposure"),
          dsum(col("rwa"), 2).as("rwea"))
        .select(
          coalesce(col("country"), lit("ALL")).as("country"),
          coalesce(col("exposure_class"), lit("ALL")).as("exposure_class"),
          col("n_exposures"), col("original_exposure"), col("n_defaulted"),
          coalesce(col("defaulted_exposure"), lit(0.0)).as("defaulted_exposure"),
          col("rwea"),
          when(col("original_exposure") > lit(0.0),
            q6(col("rwea") / col("original_exposure"))).otherwise(lit(0.0))
            .as("rwa_density"))
        .orderBy(col("country"), col("exposure_class"))
    },
    Some(s"""
      WITH $domainLedgerCtes,
      rolled AS (
        SELECT coalesce(country, 'ALL') AS country,
               coalesce(exposure_class, 'ALL') AS exposure_class,
               count(*) AS n_exposures,
               ${sqlDsum("ead_pre_crm", 2)} AS original_exposure,
               count(CASE WHEN is_defaulted THEN 1 END) AS n_defaulted,
               coalesce(${sqlDsum(
                 "CASE WHEN is_defaulted THEN ead_pre_crm END", 2)}, 0.0)
                 AS defaulted_exposure,
               ${sqlDsum("rwa", 2)} AS rwea
        FROM final
        GROUP BY ROLLUP(country, exposure_class))
      SELECT country, exposure_class, n_exposures, original_exposure,
             n_defaulted, defaulted_exposure, rwea,
             CASE WHEN original_exposure > 0.0
                  THEN ${sql6("rwea / original_exposure")} ELSE 0.0 END
               AS rwa_density
      FROM rolled
      ORDER BY country, exposure_class
    """.stripMargin.trim))

  /** q152: CROSS-TEMPLATE consistency — the v0350 rule family
    * (reference catalogue `crr-eba-v3.0-credit-risk.json` v0350_m…
    * v0388_m: `sum({C 09.01.a, rX, cY, (sNNN)}) = {C 07.00.a, rX, cY,
    * sNNN}` — the published checks that the per-country C 09.01 sheets
    * re-sum to the C 07.00 class cells). This is a genuinely different
    * rule class from the intra-sheet identities: it compares TWO
    * INDEPENDENTLY PRODUCED templates. The LHS re-sums the PUBLISHED
    * C 09.01 sheet (q158 — the fan/axis/post-pass production path) per
    * template ROW across its per-country submissions; the RHS reads the
    * q94 cell catalogue's class cells through the `TemplateGenerator`
    * machinery that publishes them — two different production paths
    * over the sealed ledger, tied per published row for exposure value
    * (v0350_m ↔ C 09.01 col 0075 vs C 07 C0010) and RWEA (v0352_m ↔
    * col 0090 vs C0220). The row→class keying is the published
    * many-to-one map (row 0070 fans corporate + sme_corporate, the
    * `C09_01_SA_CLASS_MAP` accumulation). This rulebook's C 07.00-style
    * cells are WHOLE-BOOK (SA + IRB, a recorded vocabulary decision),
    * so the LHS re-sums the geography ACROSS BOTH geo templates —
    * C 09.01's SA rows plus C 09.02's IRB rows (0020→0060, 0030→0070)
    * — the same whole-book coverage from the geographic production
    * path.
    */
  private val c09RowClassMap: Seq[(String, Seq[String])] = Seq(
    "0010" -> Seq("sovereign"), "0060" -> Seq("institution"),
    "0070" -> Seq("corporate", "sme_corporate"),
    "0075" -> Seq("sme_corporate"), "0080" -> Seq("retail"))

  val q152CrossTemplate = QueryDef(
    "q152_cross_template",
    (s, dir) => {
      import graft.reporting.TemplateGenerator
      val geoSa = Corep09.generatedSheet(s, dir, "c0901")
        .filter(col("country") =!= "ALL" && col("n_rows").isNotNull &&
          col("row_ref").isin(c09RowClassMap.map(_._1): _*))
        .select(col("row_ref"), col("c0075").as("ev"), col("c0090").as("rw"))
      val geoIrb = Corep09.generatedSheet(s, dir, "c0902")
        .filter(col("country") =!= "ALL" && col("n_rows").isNotNull &&
          col("row_ref").isin("0020", "0030"))
        .select(
          when(col("row_ref") === "0020", "0060").otherwise("0070")
            .as("row_ref"),
          col("c0105").as("ev"), col("c0125").as("rw"))
      val geo = geoSa.unionByName(geoIrb)
        .groupBy(col("row_ref"))
        .agg(dsum(col("ev"), 2).as("g_ead"),
             dsum(col("rw"), 2).as("g_rwea"))
      val needed = corepClasses.flatMap(c =>
        Seq(corepCellId(s"R_$c", "C0010"), corepCellId(s"R_$c", "C0220"))).toSet
      val cells = c07Cells.filter(c => needed(c.cellId))
      val row0 = TemplateGenerator.wideRow(DomainPipeline.ledger(s, dir), cells)
      def cellByRow(colId: String): Column =
        c09RowClassMap.foldLeft(Option.empty[Column]) {
          case (acc, (ref, classes)) =>
            // horizontal DECIMAL add (the fanned row sums two class
            // cells; a plain double add is 1 ulp off the oracle's
            // decimal accumulation)
            val cellSum = classes.map(c =>
              coalesce(col(s"`${corepCellId(s"R_$c", colId)}`"), lit(0.0))
                .cast(DecimalType(38, 2)))
              .reduce(_ + _).cast("double")
            acc match {
              case None => Some(when(col("row_ref") === ref, cellSum))
              case Some(w) => Some(w.when(col("row_ref") === ref, cellSum))
            }
        }.get
      val wide = geo.crossJoin(broadcast(row0))
      val r1 = wide.select(
        concat(lit("v0350_m@R"), col("row_ref")).as("rule_id"),
        lit("ERROR").as("severity"),
        col("g_ead").as("lhs_total"), cellByRow("C0010").as("rhs_total"))
      val r2 = wide.select(
        concat(lit("v0352_m@R"), col("row_ref")).as("rule_id"),
        lit("ERROR").as("severity"),
        col("g_rwea").as("lhs_total"), cellByRow("C0220").as("rhs_total"))
      r1.unionByName(r2)
        .withColumn("diff", col("lhs_total") - col("rhs_total"))
        .withColumn("status",
          when(abs(col("diff")) <= 0.01, "pass").otherwise("fail"))
        .orderBy(col("rule_id"))
    },
    Some {
      val mapValues = c09RowClassMap.flatMap { case (ref, classes) =>
        classes.map(c => s"('$ref', '$c')") }.mkString(", ")
      s"""
      WITH $domainLedgerCtes,
      x152geo AS (
        SELECT row_ref,
               ${sqlDsum("ev", 2)} AS g_ead,
               ${sqlDsum("rw", 2)} AS g_rwea
        FROM (
          SELECT row_ref, c0075 AS ev, c0090 AS rw
          FROM (${Corep09.q158CorepC09.oracle.get})
          WHERE country <> 'ALL' AND n_rows IS NOT NULL
            AND row_ref IN ('0010', '0060', '0070', '0075', '0080')
          UNION ALL
          SELECT CASE WHEN row_ref = '0020' THEN '0060' ELSE '0070' END,
                 c0105, c0125
          FROM (${Corep09.q160CorepC0902.oracle.get})
          WHERE country <> 'ALL' AND n_rows IS NOT NULL
            AND row_ref IN ('0020', '0030'))
        GROUP BY row_ref),
      x152cls AS (
        SELECT exposure_class,
               ${sqlDsum("ead_pre_crm", 2)} AS c0010,
               ${sqlDsum("rwa", 2)} AS c0220
        FROM final GROUP BY 1),
      x152map(row_ref, exposure_class) AS (VALUES $mapValues),
      x152rhs AS (
        SELECT m.row_ref,
               ${sqlDsum("c.c0010", 2)} AS rhs_ead,
               ${sqlDsum("c.c0220", 2)} AS rhs_rwea
        FROM x152map m JOIN x152cls c USING (exposure_class)
        GROUP BY m.row_ref),
      x152rules AS (
        SELECT 'v0350_m@R' || g.row_ref AS rule_id,
               'ERROR' AS severity,
               g.g_ead AS lhs_total, r.rhs_ead AS rhs_total
        FROM x152geo g JOIN x152rhs r USING (row_ref)
        UNION ALL
        SELECT 'v0352_m@R' || g.row_ref, 'ERROR',
               g.g_rwea, r.rhs_rwea
        FROM x152geo g JOIN x152rhs r USING (row_ref))
      SELECT * FROM (
        SELECT rule_id, severity, lhs_total, rhs_total,
               lhs_total - rhs_total AS diff,
               CASE WHEN abs(lhs_total - rhs_total) <= 0.01
                    THEN 'pass' ELSE 'fail' END AS status
        FROM x152rules)
      ORDER BY rule_id
    """.stripMargin.trim
    })

  /** q153: the SUBMISSION GATE — "can this return be submitted?", the
    * reference exporter's one-field answer over the whole generated
    * estate (reference `api/export.py`: "Run the published supervisory
    * validation rules over a run's generated estate and answer, in one
    * field, whether the return can be submitted"). An ERROR-severity
    * breach rejects the submission; WARNING breaches are reportable but
    * non-blocking (the publishers' own severity semantics). The gate
    * unions every validation section this estate produces — the C 07.00
    * sheet+catalogue (q94), the C 08.01 sheet+BoE slice (q121), and the
    * C 02.00 evaluate pass (q147) — and rolls the statuses into one row.
    */
  val q153SubmissionGate = QueryDef(
    "q153_submission_gate",
    (s, dir) => {
      import graft.reporting.TemplateBundle
      // the gate reads the run's GENERATED estate (the reference
      // exporter's bundle), not fresh re-productions of each sheet
      val v94 = TemplateBundle.generated(s, dir, "c07",
          q94CorepTemplate.build(s, dir))
        .filter(col("section") === "validation")
        .select(col("severity"), col("status"))
      val v121 = TemplateBundle.generated(s, dir, "c0801",
          Corep08.q121CorepC08.build(s, dir))
        .filter(col("section") === "validation")
        .select(col("severity"), col("status"))
      val v147 = TemplateBundle.generated(s, dir, "c02val",
          Corep08.q147C02Validations.build(s, dir))
        .select(col("severity"), col("status"))
      // the C 09.01 supporting-factor reconciliation (boe_b0225 family):
      // on the REPORTED cells — after the Annex II §1.3 sign post-pass
      // negated col 0081 — RWEA pre SF plus the (negative) adjustments
      // must equal RWEA post SF additively on every populated row
      val v158 = Corep09.generatedSheet(s, dir, "c0901")
        .filter(col("n_rows").isNotNull)
        .select(
          lit("ERROR").as("severity"),
          when(abs(col("c0080") + col("c0081") + col("c0082") -
            col("c0090")) <= 0.01, "pass").otherwise("fail").as("status"))
      val estate = v94.unionByName(v121).unionByName(v147)
        .unionByName(v158)
        .agg(
          count(lit(1)).as("n_rules"),
          count(when(col("severity") === "ERROR" && col("status") === "fail",
            lit(1))).as("n_error_breaches"),
          count(when(col("severity") === "WARNING" && col("status") === "fail",
            lit(1))).as("n_warning_breaches"))
        .withColumn("can_submit", col("n_error_breaches") === 0)
      // The full published-catalogue pass (q159): every instanced record
      // the coordinate index can bind, evaluated generically. Reported
      // NEXT TO the estate gate (the reference's checker.py per-severity
      // census): the catalogue ERROR breaches trace to documented
      // modelling choices (the B31 book retains the SME supporting
      // factor), so `can_submit` stays keyed on the estate's own
      // identities while the catalogue breach counts stay visible.
      val cat = Catalogue.q159ValidationCatalogue.build(s, dir)
        .agg(
          count(when(
            col("status").isin("pass", "fail", "vacuous", "not_triggered"),
            lit(1)))
            .as("n_catalogue_evaluated"),
          count(when(col("severity") === "ERROR" && col("status") === "fail",
            lit(1))).as("n_catalogue_error_breaches"),
          count(when(col("severity") === "WARNING" && col("status") === "fail",
            lit(1))).as("n_catalogue_warning_breaches"))
      estate.crossJoin(broadcast(cat))
    },
    Some(s"""
      SELECT e.*, c.* FROM (
        SELECT count(*) AS n_rules,
               count(CASE WHEN severity = 'ERROR' AND status = 'fail'
                     THEN 1 END) AS n_error_breaches,
               count(CASE WHEN severity = 'WARNING' AND status = 'fail'
                     THEN 1 END) AS n_warning_breaches,
               count(CASE WHEN severity = 'ERROR' AND status = 'fail'
                     THEN 1 END) = 0 AS can_submit
        FROM (
          SELECT severity, status FROM (${q94CorepTemplate.oracle.get})
          WHERE section = 'validation'
          UNION ALL
          SELECT severity, status FROM (${Corep08.q121CorepC08.oracle.get})
          WHERE section = 'validation'
          UNION ALL
          SELECT severity, status FROM (${Corep08.q147C02Validations.oracle.get})
          UNION ALL
          SELECT 'ERROR' AS severity,
                 CASE WHEN abs(c0080 + c0081 + c0082 - c0090) <= 0.01
                      THEN 'pass' ELSE 'fail' END AS status
          FROM (${Corep09.q158CorepC09.oracle.get})
          WHERE n_rows IS NOT NULL
        )
      ) e CROSS JOIN (
        SELECT count(CASE WHEN status IN ('pass', 'fail', 'vacuous',
                                          'not_triggered')
                     THEN 1 END) AS n_catalogue_evaluated,
               count(CASE WHEN severity = 'ERROR' AND status = 'fail'
                     THEN 1 END) AS n_catalogue_error_breaches,
               count(CASE WHEN severity = 'WARNING' AND status = 'fail'
                     THEN 1 END) AS n_catalogue_warning_breaches
        FROM (${Catalogue.q159ValidationCatalogue.oracle.get})
      ) c
    """.stripMargin.trim))

  /** q154: the CRR→B31 capital-driver waterfall through the attributor
    * REGISTRY (reference `analysis/recon_registry.py` +
    * `analysis/comparison.py`'s registered CRR→B31 attributor): the
    * regime delta per class decomposed into the named drivers this
    * rulebook's dual-weight book actually has — guarantee-leg and
    * unsecured-leg repricing — plus the completeness residual. The
    * registry dispatch is the point: the ('crr','b31') pairing hits the
    * registered waterfall, any other pairing would fall back to the
    * neutral delta-only attributor. Scale shape: one pass over the
    * memoised ledger, one class shuffle.
    */
  val q154CapitalDrivers = QueryDef(
    "q154_capital_drivers",
    (s, dir) => {
      val led = DomainPipeline.ledger(s, dir)
      graft.analysis.Attribution.attributorFor(("crr", "b31"))(led)
    },
    Some(s"""
      WITH $domainLedgerCtes,
      x154 AS (
        SELECT exposure_class,
               ${sql2("rwa_b31 - rwa")} AS d_rwa,
               ${sql2(
                 s"(${sql2("guar_covered * least(own_rw_b31, coalesce(guarantor_rw, own_rw_b31))")}" +
                 s" - ${sql2("guar_covered * least(own_rw, coalesce(guarantor_rw, own_rw))")}) * sf_factor")}
                 AS d_guar,
               ${sql2(
                 s"(${sql2("unsecured * own_rw_b31")}" +
                 s" - ${sql2("unsecured * own_rw")}) * sf_factor")} AS d_unsec
        FROM final),
      x154agg AS (
        SELECT exposure_class,
               ${sqlDsum("d_rwa", 2)} AS delta_rwa,
               ${sqlDsum("d_guar", 2)} AS driver_guarantee_repricing,
               ${sqlDsum("d_unsec", 2)} AS driver_unsecured_repricing
        FROM x154 GROUP BY 1)
      SELECT exposure_class, delta_rwa,
             driver_guarantee_repricing, driver_unsecured_repricing,
             ${sql2("delta_rwa - driver_guarantee_repricing - driver_unsecured_repricing")}
               AS driver_residual
      FROM x154agg
      ORDER BY exposure_class
    """.stripMargin.trim))

  /** Art. 452(h) CR9 PD-band edges: (label, upper bound as a fraction);
    * defaulted obligors are FORCED to the 100% band (reference
    * `reporting/pillar3/cr9.py` — "All defaulted exposures shall be
    * included in the bucket representing PD of 100%"). Half-open
    * allocation (pd < upper). */
  private val cr9Bands: Seq[(String, Double)] = Seq(
    ("01_lt_0.05", 0.0005), ("02_0.05_0.25", 0.0025),
    ("03_0.25_0.75", 0.0075), ("04_0.75_2.5", 0.025),
    ("05_2.5_10", 0.10), ("06_10_100", 1.0))

  /** q117: CR9-style IRB PD back-testing (reference
    * `reporting/pillar3/cr9.py`): exposures banded on the assigned PD
    * (defaulted rows forced to the 100% band), then per band the
    * distinct-obligor count, defaulted-obligor count, observed default
    * rate, EAD-weighted PD and mean PD — the model-validation sheet that
    * compares what the models PREDICTED against what DEFAULTED. Sparse
    * emission: only populated bands appear, plus the Total row from the
    * same ROLLUP pass (distinct obligors across the whole book, counted
    * once). One shuffle; every ratio is a quotient of decimal-exact
    * sums.
    */
  val q117PdBacktesting = QueryDef(
    "q117_pd_backtesting",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val attrs = o.select(
        concat(lit("CP-"), col("o_custkey").cast("string")).as("obligor"),
        col("o_totalprice").as("ead"),
        (lit(0.0001) + (col("o_orderkey") % 100) * lit(0.003)).as("pd"),
        (col("o_orderkey") % 41 === 0).as("is_defaulted"))
      val band = cr9Bands.foldLeft(when(col("is_defaulted"), "07_default_100")) {
        case (acc, (label, upper)) => acc.when(col("pd") < upper, label)
      }.otherwise("07_default_100")
      attrs.withColumn("pd_band", band)
        .rollup(col("pd_band"))
        .agg(
          countDistinct(col("obligor")).as("n_obligors"),
          countDistinct(when(col("is_defaulted"), col("obligor")))
            .as("n_defaulted_obligors"),
          count(lit(1)).as("n_exposures"),
          q6(dsum(col("pd") * col("ead"), 6) / dsum(col("ead"), 2) * lit(100.0))
            .as("ead_weighted_pd_pct"),
          q6(dsum(col("pd"), 6) / count(lit(1)) * lit(100.0)).as("mean_pd_pct"))
        .select(
          coalesce(col("pd_band"), lit("TOTAL")).as("pd_band"),
          col("n_obligors"), col("n_defaulted_obligors"), col("n_exposures"),
          q6(col("n_defaulted_obligors").cast("double") /
            col("n_obligors").cast("double") * lit(100.0))
            .as("observed_default_rate_pct"),
          col("ead_weighted_pd_pct"), col("mean_pd_pct"))
        .orderBy(col("pd_band"))
    },
    Some {
      val bandChain = cr9Bands.map { case (label, upper) =>
        s"WHEN pd < $upper THEN '$label'" }.mkString(" ")
      s"""
      WITH attrs AS (
        SELECT 'CP-' || CAST(o_custkey AS VARCHAR) AS obligor,
               o_totalprice AS ead,
               0.0001 + (o_orderkey % 100) * 0.003 AS pd,
               o_orderkey % 41 = 0 AS is_defaulted
        FROM orders),
      banded AS (
        SELECT *, CASE WHEN is_defaulted THEN '07_default_100'
                       $bandChain
                       ELSE '07_default_100' END AS pd_band
        FROM attrs),
      rolled AS (
        SELECT coalesce(pd_band, 'TOTAL') AS pd_band,
               count(DISTINCT obligor) AS n_obligors,
               count(DISTINCT CASE WHEN is_defaulted THEN obligor END)
                 AS n_defaulted_obligors,
               count(*) AS n_exposures,
               ${sql6(s"${sqlDsum("pd * ead", 6)} / ${sqlDsum("ead", 2)} * 100.0")}
                 AS ead_weighted_pd_pct,
               ${sql6(s"${sqlDsum("pd", 6)} / count(*) * 100.0")} AS mean_pd_pct
        FROM banded
        GROUP BY ROLLUP(pd_band))
      SELECT pd_band, n_obligors, n_defaulted_obligors, n_exposures,
             ${sql6("CAST(n_defaulted_obligors AS DOUBLE) / " +
               "CAST(n_obligors AS DOUBLE) * 100.0")}
               AS observed_default_rate_pct,
             ead_weighted_pd_pct, mean_pd_pct
      FROM rolled
      ORDER BY pd_band
      """.stripMargin.trim
    })

  /** q145: CR9 FULL published geometry — IRB PD back-testing per
    * (approach × Art. 147 leaf class) × the 17 fixed CR6 PD ranges
    * (reference `reporting/pillar3/cr9.py` + `templates.py`
    * CR9_FIRB_CLASSES/CR9_COLUMNS; PRA PS1/26 Art. 452(h), Annex XXII
    * paras 12-15). Where q117 proves the back-testing mechanics on a
    * coarse 6-band axis, this renders the published sheet family:
    *
    *  - SHEETS key on the obligor-basis origin approach × leaf class
    *    ("for each obligor assigned to this exposure class (without
    *    considering any substitution effects due to CRM)" — substitution
    *    never moves a sheet). This rulebook's IRB book is FOUNDATION
    *    (supervisory LGD), so the `foundation_irb` block emits and the
    *    A-IRB block has no population (sheets with no rows produce no
    *    entry — the reference's sparse-sheet contract). Leaf resolution
    *    follows the recorded absent-column degradation: the
    *    `corporate_financial_large` leaf needs the
    *    `cp_is_financial_sector_entity` carrier this vocabulary lacks,
    *    and `financial_large=True` with an absent carrier is
    *    MATCH-NOTHING, so residual corporates collapse onto the non-SME
    *    leaf; specialised-lending / corporate-SME classes carry no IRB
    *    population here.
    *  - ROWS reuse the 17 hierarchical CR6 PD ranges (q144's leaf +
    *    parent explode, so parent bands aggregate independently and
    *    distinct-obligor counts stay exact), allocated half-open on the
    *    PRE-input-floor PD with defaulted rows forced to the 100% band;
    *    the Total row (ref 18) is a third explode membership so ONE
    *    shuffle produces bands, parents and totals with each exposure
    *    counted exactly once per row it populates.
    *  - COLUMNS c-h with the recorded single-run proxies: c = current
    *    distinct obligors (no prior-year carrier), d = distinct
    *    defaulted obligors, e = d/c×100, f = EAD-weighted POST-floor PD
    *    ×100, g = mean post-floor PD ×100, h = copy of e (no historical
    *    series carrier); a/b are the class/band display labels.
    */
  /** The CR9 banded per-exposure frame — shared by the q145 sheet build
    * and the lineage cell drill (`reporting/Lineage`), so a drilled CR9
    * cell re-derives its bands identically to the published sheet. */
  private[graft] def cr9Prepare(led: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val axis = Pillar3.cr6Bands
    val parentRefs = Corep08.c0803ParentRefs
    val leaves = axis.filter(t => t._1 != 18 && !parentRefs(t._1))
    val parentBands = axis.filter(t => parentRefs(t._1))
    def chain(bands: Seq[(Int, String, Double, Double)]): org.apache.spark.sql.Column =
      bands.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
        case (None, (r, _, lo, hi)) =>
          Some(when(col("alloc_pd") >= lo && col("alloc_pd") < hi, r))
        case (Some(acc), (r, _, lo, hi)) =>
          Some(acc.when(col("alloc_pd") >= lo && col("alloc_pd") < hi, r))
      }.get.otherwise(lit(null).cast("int"))
    val k = expr("CAST(substring(exposure_reference, 5) AS BIGINT)")
    led
      .filter(col("approach") === "IRB")
      .withColumn("k", k)
      .withColumn("pd_pre",
        lit(0.0001) + (col("k") % 997).cast("double") * lit(0.001))
      .withColumn("pd_floored", greatest(col("pd_pre"), lit(0.0003)))
      .withColumn("alloc_pd",
        when(col("is_defaulted"), lit(1.0)).otherwise(col("pd_pre")))
      .withColumn("class_key",
        when(col("exposure_class") === "institution", "institution")
          .otherwise("corporate_other_non_sme"))
      .withColumn("leaf_ref", chain(leaves))
      .withColumn("parent_ref", chain(parentBands))
  }

  val q145Cr9Full = QueryDef(
    "q145_cr9_full",
    (s, dir) => {
      import s.implicits._
      val axis = Pillar3.cr6Bands
      val banded = cr9Prepare(DomainPipeline.ledger(s, dir))
        .withColumn("row_ref",
          explode(filter(array(col("leaf_ref"), col("parent_ref"), lit(18)),
            x => x.isNotNull)))
      val agg = banded.groupBy(col("class_key"), col("row_ref")).agg(
        countDistinct(col("counterparty_reference")).as("n_obligors"),
        countDistinct(when(col("is_defaulted"), col("counterparty_reference")))
          .as("n_defaulted"),
        dsum(q2(col("pd_floored") * col("ead_pre_crm")), 2).as("pd_num"),
        dsum(col("ead_pre_crm"), 2).as("ead"),
        dsum(col("pd_floored"), 6).as("pd_sum"),
        count(lit(1)).as("n_exposures"))
      val bandLabels = broadcast(axis.map(t => (t._1, t._2))
        .toDF("row_ref", "pd_range"))
      val classLabels = broadcast(Seq(
        ("institution", "Institutions"),
        ("corporate_other_non_sme",
          "Corporates — Other general corporates (non-SME)"))
        .toDF("class_key", "class_display"))
      agg.join(bandLabels, Seq("row_ref")).join(classLabels, Seq("class_key"))
        .select(
          concat(lit("foundation_irb - "), col("class_key")).as("sheet_key"),
          col("class_display"), col("row_ref"), col("pd_range"),
          col("n_obligors"), col("n_defaulted"),
          q6(col("n_defaulted").cast("double") /
            col("n_obligors").cast("double") * 100).as("observed_rate_pct"),
          when(col("ead") > 0, q6(col("pd_num") / col("ead") * 100))
            .as("ead_w_pd_pct"),
          q6(col("pd_sum") / col("n_exposures") * 100).as("mean_pd_pct"))
        .withColumn("hist_rate_pct", col("observed_rate_pct"))
        .orderBy(col("sheet_key"), col("row_ref"))
    },
    Some {
      def bandCase(bands: Seq[(Int, String, Double, Double)]): String =
        bands.map { case (r, _, lo, hi) =>
          s"WHEN alloc_pd >= CAST($lo AS DOUBLE) AND alloc_pd < CAST($hi AS DOUBLE) THEN $r" }
          .mkString("CASE ", " ", " ELSE NULL END")
      val axis = Pillar3.cr6Bands
      val parentRefs = Corep08.c0803ParentRefs
      val leafCase = bandCase(axis.filter(t => t._1 != 18 && !parentRefs(t._1)))
      val parentCase = bandCase(axis.filter(t => parentRefs(t._1)))
      val axisValues = axis.map(t => s"(${t._1}, '${t._2}')").mkString(", ")
      s"""
      WITH $domainLedgerCtes,
      cr9irb AS (
        SELECT counterparty_reference, ead_pre_crm, is_defaulted,
               0.0001 + (CAST(substr(exposure_reference, 5) AS BIGINT) % 997)
                 * 0.001 AS pd_pre,
               greatest(0.0001 + (CAST(substr(exposure_reference, 5) AS BIGINT)
                 % 997) * 0.001, 0.0003) AS pd_floored,
               CASE WHEN exposure_class = 'institution' THEN 'institution'
                    ELSE 'corporate_other_non_sme' END AS class_key
        FROM final WHERE approach = 'IRB'),
      cr9alloc AS (
        SELECT *, CASE WHEN is_defaulted THEN 1.0 ELSE pd_pre END AS alloc_pd
        FROM cr9irb),
      cr9keyed AS (
        SELECT *, $leafCase AS leaf_ref, $parentCase AS parent_ref
        FROM cr9alloc),
      cr9x AS (
        SELECT *, leaf_ref AS row_ref FROM cr9keyed
        UNION ALL
        SELECT *, parent_ref FROM cr9keyed WHERE parent_ref IS NOT NULL
        UNION ALL
        SELECT *, 18 FROM cr9keyed),
      cr9rolled AS (
        SELECT class_key, row_ref,
               count(DISTINCT counterparty_reference) AS n_obligors,
               count(DISTINCT CASE WHEN is_defaulted
                 THEN counterparty_reference END) AS n_defaulted,
               ${sqlDsum(sql2("pd_floored * ead_pre_crm"), 2)} AS pd_num,
               ${sqlDsum("ead_pre_crm", 2)} AS ead,
               ${sqlDsum("pd_floored", 6)} AS pd_sum,
               count(*) AS n_exposures
        FROM cr9x GROUP BY 1, 2),
      cr9axis(row_ref, pd_range) AS (VALUES $axisValues),
      cr9cls(class_key, class_display) AS (VALUES
        ('institution', 'Institutions'),
        ('corporate_other_non_sme',
         'Corporates — Other general corporates (non-SME)'))
      SELECT 'foundation_irb - ' || r.class_key AS sheet_key,
             c.class_display, r.row_ref, a.pd_range,
             r.n_obligors, r.n_defaulted,
             ${sql6("CAST(r.n_defaulted AS DOUBLE) / CAST(r.n_obligors AS DOUBLE) * 100")}
               AS observed_rate_pct,
             CASE WHEN r.ead > 0
                  THEN ${sql6("r.pd_num / r.ead * 100")} END AS ead_w_pd_pct,
             ${sql6("r.pd_sum / r.n_exposures * 100")} AS mean_pd_pct,
             ${sql6("CAST(r.n_defaulted AS DOUBLE) / CAST(r.n_obligors AS DOUBLE) * 100")}
               AS hist_rate_pct
      FROM cr9rolled r
      JOIN cr9axis a ON a.row_ref = r.row_ref
      JOIN cr9cls c ON c.class_key = r.class_key
      ORDER BY sheet_key, r.row_ref
      """.stripMargin.trim
    })

  /** q150: CR9.1 — IRB PD back-testing for ECAI mapping (reference
    * `reporting/pillar3/cr9.py` CR9.1 + `templates.py`; PRA PS1/26 Art.
    * 180(1)(f), Annex XXII). Shares CR9's class taxonomy and c-h column
    * verbs but groups rows by the firm's ECAI GRADE instead of PD bands,
    * scoped to the ECAI-mapped obligor population. The reference's
    * engine produces neither carrier, so its CR9.1 is empty on the real
    * pipeline and pinned only by a seeded unit test — THIS rulebook's
    * hierarchy stage genuinely resolves external ratings
    * (`best_rating`/`own_cqs`, the multi-agency rank-1 pick), so the
    * grade axis is `effective CQS over the rated population` and the
    * sheet comes alive with a full oracle: rows = CQS grades per leaf
    * class plus the class Total from the same ROLLUP shuffle (distinct
    * obligors counted once per grouping set), scope = IRB obligors
    * carrying an own rating (the Art. 180(1)(f) mapped population —
    * group-inherited CQS is NOT an ECAI mapping of the obligor and
    * stays out).
    */
  val q150Cr91EcaiBacktesting = QueryDef(
    "q150_cr9_1",
    (s, dir) => {
      val k = expr("CAST(substring(exposure_reference, 5) AS BIGINT)")
      val rated = DomainPipeline.ledger(s, dir)
        .filter(col("approach") === "IRB" && col("own_cqs").isNotNull)
        .withColumn("k", k)
        .withColumn("pd_floored",
          greatest(lit(0.0001) + (col("k") % 997).cast("double") * lit(0.001),
            lit(0.0003)))
        .withColumn("class_key",
          when(col("exposure_class") === "institution", "institution")
            .otherwise("corporate_other_non_sme"))
      rated.rollup(col("class_key"), col("own_cqs"))
        .agg(
          count(lit(1)).as("n_exposures"),
          countDistinct(col("counterparty_reference")).as("n_obligors"),
          countDistinct(when(col("is_defaulted"),
            col("counterparty_reference"))).as("n_defaulted"),
          dsum(q2(col("pd_floored") * col("ead_pre_crm")), 2).as("pd_num"),
          dsum(col("ead_pre_crm"), 2).as("ead"),
          dsum(col("pd_floored"), 6).as("pd_sum"))
        .filter(col("class_key").isNotNull)
        .select(
          concat(lit("foundation_irb - "), col("class_key")).as("sheet_key"),
          coalesce(col("own_cqs"), lit(99)).as("grade_ref"),
          when(col("own_cqs").isNull, "Total")
            .otherwise(concat(lit("CQS "), col("own_cqs").cast("string")))
            .as("grade"),
          col("n_obligors"), col("n_defaulted"),
          q6(col("n_defaulted").cast("double") /
            col("n_obligors").cast("double") * 100).as("observed_rate_pct"),
          when(col("ead") > 0, q6(col("pd_num") / col("ead") * 100))
            .as("ead_w_pd_pct"),
          q6(col("pd_sum") / col("n_exposures") * 100).as("mean_pd_pct"))
        .withColumn("hist_rate_pct", col("observed_rate_pct"))
        .orderBy(col("sheet_key"), col("grade_ref"))
    },
    Some(s"""
      WITH $domainLedgerCtes,
      cr91rated AS (
        SELECT counterparty_reference, ead_pre_crm, is_defaulted, own_cqs,
               greatest(0.0001 + (CAST(substr(exposure_reference, 5) AS BIGINT)
                 % 997) * 0.001, 0.0003) AS pd_floored,
               CASE WHEN exposure_class = 'institution' THEN 'institution'
                    ELSE 'corporate_other_non_sme' END AS class_key
        FROM final
        WHERE approach = 'IRB' AND own_cqs IS NOT NULL),
      cr91rolled AS (
        SELECT class_key, own_cqs,
               count(*) AS n_exposures,
               count(DISTINCT counterparty_reference) AS n_obligors,
               count(DISTINCT CASE WHEN is_defaulted
                 THEN counterparty_reference END) AS n_defaulted,
               ${sqlDsum(sql2("pd_floored * ead_pre_crm"), 2)} AS pd_num,
               ${sqlDsum("ead_pre_crm", 2)} AS ead,
               ${sqlDsum("pd_floored", 6)} AS pd_sum
        FROM cr91rated
        GROUP BY ROLLUP(class_key, own_cqs))
      SELECT 'foundation_irb - ' || class_key AS sheet_key,
             coalesce(own_cqs, 99) AS grade_ref,
             CASE WHEN own_cqs IS NULL THEN 'Total'
                  ELSE 'CQS ' || CAST(own_cqs AS VARCHAR) END AS grade,
             n_obligors, n_defaulted,
             ${sql6("CAST(n_defaulted AS DOUBLE) / CAST(n_obligors AS DOUBLE) * 100")}
               AS observed_rate_pct,
             CASE WHEN ead > 0
                  THEN ${sql6("pd_num / ead * 100")} END AS ead_w_pd_pct,
             ${sql6("pd_sum / n_exposures * 100")} AS mean_pd_pct,
             ${sql6("CAST(n_defaulted AS DOUBLE) / CAST(n_obligors AS DOUBLE) * 100")}
               AS hist_rate_pct
      FROM cr91rolled
      WHERE class_key IS NOT NULL
      ORDER BY sheet_key, grade_ref
    """.stripMargin.trim))

  /** q118: CR5-style SA risk-weight band census (reference
    * `reporting/pillar3/cr5.py`): the SA slice of the sealed ledger
    * pivoted by applied risk weight — exposure pre-CRM, the post-CRM
    * unsecured remainder, and the of-which-unrated split (null own CQS,
    * never silently filled) per band, plus the Total row from the same
    * ROLLUP pass. The rollup-null band key is surfaced as the 9.99
    * sort-last sentinel. One filter + one shuffle over the memoised
    * ledger.
    */
  val q118RwBands = QueryDef(
    "q118_rw_bands",
    (s, dir) => {
      val sa = DomainPipeline.ledger(s, dir).filter(col("approach") === "SA")
      sa.rollup(col("own_rw"))
        .agg(
          count(lit(1)).as("n_exposures"),
          dsum(col("ead_pre_crm"), 2).as("exposure_pre_crm"),
          dsum(col("unsecured"), 2).as("unsecured_post_crm"),
          count(when(col("own_cqs").isNull, lit(1))).as("n_unrated"),
          coalesce(dsum(when(col("own_cqs").isNull, col("ead_pre_crm")), 2),
            lit(0.0)).as("unrated_exposure"))
        .select(
          coalesce(q2(col("own_rw")), lit(9.99)).as("rw_band"),
          col("n_exposures"), col("exposure_pre_crm"),
          col("unsecured_post_crm"), col("n_unrated"), col("unrated_exposure"))
        .orderBy(col("rw_band"))
    },
    Some(s"""
      WITH $domainLedgerCtes,
      sa AS (SELECT * FROM final WHERE approach = 'SA')
      SELECT coalesce(${sql2("own_rw")}, 9.99) AS rw_band,
             count(*) AS n_exposures,
             ${sqlDsum("ead_pre_crm", 2)} AS exposure_pre_crm,
             ${sqlDsum("unsecured", 2)} AS unsecured_post_crm,
             count(CASE WHEN own_cqs IS NULL THEN 1 END) AS n_unrated,
             coalesce(${sqlDsum(
               "CASE WHEN own_cqs IS NULL THEN ead_pre_crm END", 2)}, 0.0)
               AS unrated_exposure
      FROM sa
      GROUP BY ROLLUP(own_rw)
      ORDER BY rw_band
    """.stripMargin.trim))

  /** q129: TWO-BASIS geographic breakdown — immediate vs ULTIMATE
    * obligor (reference `reporting/corep/c09.py` C 09.01/09.02 two-basis
    * machinery: "a beneficially guaranteed cross-border leg sits on TWO
    * country sheets at once: its obligor's, reporting the pre-conversion
    * original exposure, and its guarantor's, reporting the exposure value
    * and RWEA"; a DECLINED guarantee moves neither). q116 is the
    * immediate-basis sheet; this one renders BOTH bases per country:
    *
    *  - immediate columns key the obligor's country (original exposure,
    *    RWEA as booked);
    *  - ultimate columns move the guaranteed leg to the GUARANTOR's
    *    country exactly when substitution was APPLIED (guar_covered > 0
    *    and guarantor_rw < own_rw — the rwaCalc min() actually flipped;
    *    at equality the guarantee is declined and nothing moves);
    *  - the moved RWEA leg is the guarantee leg of the booked RWA
    *    (q2(q2(guar·g_rw)·sf)), and the staying legs are defined as the
    *    2-decimal complement — so per exposure moved + stayed ≡ booked
    *    and the TOTAL row's two bases tie out to the cent (substitution
    *    moves RWEA between countries, never creates it).
    *
    * The guarantor's country is the supplier's nation (the guarantee
    * book prices off the supplier key), picked deterministically per
    * exposure as the item matching the ledger's own max(guarantor_rw)
    * cascade pick, ties broken on the country name — mirrored verbatim
    * in the oracle's window.
    *
    * Scale shape: the guarantor-country pick is one window over the
    * (small) guarantee book with the supplier dim broadcast; the
    * two-basis legs are a 2× stack of ids+measures only; ONE ROLLUP
    * shuffle renders every country sheet plus the TOTAL.
    */
  val q129GeoUltimateRisk = QueryDef(
    "q129_geo_ultimate_risk",
    (s, dir) => {
      val led = DomainPipeline.ledger(s, dir)
      val supN = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("g_country"))
      val gRw = DomainPipeline.rwTable.filter(_._1 == "institution")
        .foldLeft(Option.empty[org.apache.spark.sql.Column]) {
          case (None, (_, q, w)) => Some(when(col("g_cqs") === q, w))
          case (Some(acc), (_, q, w)) => Some(acc.when(col("g_cqs") === q, w))
        }.get.otherwise(1.0)
      val gitems = Tables.lineitem(s, dir)
        .filter(col("l_linenumber") === 1 && col("l_discount") >= 0.05)
        .select(
          concat(lit("ORD-"), col("l_orderkey").cast("string"))
            .as("exposure_reference"),
          (lit(1) + col("l_suppkey") % 4).cast("int").as("g_cqs"),
          col("l_suppkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .withColumn("g_rw", gRw)
      val wPick = Window.partitionBy(col("exposure_reference"))
        .orderBy(col("g_rw").desc, col("g_country").desc)
      val gpick = gitems.withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("exposure_reference"), col("g_country"))
      val base = led.join(gpick, Seq("exposure_reference"), "left")
        .withColumn("applied",
          col("guar_covered") > 0 && col("guarantor_rw").isNotNull &&
            col("guarantor_rw") < col("own_rw"))
        .withColumn("moved_ev",
          when(col("applied"), col("guar_covered")).otherwise(0.0))
        .withColumn("moved_rwea",
          when(col("applied"),
            q2(q2(col("guar_covered") * col("guarantor_rw")) * col("sf_factor")))
            .otherwise(0.0))
        .withColumn("ult_geo",
          when(col("applied"), col("g_country")).otherwise(col("country")))
      // ONE pass emits both legs (explode of a 2-struct array) — a union
      // of two selects over `base` would re-execute the upstream chain
      // per branch (Catalyst does not CSE across union branches).
      val legs = base.select(explode(array(
          struct(
            col("country").as("geo"), lit(1L).as("imm"),
            col("ead_pre_crm").as("imm_orig"), col("rwa").as("imm_rwea"),
            q2(col("ead_pre_crm") - col("moved_ev")).as("ult_ev"),
            q2(col("rwa") - col("moved_rwea")).as("ult_rwea")),
          struct(
            col("ult_geo").as("geo"), lit(0L).as("imm"),
            lit(0.0).as("imm_orig"), lit(0.0).as("imm_rwea"),
            col("moved_ev").as("ult_ev"), col("moved_rwea").as("ult_rwea"))))
          .as("leg"))
        .select(col("leg.*"))
      legs.rollup(col("geo"))
        .agg(
          sum(col("imm")).as("n_exposures"),
          dsum(col("imm_orig"), 2).as("orig_exposure_imm"),
          dsum(col("imm_rwea"), 2).as("rwea_imm"),
          dsum(col("ult_ev"), 2).as("exposure_value_ult"),
          dsum(col("ult_rwea"), 2).as("rwea_ult"))
        .select(
          coalesce(col("geo"), lit("ALL")).as("country"),
          col("n_exposures"), col("orig_exposure_imm"), col("rwea_imm"),
          col("exposure_value_ult"), col("rwea_ult"),
          q2(col("rwea_ult") - col("rwea_imm")).as("net_rwea_shift"))
        .orderBy(col("country"))
    },
    Some(s"""
      WITH $domainLedgerCtes,
      sup AS (
        SELECT s_suppkey, n_name AS g_country
        FROM supplier JOIN nation ON s_nationkey = n_nationkey),
      gsrc AS (
        SELECT 'ORD-' || CAST(l_orderkey AS VARCHAR) AS exposure_reference,
               1 + l_suppkey % 4 AS guarantor_cqs, l_suppkey
        FROM lineitem WHERE l_linenumber = 1 AND l_discount >= 0.05),
      grw AS (
        SELECT g.exposure_reference, $guarantorRwCase AS g_rw, s.g_country
        FROM gsrc g JOIN sup s ON g.l_suppkey = s.s_suppkey),
      gpick AS (
        SELECT exposure_reference, g_country FROM (
          SELECT *, row_number() OVER (PARTITION BY exposure_reference
            ORDER BY g_rw DESC, g_country DESC) AS rn
          FROM grw)
        WHERE rn = 1),
      two_basis AS (
        SELECT f.*, gp.g_country,
               (f.guar_covered > 0 AND f.guarantor_rw IS NOT NULL
                 AND f.guarantor_rw < f.own_rw) AS applied
        FROM final f LEFT JOIN gpick gp USING (exposure_reference)),
      moved AS MATERIALIZED (
        SELECT *,
          CASE WHEN applied THEN guar_covered ELSE 0.0 END AS moved_ev,
          CASE WHEN applied
               THEN ${sql2(s"${sql2("guar_covered * guarantor_rw")} * sf_factor")}
               ELSE 0.0 END AS moved_rwea,
          CASE WHEN applied THEN g_country ELSE country END AS ult_geo
        FROM two_basis),
      legs AS (
        SELECT country AS geo, 1 AS imm, ead_pre_crm AS imm_orig,
               rwa AS imm_rwea,
               ${sql2("ead_pre_crm - moved_ev")} AS ult_ev,
               ${sql2("rwa - moved_rwea")} AS ult_rwea
        FROM moved
        UNION ALL
        SELECT ult_geo, 0, 0.0, 0.0, moved_ev, moved_rwea
        FROM moved),
      rolled AS (
        SELECT coalesce(geo, 'ALL') AS country,
               CAST(sum(imm) AS BIGINT) AS n_exposures,
               ${sqlDsum("imm_orig", 2)} AS orig_exposure_imm,
               ${sqlDsum("imm_rwea", 2)} AS rwea_imm,
               ${sqlDsum("ult_ev", 2)} AS exposure_value_ult,
               ${sqlDsum("ult_rwea", 2)} AS rwea_ult
        FROM legs
        GROUP BY ROLLUP(geo))
      SELECT country, n_exposures, orig_exposure_imm, rwea_imm,
             exposure_value_ult, rwea_ult,
             ${sql2("rwea_ult - rwea_imm")} AS net_rwea_shift
      FROM rolled
      ORDER BY country
    """.stripMargin.trim))

  // ---- q168: multi-entity reporting scope ------------------------------

  /** q168: the scope resolver (reference `engine/stages/scope/stage.py`;
    * CRR Part One Title II Art. 6/11-18 levels of application): consume
    * the loaded bundle, republish the SAME artifact shape filtered to
    * one reporting entity's consolidation perimeter, and run the
    * UNCHANGED downstream pipeline over it. The perimeter here is a
    * lending group (`parent_group`): counterparties in the group, their
    * exposures by semi-join, and each side book narrowed to the scoped
    * exposures/counterparties — the bundle filter, not a results filter.
    *
    * The output summarises the scoped run per (class, approach). The
    * perimeter is CLOSED under every window partition the pipeline uses
    * (group roll-ups key `parent_group`, provision pro-rata keys the
    * counterparty, the CRM waterfall keys the exposure), so the scoped
    * run equals the full run filtered to the entity — the reference's I1
    * invariant generalised from `None` to any whole perimeter; the
    * oracle exploits exactly that closure (one WHERE over the shared
    * ledger chain), and DomainPipelineSpec pins it engine-side.
    */
  val q168ReportingScope = QueryDef(
    "q168_reporting_scope",
    (s, dir) => {
      val entity = "GRP-3"
      // The scoped bundle edges are multi-consumer (cpty feeds the
      // exposure semi-join, the provision union AND enrichFx; exp feeds
      // enrichFx and — via expKeys — the collateral/guarantee/provision
      // semi-joins; the CRM waterfall reads its input once).
      // Catalyst does not CSE across join branches, so unpersisted the
      // counterparty chain executed 27× and the exposure-unify chain 10×
      // per run (scan counts from
      // plans/r20/q168_reporting_scope_before.txt). Persisting the shared
      // edges makes each chain ONE pass — at 100 TB this is the
      // difference between one and ten scans of the exposure book
      // (guide §2.4).
      val cpty = DomainPipeline.counterparties(s, dir)
        .filter(col("parent_group") === entity)
        .transform(graft.SessionScope.persist)
      val exp = DomainPipeline.exposuresUnified(s, dir)
        .join(cpty.select("counterparty_reference"),
          Seq("counterparty_reference"), "semi")
        .transform(graft.SessionScope.persist)
      val expKeys = exp.select("exposure_reference")
      val coll = DomainPipeline.collateral(s, dir)
        .join(expKeys, Seq("exposure_reference"), "semi")
      val guar = DomainPipeline.guarantees(s, dir)
        .join(expKeys, Seq("exposure_reference"), "semi")
      val prov = DomainPipeline.provisions(s, dir)
        .join(
          expKeys.withColumnRenamed("exposure_reference", "beneficiary_reference")
            .unionByName(cpty
              .select(col("counterparty_reference").as("beneficiary_reference"))),
          Seq("beneficiary_reference"), "semi")
      val enriched = DomainPipeline.enrichFx(exp, cpty)
      val h = DomainPipeline.hierarchy(enriched)
      val cls = DomainPipeline.classify(h, DomainPipeline.modelPermissions(s, dir))
      val ead = DomainPipeline.eadCalc(cls, prov)
      val withRw = DomainPipeline.ownRiskWeight(ead)
      val crm = DomainPipeline.crmWaterfall(withRw, coll, guar)
      val led = DomainPipeline.rwaCalc(crm)
      led.groupBy(col("exposure_class"), col("approach"))
        .agg(
          count(lit(1)).as("n_exposures"),
          dsum(col("ead_pre_crm"), 2).as("total_ead"),
          dsum(col("coll_covered"), 2).as("collateral_covered"),
          dsum(col("guar_covered"), 2).as("guarantee_covered"),
          dsum(col("rwa"), 2).as("total_rwa"))
        .withColumn("reporting_entity", lit(entity))
        .orderBy(col("exposure_class"), col("approach"))
    },
    Some(s"""
      WITH $domainLedgerCtes
      SELECT exposure_class, approach,
             count(*) AS n_exposures,
             ${sqlDsum("ead_pre_crm", 2)} AS total_ead,
             ${sqlDsum("coll_covered", 2)} AS collateral_covered,
             ${sqlDsum("guar_covered", 2)} AS guarantee_covered,
             ${sqlDsum("rwa", 2)} AS total_rwa,
             'GRP-3' AS reporting_entity
      FROM final
      WHERE parent_group = 'GRP-3'
      GROUP BY exposure_class, approach
      ORDER BY exposure_class, approach
    """.stripMargin.trim))

  // ---- q171: sub-row collapse to key grain (recon prep) ----------------

  /** q171: `aggregate_to_key_grain` (reference
    * `engine/aggregator/_collapse.py`; `operators/Collapse`): a split
    * results frame — guarantee legs carrying
    * `parent_exposure_reference` with `__G_`/`__REM` suffixed references
    * — collapses back to loan grain before reconciliation: money sums,
    * the risk weight recomputes from the summed numerator/denominator
    * (never averaged), the representative column takes the
    * deterministic min (the recorded Spark-side replacement for the
    * reference's frame-order first), and groups whose APPROACH differs
    * across legs flag heterogeneous. The census rolls the collapsed
    * grain by (n_legs, heterogeneous) with a conservation total — the
    * split book's money must survive the collapse to the cent.
    */
  val q171CollapseKeyGrain = QueryDef(
    "q171_collapse_key_grain",
    (s, dir) => {
      import graft.operators.Collapse
      val o = Tables.orders(s, dir)
      val isSplit = col("o_orderkey") % 4 === 0
      val legs = o.select(col("o_orderkey"), col("o_totalprice"),
          explode(filter(array(
            when(!isSplit, struct(
              concat(lit("ORD-"), col("o_orderkey").cast("string")).as("ref"),
              lit(null).cast("string").as("parent"),
              lit(1.0).as("share"), lit(1.0).as("rw"),
              lit("SA").as("approach"))),
            when(isSplit, struct(
              concat(lit("ORD-"), col("o_orderkey").cast("string"),
                lit("__G_"), (col("o_orderkey") % 7).cast("string")).as("ref"),
              concat(lit("ORD-"), col("o_orderkey").cast("string")).as("parent"),
              lit(0.3).as("share"), lit(0.2).as("rw"),
              lit("SA").as("approach"))),
            when(isSplit, struct(
              concat(lit("ORD-"), col("o_orderkey").cast("string"),
                lit("__REM")).as("ref"),
              concat(lit("ORD-"), col("o_orderkey").cast("string")).as("parent"),
              lit(0.7).as("share"), lit(1.0).as("rw"),
              // every eighth split's remainder leg routes differently —
              // the heterogeneity the collapse must surface, not hide
              when(col("o_orderkey") % 8 === 0, "IRB").otherwise("SA")
                .as("approach")))), x => x.isNotNull)).as("leg"))
        .select(
          col("leg.ref").as("exposure_reference"),
          col("leg.parent").as("parent_exposure_reference"),
          q2(col("o_totalprice") * col("leg.share")).as("ead"),
          q2(q2(col("o_totalprice") * col("leg.share")) * col("leg.rw"))
            .as("rwa"),
          col("leg.approach").as("approach"))
      val collapsed = Collapse.aggregateToKeyGrain(legs,
        coalesce(col("parent_exposure_reference"), col("exposure_reference")),
        moneyCols = Seq("ead", "rwa"),
        ratioCols = Seq(("risk_weight", "rwa", "ead")),
        categoricalCols = Seq("approach"))
      val census = collapsed.groupBy(col("n_legs"), col("heterogeneous"))
        .agg(count(lit(1)).as("n_parents"),
          dsum(col("ead"), 2).as("total_ead"),
          dsum(col("rwa"), 2).as("total_rwa"))
        .select(col("n_legs"), col("heterogeneous"), col("n_parents"),
          col("total_ead"), col("total_rwa"),
          q6(col("total_rwa") / col("total_ead")).as("avg_rw"))
      val conservation = legs.agg(
          lit(null).cast("long").as("n_legs"),
          lit(null).cast("boolean").as("heterogeneous"),
          count(lit(1)).as("n_parents"),
          dsum(col("ead"), 2).as("total_ead"),
          dsum(col("rwa"), 2).as("total_rwa"))
        .withColumn("avg_rw", q6(col("total_rwa") / col("total_ead")))
      census.unionByName(conservation)
        .orderBy(col("n_legs").asc_nulls_last, col("heterogeneous"))
    },
    Some(s"""
      WITH x171legs AS (
        SELECT 'ORD-' || CAST(o_orderkey AS VARCHAR) AS exposure_reference,
               NULL::VARCHAR AS parent_exposure_reference,
               ${sql2("o_totalprice")} AS ead,
               ${sql2(sql2("o_totalprice") + " * 1.0")} AS rwa,
               'SA' AS approach
        FROM orders WHERE o_orderkey % 4 <> 0
        UNION ALL
        SELECT 'ORD-' || CAST(o_orderkey AS VARCHAR) || '__G_' ||
                 CAST(o_orderkey % 7 AS VARCHAR),
               'ORD-' || CAST(o_orderkey AS VARCHAR),
               ${sql2("o_totalprice * 0.3")},
               ${sql2(sql2("o_totalprice * 0.3") + " * 0.2")},
               'SA'
        FROM orders WHERE o_orderkey % 4 = 0
        UNION ALL
        SELECT 'ORD-' || CAST(o_orderkey AS VARCHAR) || '__REM',
               'ORD-' || CAST(o_orderkey AS VARCHAR),
               ${sql2("o_totalprice * 0.7")},
               ${sql2(sql2("o_totalprice * 0.7") + " * 1.0")},
               CASE WHEN o_orderkey % 8 = 0 THEN 'IRB' ELSE 'SA' END
        FROM orders WHERE o_orderkey % 4 = 0),
      x171collapsed AS (
        SELECT coalesce(parent_exposure_reference, exposure_reference)
                 AS collapse_key,
               ${sqlDsum("ead", 2)} AS ead,
               ${sqlDsum("rwa", 2)} AS rwa,
               count(DISTINCT approach) +
                 max(CASE WHEN approach IS NULL THEN 1 ELSE 0 END) > 1
                 AS heterogeneous,
               count(*) AS n_legs
        FROM x171legs GROUP BY 1)
      SELECT * FROM (
        SELECT n_legs, heterogeneous, count(*) AS n_parents,
               ${sqlDsum("ead", 2)} AS total_ead,
               ${sqlDsum("rwa", 2)} AS total_rwa,
               ${sql6(s"${sqlDsum("rwa", 2)} / ${sqlDsum("ead", 2)}")} AS avg_rw
        FROM x171collapsed GROUP BY n_legs, heterogeneous
        UNION ALL
        SELECT NULL, NULL, count(*),
               ${sqlDsum("ead", 2)}, ${sqlDsum("rwa", 2)},
               ${sql6(s"${sqlDsum("rwa", 2)} / ${sqlDsum("ead", 2)}")}
        FROM x171legs)
      ORDER BY n_legs ASC NULLS LAST, heterogeneous
    """.stripMargin.trim))

  val all: Seq[QueryDef] = Seq(
    q85ModelPermissions, q86RunComparison, q171CollapseKeyGrain,
    q90DomainPipeline, q91RwCascade, q92IrbPortfolio, q93Reconciliation,
    q94CorepTemplate, q95SaPortfolio, q98SecuritisationAllocator,
    q99Transition, q100Provisions, q102Pillar3Cr4, q103CiuLookthrough,
    q106LedgerAudit, q109DoubleDefault, q115Tieouts, q116GeoBreakdown,
    q117PdBacktesting, q118RwBands, q129GeoUltimateRisk, q145Cr9Full,
    q150Cr91EcaiBacktesting, q152CrossTemplate, q153SubmissionGate,
    q154CapitalDrivers, q168ReportingScope)
}
