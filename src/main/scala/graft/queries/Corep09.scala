package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.DomainPipeline
import graft.reporting.Postpass
import Q._

/** COREP C 09.01 / C 09.02 — the geographical breakdown templates
  * (reference `reporting/corep/c09.py`; `templates.py` CRR_C09_01_ROWS /
  * CRR_C09_01_COLUMNS / CRR_C09_02_ROWS / CRR_C09_02_COLUMNS;
  * Reg (EU) 2021/451 Annex I/II). Submitted once at total level and once
  * per country: the sheet axis is (country ∪ 'ALL') × the published row
  * refs, one frame per template.
  *
  * Recorded vocabulary decisions (the repo's ledger mapped onto the
  * published grid, mirroring the reference's reverse-map keying
  * `c09.py:79-99`):
  *
  *  - Class rows bind the pipeline classes that exist in this rulebook
  *    (sovereign→0010, institution→0060, corporate+sme_corporate→0070,
  *    retail→0080 on C 09.01); rows whose key this calculator never
  *    emits (RGLA, PSE, MDB, CIU, equity, …) are INERT and render
  *    all-null — never silently re-homed into a neighbouring class
  *    (`templates.py:1586-1590`).
  *  - The repo's classifier does not re-home defaulted exposures into a
  *    separate Art. 112(j) class (its C 07.00 port keeps them on the
  *    obligor's class row), so row 0100 here is the defaulted OVERLAY
  *    census ("of which" discipline, like rows 0075/0085) and column
  *    0020 carries each class row's defaulted slice. This keeps the
  *    cross-template v0350 family EXACT per class row against the
  *    C 07.00 cells (q152).
  *  - "Of which: SME" rows key the data (sme_corporate class; retail
  *    with turnover under the Art. 501 threshold), the reference's
  *    `_C09_01_SME_PARENT_KEYS` subset discipline.
  *  - CRR framework geometry (13 columns on C 09.01 incl. the
  *    supporting-factor block 0080-0082). The supporting-factor
  *    adjustment column 0081 carries Σ(rwa_pre_factor − rwa) and is
  *    emitted NEGATIVE by the Annex II §1.3 sign pass
  *    ([[graft.reporting.Postpass.negateDeductionCols]]) — exactly the
  *    reference's module post-step (`c09.py:132-146`), so
  *    0080 + 0081 + 0082 = 0090 additively on the REPORTED cells (the
  *    boe_b0225-family identity; gated in q153).
  *  - Empty/inert rows render ALL-NULL, populated rows' unbound cells
  *    zero-fill ([[graft.reporting.Postpass.nullEmptyRows]] semantics;
  *    the general-CRA / write-off columns are computed zero claims —
  *    this rulebook holds no general provisions and records no
  *    write-offs).
  *
  * Scale shape: the membership fan is explode(filter(array(...)))
  * over the ledger slice — each row lands in its class row, its
  * overlay rows and the total row in ONE pass; one (country, row_ref)
  * shuffle aggregates every cell; the 'ALL' sheet re-aggregates the
  * ALREADY-REDUCED per-country grid (a second shuffle over ~25×8 rows,
  * not the data); the axis join and both post-passes are pure Column
  * work on the few-hundred-row grid. At 100 TB the only data-sized
  * cost is the single fan shuffle.
  */
object Corep09 {

  private def d(v: Double): String = s"CAST($v AS DOUBLE)"

  // ---- C 09.01 (SA) ----------------------------------------------------

  /** The published CRR C 09.01 row refs (reference `templates.py`
    * CRR_C09_01_ROWS): bound rows carry this rulebook's class key. */
  private[queries] val c0901Rows: Seq[String] = Seq(
    "0010", "0020", "0030", "0040", "0050", "0060", "0070", "0075",
    "0080", "0085", "0090", "0095", "0100", "0110", "0120", "0130",
    "0140", "0141", "0142", "0143", "0150", "0160", "0170")

  /** Rows this calculator never populates (no class in the vocabulary
    * maps to them — `C09_01_SA_CLASS_MAP` has no entry). */
  private[queries] val c0901InertRows: Set[String] = Set(
    "0020", "0030", "0040", "0050", "0090", "0095", "0110", "0120",
    "0130", "0140", "0141", "0142", "0143", "0150", "0160")

  private val c0901MeasureCols: Seq[String] = Seq(
    "c0010", "c0020", "c0040", "c0050", "c0055", "c0060", "c0061",
    "c0070", "c0075", "c0080", "c0081", "c0082", "c0090")

  /** q158: C 09.01 — geographical breakdown of SA exposures by obligor
    * country, full published CRR geometry. */
  val q158CorepC09 = QueryDef(
    "q158_corep_c09",
    (s, dir) => {
      import s.implicits._
      val sa = DomainPipeline.ledger(s, dir)
        .filter(col("approach") === "SA")
        .select(
          col("country"), col("exposure_class"), col("turnover"),
          col("is_defaulted"),
          (col("drawn_base") + col("undrawn_base")).as("orig"),
          col("provision_deducted"), col("ead_pre_crm"),
          col("rwa_pre_sf"), col("rwa"))
      val classRef = when(col("exposure_class") === "sovereign", "0010")
        .when(col("exposure_class") === "institution", "0060")
        .when(col("exposure_class").isin("corporate", "sme_corporate"), "0070")
        .when(col("exposure_class") === "retail", "0080")
      val members = array(
        classRef,
        when(col("exposure_class") === "sme_corporate", "0075"),
        when(col("exposure_class") === "retail" &&
          col("turnover") < 50000000.0, "0085"),
        when(col("is_defaulted"), "0100"),
        lit("0170"))
      val fan = sa.withColumn("row_ref",
          explode(filter(members, m => m.isNotNull)))
      // persisted: the ALL-country rollup, the axis distinct and the grid
      // join all re-aggregate this frame (4 ledger-scan aggregations
      // without it — Catalyst does not CSE across union/join branches;
      // r19, the q98 pattern); the frame is countries x populated rows
      val rolled = fan.groupBy(col("country"), col("row_ref"))
        .agg(
          count(lit(1)).as("n_rows"),
          dsum(col("orig"), 2).as("c0010"),
          dsum(when(col("is_defaulted"), col("orig")).otherwise(0.0), 2)
            .as("c0020"),
          count(when(col("is_defaulted"), lit(1))).as("c0040"),
          dsum(col("provision_deducted"), 2).as("c0055"),
          dsum(when(col("is_defaulted"), col("provision_deducted"))
            .otherwise(0.0), 2).as("c0070"),
          dsum(col("ead_pre_crm"), 2).as("c0075"),
          dsum(col("rwa_pre_sf"), 2).as("c0080"),
          dsum(col("rwa_pre_sf") - col("rwa"), 2).as("c0081"),
          dsum(col("rwa"), 2).as("c0090"))
        .transform(graft.SessionScope.persist)
      val allSheet = rolled.groupBy(col("row_ref")).agg(
          sum(col("n_rows")).as("n_rows"),
          dsum(col("c0010"), 2).as("c0010"),
          dsum(col("c0020"), 2).as("c0020"),
          sum(col("c0040")).as("c0040"),
          dsum(col("c0055"), 2).as("c0055"),
          dsum(col("c0070"), 2).as("c0070"),
          dsum(col("c0075"), 2).as("c0075"),
          dsum(col("c0080"), 2).as("c0080"),
          dsum(col("c0081"), 2).as("c0081"),
          dsum(col("c0090"), 2).as("c0090"))
        .select(lit("ALL").as("country"), col("*"))
      val sheet = rolled.unionByName(allSheet)
      val axis = sheet.select(col("country")).distinct()
        .crossJoin(broadcast(c0901Rows.toDF("row_ref")))
      val grid = axis.join(sheet, Seq("country", "row_ref"), "left")
        .select(
          col("country"), col("row_ref"), col("n_rows"),
          col("c0010"), col("c0020"), col("c0040"),
          // computed zero claims on populated rows, null on empty rows
          when(col("n_rows").isNotNull, 0.0).as("c0050"),
          col("c0055"),
          when(col("n_rows").isNotNull, 0.0).as("c0060"),
          when(col("n_rows").isNotNull, 0.0).as("c0061"),
          col("c0070"), col("c0075"), col("c0080"), col("c0081"),
          when(col("n_rows").isNotNull, 0.0).as("c0082"),
          col("c0090"))
      val signed = Postpass.negateDeductionCols(grid, Set("c0081", "c0082"))
      Postpass.nullEmptyRows(signed, "n_rows", c0901MeasureCols, c0901InertRows)
        .orderBy(col("country"), col("row_ref"))
    },
    Some {
      val axisValues = c0901Rows.map(r => s"('$r')").mkString(", ")
      s"""
      WITH ${Domain.domainLedgerCtes},
      c09sa AS MATERIALIZED (
        SELECT country, exposure_class, turnover, is_defaulted,
               drawn_base + undrawn_base AS orig,
               provision_deducted, ead_pre_crm, rwa_pre_sf, rwa
        FROM final WHERE approach = 'SA'),
      c09fan AS (
        SELECT CASE WHEN exposure_class = 'sovereign' THEN '0010'
                    WHEN exposure_class = 'institution' THEN '0060'
                    WHEN exposure_class IN ('corporate', 'sme_corporate')
                      THEN '0070'
                    WHEN exposure_class = 'retail' THEN '0080' END AS row_ref,
               * FROM c09sa
        UNION ALL
        SELECT '0075', * FROM c09sa WHERE exposure_class = 'sme_corporate'
        UNION ALL
        SELECT '0085', * FROM c09sa
        WHERE exposure_class = 'retail' AND turnover < 50000000.0
        UNION ALL
        SELECT '0100', * FROM c09sa WHERE is_defaulted
        UNION ALL
        SELECT '0170', * FROM c09sa),
      c09rolled AS MATERIALIZED (
        SELECT country, row_ref,
               count(*) AS n_rows,
               ${sqlDsum("orig", 2)} AS c0010,
               ${sqlDsum("CASE WHEN is_defaulted THEN orig ELSE 0.0 END", 2)}
                 AS c0020,
               count(CASE WHEN is_defaulted THEN 1 END) AS c0040,
               ${sqlDsum("provision_deducted", 2)} AS c0055,
               ${sqlDsum(
                 "CASE WHEN is_defaulted THEN provision_deducted ELSE 0.0 END",
                 2)} AS c0070,
               ${sqlDsum("ead_pre_crm", 2)} AS c0075,
               ${sqlDsum("rwa_pre_sf", 2)} AS c0080,
               ${sqlDsum("rwa_pre_sf - rwa", 2)} AS c0081,
               ${sqlDsum("rwa", 2)} AS c0090
        FROM c09fan GROUP BY country, row_ref),
      c09sheet AS MATERIALIZED (
        SELECT * FROM c09rolled
        UNION ALL
        SELECT 'ALL', row_ref,
               CAST(sum(n_rows) AS BIGINT),
               ${sqlDsum("c0010", 2)},
               ${sqlDsum("c0020", 2)},
               CAST(sum(c0040) AS BIGINT),
               ${sqlDsum("c0055", 2)},
               ${sqlDsum("c0070", 2)},
               ${sqlDsum("c0075", 2)},
               ${sqlDsum("c0080", 2)},
               ${sqlDsum("c0081", 2)},
               ${sqlDsum("c0090", 2)}
        FROM c09rolled GROUP BY row_ref),
      c09axis AS (
        SELECT c.country, r.row_ref
        FROM (SELECT DISTINCT country FROM c09sheet) c
        CROSS JOIN (VALUES $axisValues) r(row_ref))
      SELECT a.country, a.row_ref, s.n_rows,
             s.c0010, s.c0020, s.c0040,
             CASE WHEN s.n_rows IS NOT NULL THEN 0.0 END AS c0050,
             s.c0055,
             CASE WHEN s.n_rows IS NOT NULL THEN 0.0 END AS c0060,
             CASE WHEN s.n_rows IS NOT NULL THEN 0.0 END AS c0061,
             s.c0070, s.c0075, s.c0080,
             CASE WHEN s.c0081 = 0.0 THEN 0.0 ELSE -s.c0081 END AS c0081,
             CASE WHEN s.n_rows IS NOT NULL THEN 0.0 END AS c0082,
             s.c0090
      FROM c09axis a LEFT JOIN c09sheet s USING (country, row_ref)
      ORDER BY a.country, a.row_ref
    """.stripMargin.trim
    })

  // ---- C 09.02 (IRB) ---------------------------------------------------

  /** The published CRR C 09.02 row refs (reference `templates.py`
    * CRR_C09_02_ROWS, 16 rows). This rulebook's IRB book is institutions
    * + corporates only (the permission routing q85), so rows 0020/0030
    * and the Total bind; every other row — central governments, the SL
    * and SME sub-rows, the retail family, equity — is inert and renders
    * all-null, the reference's recorded dead-code discipline
    * (`c09.py:79-86`). */
  private[queries] val c0902Rows: Seq[String] = Seq(
    "0010", "0020", "0030", "0042", "0045", "0050", "0060", "0070",
    "0080", "0090", "0100", "0110", "0120", "0130", "0140", "0150")

  private[queries] val c0902InertRows: Set[String] = Set(
    "0010", "0042", "0045", "0050", "0060", "0070", "0080", "0090",
    "0100", "0110", "0120", "0130", "0140")

  private val c0902MeasureCols: Seq[String] = Seq(
    "c0010", "c0030", "c0040", "c0050", "c0055", "c0060", "c0070",
    "c0080", "c0090", "c0100", "c0105", "c0110", "c0120", "c0121",
    "c0122", "c0125", "c0130")

  /** q160: C 09.02 — geographical breakdown of IRB exposures with the
    * PD/LGD/EL parameter columns (CRR geometry, 17 columns).
    *
    * The provisions cells exercise the reference's recorded R10b ladder
    * ([[graft.reporting.Postpass.provisionsPostfix]]): the Art. 111(2)
    * drawn-first deduction is SA-only, so `provision_deducted` is
    * STRUCTURALLY 0.0 on every IRB leg and the base sum nets to zero on
    * every populated row — the pass swaps the cell to the sealed
    * `provision_allocated` carrier, which IS meaningful on the IRB book
    * (it feeds the EL shortfall), exactly the reference's fallback
    * (`postpass.py:262-283`). The parameter columns (0080/0090/0100)
    * are exposure-weighted averages derived from in-band numerators at
    * the grid stage, null on empty subsets.
    */
  val q160CorepC0902 = QueryDef(
    "q160_corep_c0902",
    (s, dir) => {
      import s.implicits._
      val key = expr("CAST(substring(exposure_reference, 5) AS BIGINT)")
      val irb = DomainPipeline.ledger(s, dir)
        .filter(col("approach") === "IRB")
        .withColumn("k", key)
        .withColumn("pd_floored",
          greatest(lit(0.0001) + (col("k") % 997).cast("double") * lit(0.001),
            lit(0.0003)))
        .withColumn("lgd_floored",
          greatest((col("k") % 60).cast("double") * lit(0.01), lit(0.05)))
        .select(
          col("country"), col("exposure_class"), col("is_defaulted"),
          (col("drawn_base") + col("undrawn_base")).as("orig"),
          col("provision_deducted"), col("provision_allocated"),
          col("ead_pre_crm"), col("rwa_pre_sf"), col("rwa"),
          col("pd_floored"), col("lgd_floored"))
      val classRef = when(col("exposure_class") === "institution", "0020")
        .when(col("exposure_class") === "corporate", "0030")
      val fan = irb.withColumn("row_ref",
        explode(filter(array(classRef, lit("0150")), m => m.isNotNull)))
      val rolled = fan.groupBy(col("country"), col("row_ref"))
        .agg(
          count(lit(1)).as("n_rows"),
          dsum(col("orig"), 2).as("c0010"),
          dsum(when(col("is_defaulted"), col("orig")).otherwise(0.0), 2)
            .as("c0030"),
          count(when(col("is_defaulted"), lit(1))).as("c0040"),
          dsum(col("provision_deducted"), 2).as("c0055_base"),
          dsum(col("provision_allocated"), 2).as("prov_fb"),
          dsum(when(col("is_defaulted"), col("provision_deducted"))
            .otherwise(0.0), 2).as("c0070_base"),
          dsum(when(col("is_defaulted"), col("provision_allocated"))
            .otherwise(0.0), 2).as("prov_def_fb"),
          // raw products summed BEYOND their true decimal precision
          // (pd 4-dec x ead 2-dec -> scale 6; lgd 2-dec x ead 2-dec ->
          // scale 4): a q2 pre-quantise here is tie-UNSTABLE because the
          // engines derive lgd from 0.01 differently (double multiply vs
          // decimal literal), leaving products one ulp apart across a
          // .5 boundary — at the full scale the cast never rounds and
          // the one-ulp wobble is absorbed (Q.dsum SCALE RULE).
          dsum(col("pd_floored") * col("ead_pre_crm"), 6).as("pd_num"),
          dsum(col("lgd_floored") * col("ead_pre_crm"), 4).as("lgd_num"),
          dsum(when(col("is_defaulted"),
            col("lgd_floored") * col("ead_pre_crm")).otherwise(0.0), 4)
            .as("lgd_def_num"),
          dsum(when(col("is_defaulted"), col("ead_pre_crm")).otherwise(0.0), 2)
            .as("ead_def"),
          dsum(col("ead_pre_crm"), 2).as("c0105"),
          dsum(col("rwa_pre_sf"), 2).as("c0110"),
          dsum(when(col("is_defaulted"), col("rwa")).otherwise(0.0), 2)
            .as("c0120"),
          dsum(col("rwa_pre_sf") - col("rwa"), 2).as("c0121"),
          dsum(col("rwa"), 2).as("c0125"),
          dsum(col("pd_floored") * col("lgd_floored") * col("ead_pre_crm"),
            8).as("c0130"))
        // The rollup feeds THREE consumers (the ALL-country re-agg, the
        // sheet union, the axis distinct) and Catalyst does not CSE
        // across join/union branches — unpersisted, the fan-explode +
        // 17-measure aggregation over the full IRB ledger executed four
        // times per run (probe, r20: four ~1 s 32-task stages). The
        // frame is ≤ countries × row_refs rows at ANY scale, so it is
        // collapsed to one partition before the persist — without the
        // coalesce each downstream regroup stays a task-per-partition
        // stage and the persist only re-buys its cost (the r19 attempt,
        // reverted then as a measured regression).
        .coalesce(1)
        .transform(graft.SessionScope.persist)
      val allSheet = rolled.groupBy(col("row_ref")).agg(
          sum(col("n_rows")).as("n_rows"),
          dsum(col("c0010"), 2).as("c0010"),
          dsum(col("c0030"), 2).as("c0030"),
          sum(col("c0040")).as("c0040"),
          dsum(col("c0055_base"), 2).as("c0055_base"),
          dsum(col("prov_fb"), 2).as("prov_fb"),
          dsum(col("c0070_base"), 2).as("c0070_base"),
          dsum(col("prov_def_fb"), 2).as("prov_def_fb"),
          dsum(col("pd_num"), 6).as("pd_num"),
          dsum(col("lgd_num"), 4).as("lgd_num"),
          dsum(col("lgd_def_num"), 4).as("lgd_def_num"),
          dsum(col("ead_def"), 2).as("ead_def"),
          dsum(col("c0105"), 2).as("c0105"),
          dsum(col("c0110"), 2).as("c0110"),
          dsum(col("c0120"), 2).as("c0120"),
          dsum(col("c0121"), 2).as("c0121"),
          dsum(col("c0125"), 2).as("c0125"),
          dsum(col("c0130"), 8).as("c0130"))
        .select(lit("ALL").as("country"), col("*"))
      val sheet = rolled.unionByName(allSheet)
      val axis = sheet.select(col("country")).distinct()
        .crossJoin(broadcast(c0902Rows.toDF("row_ref")))
      val grid = axis.join(sheet, Seq("country", "row_ref"), "left")
        .select(
          col("country"), col("row_ref"), col("n_rows"),
          col("c0010"), col("c0030"), col("c0040"),
          when(col("n_rows").isNotNull, 0.0).as("c0050"),
          col("c0055_base").as("c0055"), col("prov_fb"),
          when(col("n_rows").isNotNull, 0.0).as("c0060"),
          col("c0070_base").as("c0070"), col("prov_def_fb"),
          when(col("c0105") > 0, q6(col("pd_num") / col("c0105") * 100))
            .as("c0080"),
          when(col("c0105") > 0, q6(col("lgd_num") / col("c0105") * 100))
            .as("c0090"),
          when(col("ead_def") > 0, q6(col("lgd_def_num") / col("ead_def") * 100))
            .as("c0100"),
          col("c0105"), col("c0110"), col("c0120"), col("c0121"),
          when(col("n_rows").isNotNull, 0.0).as("c0122"),
          col("c0125"), col("c0130"))
      val laddered = Postpass.provisionsPostfix(
        Postpass.provisionsPostfix(grid, "c0055", "prov_fb"),
        "c0070", "prov_def_fb")
        .drop("prov_fb", "prov_def_fb")
      val signed = Postpass.negateDeductionCols(laddered, Set("c0121", "c0122"))
      Postpass.nullEmptyRows(signed, "n_rows", c0902MeasureCols, c0902InertRows)
        .orderBy(col("country"), col("row_ref"))
    },
    Some {
      val axisValues = c0902Rows.map(r => s"('$r')").mkString(", ")
      s"""
      WITH ${Domain.domainLedgerCtes},
      c0902irb AS MATERIALIZED (
        SELECT country, exposure_class, is_defaulted,
               drawn_base + undrawn_base AS orig,
               provision_deducted, provision_allocated,
               ead_pre_crm, rwa_pre_sf, rwa,
               greatest(0.0001 + (CAST(substr(exposure_reference, 5) AS BIGINT)
                 % 997) * 0.001, 0.0003) AS pd_floored,
               greatest((CAST(substr(exposure_reference, 5) AS BIGINT) % 60)
                 * 0.01, 0.05) AS lgd_floored
        FROM final WHERE approach = 'IRB'),
      c0902fan AS (
        SELECT CASE WHEN exposure_class = 'institution' THEN '0020'
                    WHEN exposure_class = 'corporate' THEN '0030' END
                 AS row_ref, * FROM c0902irb
        UNION ALL
        SELECT '0150', * FROM c0902irb),
      c0902rolled AS MATERIALIZED (
        SELECT country, row_ref,
               count(*) AS n_rows,
               ${sqlDsum("orig", 2)} AS c0010,
               ${sqlDsum("CASE WHEN is_defaulted THEN orig ELSE 0.0 END", 2)}
                 AS c0030,
               count(CASE WHEN is_defaulted THEN 1 END) AS c0040,
               ${sqlDsum("provision_deducted", 2)} AS c0055_base,
               ${sqlDsum("provision_allocated", 2)} AS prov_fb,
               ${sqlDsum(
                 "CASE WHEN is_defaulted THEN provision_deducted ELSE 0.0 END",
                 2)} AS c0070_base,
               ${sqlDsum(
                 "CASE WHEN is_defaulted THEN provision_allocated ELSE 0.0 END",
                 2)} AS prov_def_fb,
               ${sqlDsum("pd_floored * ead_pre_crm", 6)} AS pd_num,
               ${sqlDsum("lgd_floored * ead_pre_crm", 4)} AS lgd_num,
               ${sqlDsum("CASE WHEN is_defaulted THEN " +
                 "lgd_floored * ead_pre_crm ELSE 0.0 END", 4)}
                 AS lgd_def_num,
               ${sqlDsum("CASE WHEN is_defaulted THEN ead_pre_crm ELSE 0.0 END",
                 2)} AS ead_def,
               ${sqlDsum("ead_pre_crm", 2)} AS c0105,
               ${sqlDsum("rwa_pre_sf", 2)} AS c0110,
               ${sqlDsum("CASE WHEN is_defaulted THEN rwa ELSE 0.0 END", 2)}
                 AS c0120,
               ${sqlDsum("rwa_pre_sf - rwa", 2)} AS c0121,
               ${sqlDsum("rwa", 2)} AS c0125,
               ${sqlDsum("pd_floored * lgd_floored * ead_pre_crm", 8)}
                 AS c0130
        FROM c0902fan WHERE row_ref IS NOT NULL GROUP BY country, row_ref),
      c0902sheet AS MATERIALIZED (
        SELECT * FROM c0902rolled
        UNION ALL
        SELECT 'ALL', row_ref,
               CAST(sum(n_rows) AS BIGINT),
               ${sqlDsum("c0010", 2)}, ${sqlDsum("c0030", 2)},
               CAST(sum(c0040) AS BIGINT),
               ${sqlDsum("c0055_base", 2)}, ${sqlDsum("prov_fb", 2)},
               ${sqlDsum("c0070_base", 2)}, ${sqlDsum("prov_def_fb", 2)},
               ${sqlDsum("pd_num", 6)}, ${sqlDsum("lgd_num", 4)},
               ${sqlDsum("lgd_def_num", 4)}, ${sqlDsum("ead_def", 2)},
               ${sqlDsum("c0105", 2)}, ${sqlDsum("c0110", 2)},
               ${sqlDsum("c0120", 2)}, ${sqlDsum("c0121", 2)},
               ${sqlDsum("c0125", 2)}, ${sqlDsum("c0130", 8)}
        FROM c0902rolled GROUP BY row_ref),
      c0902axis AS (
        SELECT c.country, r.row_ref
        FROM (SELECT DISTINCT country FROM c0902sheet) c
        CROSS JOIN (VALUES $axisValues) r(row_ref))
      SELECT a.country, a.row_ref, s.n_rows,
             s.c0010, s.c0030, s.c0040,
             CASE WHEN s.n_rows IS NOT NULL THEN 0.0 END AS c0050,
             CASE WHEN s.c0055_base IS NOT NULL AND abs(s.c0055_base) < 1e-9
                  THEN s.prov_fb ELSE s.c0055_base END AS c0055,
             CASE WHEN s.n_rows IS NOT NULL THEN 0.0 END AS c0060,
             CASE WHEN s.c0070_base IS NOT NULL AND abs(s.c0070_base) < 1e-9
                  THEN s.prov_def_fb ELSE s.c0070_base END AS c0070,
             CASE WHEN s.c0105 > 0
                  THEN ${sql6("s.pd_num / s.c0105 * 100")} END AS c0080,
             CASE WHEN s.c0105 > 0
                  THEN ${sql6("s.lgd_num / s.c0105 * 100")} END AS c0090,
             CASE WHEN s.ead_def > 0
                  THEN ${sql6("s.lgd_def_num / s.ead_def * 100")} END AS c0100,
             s.c0105, s.c0110, s.c0120,
             CASE WHEN s.c0121 = 0.0 THEN 0.0 ELSE -s.c0121 END AS c0121,
             CASE WHEN s.n_rows IS NOT NULL THEN 0.0 END AS c0122,
             s.c0125, s.c0130
      FROM c0902axis a LEFT JOIN c0902sheet s USING (country, row_ref)
      ORDER BY a.country, a.row_ref
    """.stripMargin.trim
    })

  // ---- generated-sheet bundle ------------------------------------------

  /** A generated C 09 sheet from the run bundle
    * ([[graft.reporting.TemplateBundle]]): cross-template consumers read
    * the generated frame instead of re-running the production pipeline;
    * the sheets' OWN QueryDefs always build fresh. */
  private[queries] def generatedSheet(
      s: SparkSession, dir: String, which: String): DataFrame =
    graft.reporting.TemplateBundle.generated(s, dir, which,
      which match {
        case "c0901" => q158CorepC09.build(s, dir)
        case _ => q160CorepC0902.build(s, dir)
      })

  // ---- q170: cell-fact export ------------------------------------------

  private val c0901FactCols = Seq(
    "c0010", "c0020", "c0040", "c0050", "c0055", "c0060", "c0061",
    "c0070", "c0075", "c0080", "c0081", "c0082", "c0090")
  private val c0902FactCols = Seq(
    "c0010", "c0030", "c0040", "c0050", "c0055", "c0060", "c0070",
    "c0080", "c0090", "c0100", "c0105", "c0110", "c0120", "c0121",
    "c0122", "c0125", "c0130")

  /** q170: the cell-fact export (reference `reporting/facts.py` +
    * `api/export.py` fact methods): flatten every cell of the run's
    * GENERATED templates into ONE long frame keyed
    * `(template_id, sheet, row_ref, col_ref)` — the flat address a
    * vendor filing tool maps against, never a merged-header spreadsheet.
    * The recorded value discipline carries over exactly: `value` is
    * double and NEVER filled — a null cell (an inert row, an empty
    * subset) stays a null FACT, distinct from an explicit 0.0 (a
    * computed zero claim) — and the filing metadata (entity, framework,
    * generator) stamps on as constant columns.
    *
    * Traversal reuses the run bundle ([[graft.reporting.TemplateBundle]])
    * — this module never recomputes a cell, the reference's `facts`/
    * `catalog` rule: the C 09 grids and the C 02.00 both-regime rows
    * come from the same generated frames the gate and the cross-template
    * rules read.
    *
    * Scale shape: the bundle frames are driver-local presentation
    * grains; the flatten is a stack per frame and a union — no ledger
    * work at all.
    */
  val q170CellFacts = QueryDef(
    "q170_cell_facts",
    (s, dir) => {
      def meta(framework: String) = Seq(
        lit("GRAFT-BANK").as("entity_id"),
        lit(framework).as("framework"),
        lit("graft-r10").as("generator"))
      def geoFacts(template: String, which: String, cols: Seq[String]) = {
        val sheet = generatedSheet(s, dir, which)
        val stackArgs = cols.map(c =>
          s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ")
        sheet.select(
          (lit(template).as("template_id") +:
            col("country").as("sheet") +:
            col("row_ref") +:
            expr(s"stack(${cols.size}, $stackArgs) AS (col_ref, value)")
              +: meta("CRR")): _*)
      }
      val c09 = geoFacts("C09.01", "c0901", c0901FactCols)
      val c0902 = geoFacts("C09.02", "c0902", c0902FactCols)
      val c02sheet = graft.reporting.TemplateBundle.generated(s, dir, "c02",
        Corep08.q140CorepC02.build(s, dir))
      def c02Facts(framework: String, v: String) = c02sheet.select(
        (lit("C02.00").as("template_id") +: lit("-").as("sheet") +:
          col("row_ref") +: lit("0010").as("col_ref") +:
          col(v).as("value") +: meta(framework)): _*)
      c09.unionByName(c0902)
        .unionByName(c02Facts("CRR", "rwea_crr"))
        .unionByName(c02Facts("BASEL_3_1", "rwea_b31"))
        .orderBy(col("template_id"), col("framework"), col("sheet"),
          col("row_ref"), col("col_ref"))
    },
    Some {
      def geoSql(alias: String, label: String, cols: Seq[String]) =
        cols.map(c => s"""
          SELECT '$label' AS template_id, country AS sheet, row_ref,
                 '$c' AS col_ref, CAST($c AS DOUBLE) AS value,
                 'GRAFT-BANK' AS entity_id, 'CRR' AS framework,
                 'graft-r10' AS generator
          FROM $alias""").mkString("\n          UNION ALL")
      s"""
      WITH ${Domain.domainLedgerCtes},
      x170c09 AS MATERIALIZED (
        SELECT * FROM (${stripLedgerCtes(q158CorepC09.oracle.get)})),
      x170c0902 AS MATERIALIZED (
        SELECT * FROM (${stripLedgerCtes(q160CorepC0902.oracle.get)})),
      x170c02 AS MATERIALIZED (
        SELECT * FROM (${stripLedgerCtes(Corep08.q140CorepC02.oracle.get)}))
      SELECT * FROM (
        ${geoSql("x170c09", "C09.01", c0901FactCols)}
        UNION ALL
        ${geoSql("x170c0902", "C09.02", c0902FactCols)}
        UNION ALL
        SELECT 'C02.00', '-', row_ref, '0010', CAST(rwea_crr AS DOUBLE),
               'GRAFT-BANK', 'CRR', 'graft-r10'
        FROM x170c02
        UNION ALL
        SELECT 'C02.00', '-', row_ref, '0010', CAST(rwea_b31 AS DOUBLE),
               'GRAFT-BANK', 'BASEL_3_1', 'graft-r10'
        FROM x170c02)
      ORDER BY template_id, framework, sheet, row_ref, col_ref
    """.stripMargin.trim
    })

  /** An embedded oracle re-declares the shared ledger CTE chain; inside
    * q170's own WITH (which already declares it) the inner copy must be
    * stripped so DuckDB does not reject the duplicate CTE names. The
    * oracles all start `WITH <domainLedgerCtes>, <own ctes...>`. */
  private def stripLedgerCtes(oracle: String): String = {
    val marker = Domain.domainLedgerCtes
    val idx = oracle.indexOf(marker)
    require(idx >= 0, "embedded oracle does not start with the ledger chain")
    "WITH " + oracle.substring(idx + marker.length).stripPrefix(",").trim
  }

  val all: Seq[QueryDef] = Seq(q158CorepC09, q160CorepC0902, q170CellFacts)
}
