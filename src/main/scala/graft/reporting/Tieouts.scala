package graft.reporting

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.Q._

/** Cross-artifact tie-out checker (reference `reporting/tieouts.py`):
  * the estate reshapes ONE sealed per-exposure ledger into several
  * fixed-format artifacts (the C 07.00-style per-class sheet, the
  * (class, approach) summary, the OV1-style per-approach roll-up), and
  * until this layer nothing asserted those artifacts reconcile with EACH
  * OTHER — a regression that silently drifts one reshape's aggregation
  * would ship in a supervisory return.
  *
  * The ties are an EXPLICIT, curated list of genuinely comparable
  * aggregate pairs — never a blind equality sweep. Pairs whose reporting
  * bases differ BY REGULATION are recorded as non-comparable rows WITH
  * the regulatory reason (reference `tieouts.py:154-171`), so a future
  * maintainer does not "close the gap" with a naive equality assertion
  * that would flag a correct figure as a break. Breaks are emitted as
  * DATA (accumulate-don't-throw), one row per tie.
  *
  * Scale shape: three independent one-shuffle aggregations over the
  * (memoised, persisted) ledger, each collapsing to ≤ a few dozen rows;
  * every subsequent join/cross-join is over single-digit-row frames.
  */
object Tieouts {

  /** Recorded non-comparable pairs: (tie_id, regulatory reason). */
  val nonComparable: Seq[(String, String)] = Seq(
    ("nc_raw_class_vs_post_substitution",
      "per-class ties key the raw origination class; a post-substitution basis shifts guaranteed exposures between classes by regulation (Art. 235) - not a break"),
    ("nc_crr_rwea_vs_b31_rwea",
      "the candidate-regime RWEA is a different rulepack by regulation; it must not be tied to the CRR-regime sheet"))

  /** Compute the curated tie-out frame from the sealed ledger and its
    * independently-generated (class, approach) summary.
    *
    * Output: one row per tie — `tie_id`, `comparable`, `lhs_total`,
    * `rhs_total`, `tol`, `delta`, `status` ('pass'/'fail'; null for a
    * non-comparable record), `basis_note` (the regulatory reason on
    * non-comparable rows). The CRM conservation tie's tolerance scales
    * with the book (one cent per exposure — the waterfall legs are
    * cent-rounded per exposure). */
  def fromLedger(led: DataFrame, summary: DataFrame): DataFrame = {
    val s = led.sparkSession
    import s.implicits._

    // Three independent reshapes of the same sealed ledger. The ties
    // consume the sheet and the summary several times each (totals +
    // per-class joins), and unpersisted every consumer re-runs its
    // aggregation over the full ledger (measured ~8 ledger scans → 4 at
    // sf0.1). The sheet is persisted here as a query frame
    // (graft.SessionScope); `summary` is the caller's, persisted by its
    // owner (q115 passes the ledger memo's summary). A few dozen rows each.
    val sheet = led.groupBy(col("exposure_class")).agg(
      dsum(col("ead_pre_crm"), 2).as("sheet_ead"),
      dsum(col("rwa"), 2).as("sheet_rwa")).transform(graft.SessionScope.persist)
    val ov1 = led.groupBy(col("approach")).agg(
      dsum(col("rwa"), 2).as("ov1_rwa"))

    val sheetTot = sheet.agg(
      dsum(col("sheet_ead"), 2).as("sheet_ead_total"),
      dsum(col("sheet_rwa"), 2).as("sheet_rwa_total"))
    val summTot = summary.agg(
      dsum(col("total_rwa"), 2).as("summ_rwa_total"),
      coalesce(dsum(when(col("approach") === "SA", col("total_rwa")), 2), lit(0.0))
        .as("summ_sa_rwa"),
      coalesce(dsum(when(col("approach") === "IRB", col("total_rwa")), 2), lit(0.0))
        .as("summ_irb_rwa"),
      (dsum(col("collateral_covered"), 2) + dsum(col("guarantee_covered"), 2) +
        dsum(col("unsecured_ead"), 2)).as("summ_crm_total"))
    val ov1Tot = ov1.agg(
      dsum(col("ov1_rwa"), 2).as("ov1_rwa_total"),
      coalesce(dsum(when(col("approach") === "SA", col("ov1_rwa")), 2), lit(0.0))
        .as("ov1_sa_rwa"),
      coalesce(dsum(when(col("approach") === "IRB", col("ov1_rwa")), 2), lit(0.0))
        .as("ov1_irb_rwa"))
    val nTot = led.agg(count(lit(1)).as("n_exposures"))

    val wide = sheetTot.crossJoin(summTot).crossJoin(ov1Tot).crossJoin(nTot)
    val scalarTies = wide.selectExpr(
      """stack(5,
        'rwea_total_sheet_vs_ov1', sheet_rwa_total, ov1_rwa_total, 0.01D,
        'rwea_total_summary_vs_ov1', summ_rwa_total, ov1_rwa_total, 0.01D,
        'rwea_sa_summary_vs_ov1', summ_sa_rwa, ov1_sa_rwa, 0.01D,
        'rwea_irb_summary_vs_ov1', summ_irb_rwa, ov1_irb_rwa, 0.01D,
        'crm_conservation_cross', summ_crm_total, sheet_ead_total,
          0.01D * CAST(n_exposures AS DOUBLE)
      ) AS (tie_id, lhs_total, rhs_total, tol)""")

    val summByClass = summary.groupBy(col("exposure_class")).agg(
      dsum(col("total_ead"), 2).as("cls_ead"))
    val classTies = sheet.join(summByClass, Seq("exposure_class"))
      .select(
        concat(lit("ead_class_"), col("exposure_class")).as("tie_id"),
        col("sheet_ead").as("lhs_total"),
        col("cls_ead").as("rhs_total"),
        lit(0.01).as("tol"))

    val comparables = scalarTies.unionByName(classTies)
      .withColumn("comparable", lit(true))
      .withColumn("delta", col("lhs_total") - col("rhs_total"))
      .withColumn("status",
        when(abs(col("delta")) <= col("tol"), "pass").otherwise("fail"))
      .withColumn("basis_note", lit(null).cast("string"))

    val nc = nonComparable.toDF("tie_id", "basis_note")
      .withColumn("comparable", lit(false))
      .withColumn("lhs_total", lit(null).cast("double"))
      .withColumn("rhs_total", lit(null).cast("double"))
      .withColumn("tol", lit(null).cast("double"))
      .withColumn("delta", lit(null).cast("double"))
      .withColumn("status", lit(null).cast("string"))

    comparables.unionByName(nc)
      .select(col("tie_id"), col("comparable"), col("lhs_total"),
        col("rhs_total"), col("tol"), col("delta"), col("status"),
        col("basis_note"))
      .orderBy(col("tie_id"))
  }
}
