package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Q._

/** Other-funded-credit-protection calculators (CRR Art. 200/232/233) —
  * the last two CRM treatments the census (q112) routed but did not
  * compute, re-expressed Spark-first.
  *
  * Life insurance (reference `engine/crm/life_insurance.py`): a pledged
  * life policy's surrender value (`market_value` by convention) secures
  * the covered portion at an Art. 232(3) MAPPED risk weight (not direct
  * substitution), with the Art. 233(3) 8% FX volatility reduction applied
  * PER POLICY (cut-then-sum) on a currency mismatch, and pledges resolved
  * at exposure, facility or counterparty level (pro-rata by EAD,
  * Art. 230-231 pooling; reference `life_insurance.py:204-229`, pro-rata
  * window at `:246-247`). EAD is NOT reduced — the SA calculator blends
  * risk weights (reference `engine/sa/rw_adjustments.py:126-156`).
  *
  * Third-party deposits (reference `engine/crm/third_party_deposit.py`):
  * cash on deposit at ANOTHER institution is treated as a guarantee by
  * the holder (Art. 232(2)) — the covered part takes the holder's own SA
  * risk weight, benefit-only (never increases RWA) — and is partitioned
  * OUT of the ordinary collateral channel so it reaches no own-bank-cash
  * value channel. Under F-IRB the substitution is deferred: no benefit
  * (conservative), censused as CRM017.
  *
  * Scale shape: the collateral side is aggregated to per-beneficiary
  * grain BEFORE touching the exposure frame (the deep exposure plan stays
  * single-referenced); pro-rata weights come from an unordered window
  * whose null keys are re-partitioned by the exposure itself (no null-key
  * skew partition); every join key is the beneficiary reference — the
  * exposure frame is never shuffled more than once per pledge level.
  */
object OtherFundedProtection {

  /** Art. 232(3) insurer-RW → secured-portion-RW bands (upper-bound
    * inclusive; open-ended catch-all last). Reference
    * `life_insurance.py:58-89` + rulepack `life_insurance_secured_rw_map`:
    * 20%→20%, 30/50%→35%, 65-135%→70%, 150%→150%. */
  val securedRwBands: Seq[(Option[Double], Double)] = Seq(
    (Some(0.20), 0.20), (Some(0.50), 0.35), (Some(1.35), 0.70), (None, 1.50))

  /** Art. 233(3) FX volatility haircut on a currency mismatch — written as
    * the literal pair (keep, cut) so the Spark plan and the DuckDB oracle
    * parse the SAME decimal literals (a Scala-side `1.0 - 0.08` constant
    * could differ from the parsed `0.92` by one ulp). */
  val fxCut: Double = 0.08
  val fxKeep: Double = 0.92

  /** Map an insurer risk weight to the Art. 232(3) secured-portion RW.
    * A null insurer RW defaults to 100% (conservative) → 70% band. */
  def mapInsurerRw(insurerRw: Column): Column = {
    val rw = coalesce(insurerRw, lit(1.0))
    val catchAll = securedRwBands.collectFirst { case (None, v) => v }.get
    securedRwBands.foldLeft(Option.empty[Column]) {
      case (acc, (None, _)) => acc
      case (None, (Some(bound), v)) => Some(when(rw <= bound, v))
      case (Some(acc), (Some(bound), v)) => Some(acc.when(rw <= bound, v))
    }.get.otherwise(lit(catchAll))
  }

  /** SQL-side twin of [[mapInsurerRw]] for the DuckDB oracle. */
  def sqlMapInsurerRw(expr: String): String = {
    val catchAll = securedRwBands.collectFirst { case (None, v) => v }.get
    val whens = securedRwBands.collect { case (Some(bound), v) =>
      s"WHEN coalesce($expr, 1.0) <= $bound THEN $v" }.mkString(" ")
    s"CASE $whens ELSE $catchAll END"
  }

  private case class Level(key: String, weight: Column, suffix: String)

  /** Compute `life_ins_collateral_value` / `life_ins_secured_rw` on the
    * exposure frame (reference `life_insurance.py:94-234`).
    *
    * Exposures: `exposure_reference`, `ead`, `currency` (+ optional
    * `original_currency`, `parent_facility_reference`,
    * `counterparty_reference`). Collateral: `beneficiary_reference`,
    * `collateral_type`, `market_value` (+ optional `insurer_risk_weight`,
    * `currency`/`original_currency`). Reference namespaces are disjoint
    * (repo convention), so a beneficiary key resolves at exactly one
    * pledge level.
    *
    * The Art. 233(3) cut is cut-then-sum per policy: with the matched-
    * currency split joined on (key, exposure currency),
    * `effective = weight × (0.92·total + 0.08·matched)` leaves matched
    * policies whole and cuts the mismatched remainder — order-independent
    * on a mixed-currency pool (reference `life_insurance.py:268-278`).
    * A null policy currency never satisfies the compound join, so it
    * falls into the cut remainder (conservative); when the collateral
    * carries no currency column at all the FX dimension is absent and no
    * reduction applies. */
  def lifeInsuranceColumns(exposures: DataFrame, collateral: DataFrame): DataFrame = {
    val expCols = exposures.columns.toSet
    val collCols = collateral.columns.toSet
    if (!collCols.contains("collateral_type"))
      return exposures
        .withColumn("life_ins_collateral_value", lit(0.0))
        .withColumn("life_ins_secured_rw", lit(0.0))

    val insurerRw =
      if (collCols.contains("insurer_risk_weight")) col("insurer_risk_weight")
      else lit(null).cast("double")
    val li = collateral
      .filter(lower(col("collateral_type")) === "life_insurance")
      .withColumn("_li_rw", mapInsurerRw(insurerRw))

    // The policy's own denomination: original_currency (pre-FX) wins.
    val polCcyCol: Option[Column] =
      if (collCols.contains("original_currency")) Some(col("original_currency"))
      else if (collCols.contains("currency")) Some(col("currency"))
      else None

    // Per-beneficiary aggregates — collateral-side only, so the deep
    // exposure plan stays single-referenced (reference rule at
    // `life_insurance.py:171-178`). Sums are decimal-exact (Q.dsum).
    // Each aggregate is consumed once PER PLEDGE LEVEL (up to 3×), and
    // Catalyst does not CSE across join branches — persist them so the
    // collateral book is scanned once, not once per level, and AQE sees
    // the exact (beneficiary-grain) size when choosing broadcast.
    val liTotal = li.groupBy(col("beneficiary_reference")).agg(
      dsum(col("market_value"), 2).as("_li_v"),
      dsum(col("market_value") * col("_li_rw"), 4).as("_li_vrw"))
      .transform(graft.SessionScope.persist)
    val liMatched = polCcyCol.map { c =>
      li.groupBy(col("beneficiary_reference"), c.as("_li_ccy")).agg(
        dsum(col("market_value"), 2).as("_li_mv"),
        dsum(col("market_value") * col("_li_rw"), 4).as("_li_mvrw"))
        .transform(graft.SessionScope.persist)
    }

    val ead0 = coalesce(col("ead"), lit(0.0))
    val expCcy =
      if (expCols.contains("original_currency"))
        coalesce(col("original_currency"), col("currency"))
      else col("currency")

    /* EAD-share weight within a pledge key. Null keys never match a
     * beneficiary, so their weight is pinned to 0 — and they are
     * partitioned by the exposure itself so a mostly-null key column
     * cannot pool into one skewed shuffle partition. */
    def proRata(key: String): Column = {
      val w = Window.partitionBy(coalesce(col(key), col("exposure_reference")))
      val tot = dsumOver(ead0, 2, w)
      when(col(key).isNull, lit(0.0))
        .otherwise(when(tot > lit(0.0), ead0 / tot).otherwise(lit(0.0)))
    }

    val levels = Seq(
      Some(Level("exposure_reference", lit(1.0), "d")),
      if (expCols.contains("parent_facility_reference"))
        Some(Level("parent_facility_reference", proRata("parent_facility_reference"), "f"))
      else None,
      if (expCols.contains("counterparty_reference"))
        Some(Level("counterparty_reference", proRata("counterparty_reference"), "c"))
      else None).flatten

    // Materialise weights and the exposure denomination before the joins.
    var out = exposures.withColumn("_exp_ccy", expCcy)
    for (lvl <- levels) out = out.withColumn(s"_w_${lvl.suffix}", lvl.weight)

    var valueTerms = List.empty[Column]
    var vrwTerms = List.empty[Column]
    var scratch = List("_exp_ccy")
    for (lvl <- levels) {
      val sfx = lvl.suffix
      val tot = liTotal.select(
        col("beneficiary_reference").as(s"_b_$sfx"),
        col("_li_v").as(s"_tv_$sfx"), col("_li_vrw").as(s"_tvrw_$sfx"))
      out = out.join(tot, col(lvl.key) === col(s"_b_$sfx"), "left").drop(s"_b_$sfx")
      val (ev, evrw, extra) = liMatched match {
        case Some(m) =>
          val mm = m.select(
            col("beneficiary_reference").as(s"_mb_$sfx"), col("_li_ccy").as(s"_mc_$sfx"),
            col("_li_mv").as(s"_mv_$sfx"), col("_li_mvrw").as(s"_mvrw_$sfx"))
          out = out.join(mm,
            col(lvl.key) === col(s"_mb_$sfx") && col("_exp_ccy") === col(s"_mc_$sfx"),
            "left").drop(s"_mb_$sfx", s"_mc_$sfx")
          (col(s"_w_$sfx") * (lit(fxKeep) * col(s"_tv_$sfx") +
             lit(fxCut) * coalesce(col(s"_mv_$sfx"), lit(0.0))),
           col(s"_w_$sfx") * (lit(fxKeep) * col(s"_tvrw_$sfx") +
             lit(fxCut) * coalesce(col(s"_mvrw_$sfx"), lit(0.0))),
           Seq(s"_mv_$sfx", s"_mvrw_$sfx"))
        case None =>
          (col(s"_w_$sfx") * col(s"_tv_$sfx"),
           col(s"_w_$sfx") * col(s"_tvrw_$sfx"), Nil)
      }
      out = out
        .withColumn(s"_ev_$sfx", ev)
        .withColumn(s"_evrw_$sfx", evrw)
      valueTerms = valueTerms :+ col(s"_ev_$sfx")
      vrwTerms = vrwTerms :+ col(s"_evrw_$sfx")
      scratch = scratch ++ Seq(s"_w_$sfx", s"_tv_$sfx", s"_tvrw_$sfx",
        s"_ev_$sfx", s"_evrw_$sfx") ++ extra
    }

    // Total allocated value + value-weighted mapped RW (null level terms
    // skip cleanly), value capped at EAD; the weighted average keeps the
    // UNCAPPED denominator (reference `life_insurance.py:225-229`).
    val totalValue = valueTerms.map(c => coalesce(c, lit(0.0))).reduceLeft(_ + _)
    val totalVrw = vrwTerms.map(c => coalesce(c, lit(0.0))).reduceLeft(_ + _)
    out
      .withColumn("life_ins_collateral_value", least(totalValue, ead0))
      .withColumn("life_ins_secured_rw",
        when(totalValue > lit(0.0), totalVrw / totalValue).otherwise(lit(0.0)))
      .drop(scratch: _*)
  }

  /** Holder-institution deposit types + eligible deposit collateral types
    * (reference `data/schemas.py:2062-2068`). */
  val depositTypes: Seq[String] = Seq("cash", "deposit")
  val institutionHolderTypes: Seq[String] = Seq("institution", "bank", "credit_institution")

  /** Partition third-party deposits OUT of the ordinary collateral frame
    * (reference `third_party_deposit.py:63-79`): a cash/deposit row whose
    * `held_by_counterparty_reference` is non-null is other funded
    * protection (guarantee-like), NOT own-bank cash — it must reach no
    * cash-collateral value channel. Returns (ordinary, thirdParty). */
  def splitThirdPartyDeposits(collateral: DataFrame): (DataFrame, Option[DataFrame]) = {
    val cols = collateral.columns.toSet
    if (!cols.contains("held_by_counterparty_reference") || !cols.contains("collateral_type"))
      return (collateral, None)
    val isTpd = lower(col("collateral_type")).isin(depositTypes: _*) &&
      col("held_by_counterparty_reference").isNotNull
    (collateral.filter(!isTpd), Some(collateral.filter(isTpd)))
  }

  /** Compute `third_party_deposit_value` / `third_party_deposit_secured_rw`
    * + the CRM017 census flags on the exposure frame (reference
    * `third_party_deposit.py:83-154`).
    *
    * Only an INSTITUTION-held deposit drives the Art. 232(2) substitution;
    * `holderRw` maps the deposit's `issuer_cqs` (the issuer IS the holder)
    * to the holder institution's SA risk weight. A non-institution holder
    * is out of scope (no benefit, censused); under F-IRB (`approach` in
    * FIRB/AIRB) the substitution is deferred — value pinned to 0. */
  def thirdPartyDepositColumns(
      exposures: DataFrame, thirdPartyDeposits: Option[DataFrame],
      holderRw: Column => Column): DataFrame = {
    thirdPartyDeposits match {
      case None =>
        exposures
          .withColumn("third_party_deposit_value", lit(0.0))
          .withColumn("third_party_deposit_secured_rw", lit(0.0))
          .withColumn("tpd_firb_deferred", lit(false))
          .withColumn("tpd_non_institution_holder", lit(false))
      case Some(tpd0) =>
        val isInst = lower(col("issuer_type")).isin(institutionHolderTypes: _*)
        val tpd = tpd0
          .withColumn("_tpd_is_inst", isInst)
          .withColumn("_tpd_item_rw", holderRw(col("issuer_cqs")))
        val agg = tpd.groupBy(col("beneficiary_reference").as("_tpd_b")).agg(
          dsum(when(col("_tpd_is_inst"), col("market_value")), 2).as("_tpd_v"),
          dsum(when(col("_tpd_is_inst"), col("market_value") * col("_tpd_item_rw")), 4)
            .as("_tpd_vrw"),
          count(when(!col("_tpd_is_inst"), lit(1))).as("_tpd_n_non_inst"))
        val ead0 = coalesce(col("ead"), lit(0.0))
        val instV = coalesce(col("_tpd_v"), lit(0.0))
        val wrw = coalesce(col("_tpd_vrw"), lit(0.0))
        val isFirb = col("approach").isin("FIRB", "AIRB")
        exposures
          .join(agg, col("exposure_reference") === col("_tpd_b"), "left")
          .withColumn("third_party_deposit_value",
            when(isFirb, lit(0.0)).otherwise(least(instV, ead0)))
          .withColumn("third_party_deposit_secured_rw",
            when(instV > lit(0.0), wrw / instV).otherwise(lit(0.0)))
          .withColumn("tpd_firb_deferred", isFirb && instV > lit(0.0))
          .withColumn("tpd_non_institution_holder",
            coalesce(col("_tpd_n_non_inst"), lit(0L)) > lit(0L))
          .drop("_tpd_b", "_tpd_v", "_tpd_vrw", "_tpd_n_non_inst")
    }
  }
}
