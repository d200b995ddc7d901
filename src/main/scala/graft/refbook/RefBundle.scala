package graft.refbook

import java.time.LocalDate

import org.apache.spark.sql.DataFrame

/** The reference-schema input bundle (reference `contracts/bundles.py`
  * `RawDataBundle`, input schemas `data/schemas.py`): one `DataFrame` per
  * input table, in the reference's OWN published input vocabulary, so a
  * user of the reference can hand this engine the same books it loads
  * today. Every table except the three core ones is optional — an absent
  * book is an absent assertion, and the pipeline degrades exactly as the
  * reference's loader does (missing optional columns take schema
  * defaults; Boolean-only null fill).
  *
  * Expected columns (the subset this pipeline reads):
  *  - counterparties: counterparty_reference, entity_type, country_code,
  *    annual_revenue, is_sme?, default_status?
  *  - loans: loan_reference, counterparty_reference, product_type,
  *    drawn_amount, currency, value_date, maturity_date, seniority
  *  - ratings: rating_reference, counterparty_reference, rating_type
  *    ("external" | "internal"), rating_agency, cqs, pd?, rating_date
  *  - facilities: facility_reference, counterparty_reference,
  *    undrawn_amount, product_type, currency, maturity_date
  *  - contingents: contingent_reference, counterparty_reference,
  *    nominal_amount, product_type, currency, maturity_date
  */
final case class RefBundle(
    counterparties: DataFrame,
    loans: DataFrame,
    ratings: DataFrame,
    facilities: Option[DataFrame] = None,
    contingents: Option[DataFrame] = None,
    facilityMappings: Option[DataFrame] = None,
    collateral: Option[DataFrame] = None,
    guarantees: Option[DataFrame] = None,
    provisions: Option[DataFrame] = None,
    modelPermissions: Option[DataFrame] = None,
    specialisedLending: Option[DataFrame] = None,
    equityExposures: Option[DataFrame] = None,
    trades: Option[DataFrame] = None,
    nettingSets: Option[DataFrame] = None,
    marginAgreements: Option[DataFrame] = None,
    ccrCollateral: Option[DataFrame] = None)

/** Run configuration (reference `contracts/config.py`
  * `CalculationConfig.crr` / `.basel_3_1`). */
final case class RefRunConfig(
    framework: String, // "CRR" | "BASEL_3_1"
    reportingDate: LocalDate,
    permissionMode: String = "standardised") { // "standardised" | "irb"
  require(framework == "CRR" || framework == "BASEL_3_1")
  def isB31: Boolean = framework == "BASEL_3_1"

  /** PS1/26 Art. 92(5) transitional output-floor percentage at the
    * reporting date (reference `rulebook/packs/b31.py` `output_floor_pct`
    * Schedule: 60% from 2027, 65% 2028, 70% 2029, 72.5% from 2030). */
  def outputFloorPct: Double =
    if (!isB31) 0.0
    else if (reportingDate.isBefore(LocalDate.of(2027, 1, 1))) 0.0
    else if (reportingDate.isBefore(LocalDate.of(2028, 1, 1))) 0.60
    else if (reportingDate.isBefore(LocalDate.of(2029, 1, 1))) 0.65
    else if (reportingDate.isBefore(LocalDate.of(2030, 1, 1))) 0.70
    else 0.725
}
