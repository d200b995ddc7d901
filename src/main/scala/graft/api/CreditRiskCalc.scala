package graft.api

import java.nio.file.{Files, Paths}
import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Reconciliation
import graft.contracts.CalcError
import graft.engine.DomainPipeline
import graft.queries.Q.dsum
import graft.reporting.{CellSpec, TemplateGenerator, XlsxWriter}
import graft.sources.Sinks

/** Single programmatic entry point — the Spark-native analogue of the
  * reference's service facade (`api/service.py:38` `CreditRiskCalc`,
  * `.calculate()` `:110`, `.reconcile()` `:189`) plus the exporter surface
  * (`api/export.py`). Wraps the composed [[graft.engine.DomainPipeline]]
  * so a user of the reference can drive the same lifecycle — configure →
  * calculate → export / reconcile-against-legacy — from Scala.
  *
  * `calculate()` validates inputs and builds the memoised, persisted
  * ledger. That is not free: handing out the ledger's re-rooted leaf
  * compiles its plan, and adaptive execution runs the whole build there,
  * filling the ledger's cache — 11 Spark jobs on the harness books
  * (sf0.001, sf0.01), each a stage of the build. The summary stays lazy: it is persisted
  * but computed only when first read, then served from the cache — the
  * Spark-first replacement for the reference's results-cache +
  * `scan_results()` re-scan discipline (`api/service.py:145-187`,
  * `api/results_cache.py`). `framework` picks the regime the summary and
  * `totalRwa` report: CRR sums `rwa`, BASEL_3_1 sums `rwa_b31`.
  */
final case class CalcConfig(
    dataPath: String,
    framework: String = "CRR", // "CRR" | "BASEL_3_1"
    reportingDate: Date = Date.valueOf("2026-12-31"),
    permissionMode: String = "standardised", // "standardised" | "irb"
    auditCacheDir: Option[String] = None) {
  require(framework == "CRR" || framework == "BASEL_3_1",
    s"framework must be 'CRR' or 'BASEL_3_1', got '$framework'")
  require(permissionMode == "standardised" || permissionMode == "irb",
    s"permission_mode must be 'standardised' or 'irb', got '$permissionMode'")
}

/** calculate() outcome (reference `CalculationResponse`,
  * `api/models.py`): the per-exposure ledger + (class, approach) summary
  * as lazy frames, or the validation errors that stopped the run. */
final case class CalculationResult(
    success: Boolean,
    config: CalcConfig,
    ledger: Option[DataFrame],
    summary: Option[DataFrame],
    errors: Seq[CalcError]) {

  /** Portfolio total RWA — executes the plan (reference
    * `response.summary.total_rwa`). The per-class totals are exact cents,
    * so their decimal sum is the exact decimal sum of the ledger's RWA. */
  def totalRwa: Double = summary match {
    case Some(sm) =>
      val r = sm.agg(dsum(col("total_rwa"), 2)).first()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    case None => 0.0
  }
}

final case class ReconciliationResult(
    success: Boolean,
    recon: Option[DataFrame],
    summary: Option[DataFrame],
    worklist: Option[DataFrame],
    errors: Seq[CalcError])

final class CreditRiskCalc(spark: SparkSession, config: CalcConfig) {

  private val requiredTables =
    Seq("region", "nation", "customer", "orders", "lineitem")

  /** Validate inputs then compose the full pipeline plan (reference
    * `api/service.py:110-158`: DataPathValidator → pipeline → formatter). */
  def calculate(): CalculationResult = {
    val errs = validate()
    if (errs.nonEmpty)
      return CalculationResult(success = false, config, None, None, errs)
    val irb = config.permissionMode == "irb"
    val led = DomainPipeline.ledger(spark, config.dataPath, irb)
    val sm = DomainPipeline.summary(spark, config.dataPath, irb,
      b31 = config.framework == "BASEL_3_1")
    config.auditCacheDir.foreach { dir =>
      Sinks.writeAuditCache(Map("ledger" -> led, "summary" -> sm), dir)
    }
    CalculationResult(success = true, config, Some(led), Some(sm), Nil)
  }

  private def validate(): Seq[CalcError] = {
    val root = Paths.get(config.dataPath)
    if (!Files.isDirectory(root))
      return Seq(CalcError("DATA_PATH", s"not a directory: ${config.dataPath}"))
    requiredTables.flatMap { t =>
      val p = root.resolve(s"$t.parquet")
      if (Files.exists(p)) None
      else Some(CalcError("MISSING_TABLE", s"required table missing: $p"))
    }
  }

  /** Reconcile this calculator's results against a legacy calculator's
    * output per a TOML config path (reference `api/service.py:189-258`).
    * An already-completed `calculation` skips the embedded run. */
  def reconcile(
      settingsPath: String,
      calculation: Option[CalculationResult] = None): ReconciliationResult =
    reconcile(ReconConfig.load(settingsPath), calculation)

  def reconcile(
      settings: ReconSettings,
      calculation: Option[CalculationResult]): ReconciliationResult = {
    val calc = calculation.getOrElse(calculate())
    if (!calc.success)
      // surface the calculation's own errors rather than reconciling an
      // empty frame into all-missing_left rows (reference
      // `api/service.py:228-243` comment)
      return ReconciliationResult(success = false, None, None, None, calc.errors)
    if (!Files.exists(Paths.get(settings.legacyFile)))
      return ReconciliationResult(success = false, None, None, None,
        Seq(CalcError("LEGACY_FILE", s"not found: ${settings.legacyFile}")))

    val legacyRaw =
      if (settings.legacyFormat == "parquet")
        spark.read.parquet(settings.legacyFile)
      else spark.read.option("header", "true").option("inferSchema", "true")
        .csv(settings.legacyFile)
    val legacy = mapLegacy(legacyRaw, settings)

    val keys = settings.ourKeys
    val numerics = settings.components.collect {
      case (name, cm) if !ReconRegistry.isCategorical(name) =>
        cm.tolKind match {
          case Some("rel") => Reconciliation.NumericComponent(
            name, absTol = 0.0, relTol = cm.tol.getOrElse(0.0))
          case _ => Reconciliation.NumericComponent(
            name, absTol = cm.tol.getOrElse(ReconRegistry.defaultAbsTol(name)))
        }
    }
    val categoricals = settings.components.collect {
      case (name, cm) if ReconRegistry.isCategorical(name) =>
        Reconciliation.CategoricalComponent(name, cm.valueMap)
    }
    // collapse our sub-row grain (guarantee legs, RE splits) back to the
    // reconciliation key before comparing (reference `_collapse` pre-step)
    val ours = Reconciliation.collapseToKeyGrain(
      calc.ledger.get, keys,
      additive = numerics.map(n => n.name -> 2),
      categoricals = categoricals.map(_.name))
    val recon = Reconciliation.compareMulti(
      ours, legacy, keys, numerics, categoricals)
    val mat = numerics.headOption.map(n => s"abs_delta_${n.name}")
      .getOrElse(keys.head)
    ReconciliationResult(
      success = true,
      recon = Some(recon),
      summary = Some(Reconciliation.summary(recon, mat)),
      worklist = Some(Reconciliation.breakWorklist(
        recon, keys, mat, settings.topN)),
      errors = Nil)
  }

  /** Rename legacy key/component columns onto canonical names (matched
    * case-insensitively), apply per-component scale and cast (reference
    * `LegacyOutputLoader.load`, `api/reconciliation.py:125-172`). */
  private def mapLegacy(raw: DataFrame, settings: ReconSettings): DataFrame = {
    val norm = raw.columns.map(c => c.toLowerCase.trim -> c).toMap
    def actual(name: String): Option[String] = norm.get(name.toLowerCase.trim)
    val keyCols = settings.legacyKeys.zip(settings.ourKeys).flatMap {
      case (legacyK, ourK) => actual(legacyK).map(a => col(a).cast("string").as(ourK))
    }
    val compCols = settings.components.flatMap { case (name, cm) =>
      actual(cm.legacyColumn).map { a =>
        if (ReconRegistry.isCategorical(name)) col(a).cast("string").as(name)
        else (col(a).cast("double") * cm.scale).as(name)
      }
    }
    raw.select(keyCols ++ compCols: _*)
  }

  // ---- exports (reference `api/export.py`) -----------------------------

  def exportToParquet(df: DataFrame, path: String): Unit =
    Sinks.writeParquet(df, path)

  def exportToCsv(df: DataFrame, path: String): Unit =
    Sinks.writeCsv(df, path)

  def exportToExcel(df: DataFrame, path: String, sheet: String = "Results"): Unit =
    XlsxWriter.write(df, path, sheet)

  /** COREP-style template export: evaluate the cell specs over the ledger
    * and write the long-format sheet (reference `api/export.py:262`
    * `export_to_corep`). Cells that share a measure are summed per group
    * of the columns their predicates read ([[TemplateGenerator.wideRow]]),
    * so the predicates should read low-cardinality columns: one over a
    * near-unique column (an amount threshold) makes that grouping about
    * as large as the ledger. Predicates must be deterministic: Spark
    * rejects a nondeterministic one inside the cell's aggregate. */
  def exportToCorep(
      ledger: DataFrame, cells: Seq[CellSpec], path: String): Unit =
    XlsxWriter.write(
      TemplateGenerator.generate(ledger, cells).orderBy(col("cell_id")),
      path, "C0700")
}

/** Which reconciliation components are categorical vs numeric, and the
  * default absolute tolerance for money components (reference
  * `analysis/recon_registry.py` `RECONCILABLE_COMPONENTS_BY_NAME` — a
  * static registry keyed by canonical component name). */
object ReconRegistry {
  private val categorical = Set("exposure_class", "approach", "currency",
    "counterparty_sector", "rw_label")
  def isCategorical(name: String): Boolean = categorical(name)
  def defaultAbsTol(name: String): Double = 0.01 // one cent
}
