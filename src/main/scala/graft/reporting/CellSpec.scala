package graft.reporting

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Regulatory template generation (reference `reporting/cellspec.py`,
  * `reporting/corep/generator.py`, `reporting/pillar3`): a template is a
  * list of cells, each defined by a row predicate over the sealed ledger
  * plus a measure — the declarative reshape from the per-exposure frame to
  * fixed template rows.
  *
  * Evaluated as a two-level conditional sum ([[TemplateGenerator.wideRow]]):
  * the ledger is grouped by the columns the predicates read, each group
  * sums every distinct (measure, scale) once, and each cell then sums its
  * predicate's groups. A C 07 sheet is a few dozen groups and one
  * single-row aggregate regardless of ledger size, and the per-row work is
  * one decimal sum per measure, not one per cell. So predicates should
  * read low-cardinality columns: the groups number the distinct values of
  * the columns they read. Cells whose predicates read no column or share
  * no measure are one aggregation over the ledger,
  * `sum(when(predicate, measure))` per cell. Predicates must be
  * deterministic. Money cells accumulate in
  * DECIMAL(38, scale), so the template value is independent of
  * partition/addition order (the [[graft.queries.Q.dsum]] discipline).
  * Lineage (reference `reporting/lineage.py`: cell drill-down re-runs the
  * predicate) falls out of `drilldown`.
  */
final case class CellSpec(
    cellId: String, predicate: Column, measure: Column, scale: Int = 2)

object TemplateGenerator {

  /** All cells → ONE wide row (cellId columns): each cell is
    * `sum(when(predicate, measure))` accumulated in DECIMAL(38, scale).
    *
    * Two levels where they save per-row work: the ledger is grouped by the
    * columns the predicates read, and each group sums each distinct
    * (measure, scale) once; every cell then sums the group totals its
    * predicate selects. This equals the one-level sum exactly: decimal
    * addition is associative, and a deterministic predicate is constant
    * within a group (grouping merges -0.0 with 0.0 and all NaNs, which SQL
    * comparisons do not tell apart). Null keys, null measures and an empty
    * ledger give the same nulls and zeros. The first level is one row per
    * distinct key, so its cost grows with the cardinality of the predicate
    * columns: predicates should read low-cardinality columns (class,
    * weight, approach), not near-unique ones such as an amount.
    *
    * One level — a single aggregation over the ledger — where grouping
    * saves nothing: predicates that read no column (a constant key), or
    * cells that share no measure. Predicates must be deterministic in
    * both forms: Spark rejects a nondeterministic expression inside an
    * aggregate function.
    *
    * The `otherwise` branch of the second level is a decimal zero: a double
    * one would widen the sum to double. Measures pass through double, as
    * the one-level form's double `otherwise(0.0)` branch typed them.
    */
  def wideRow(ledger: DataFrame, cells: Seq[CellSpec]): DataFrame = {
    require(cells.nonEmpty)
    val preds = ledger.select(cells.map(_.predicate): _*).queryExecution.analyzed
    val keys = preds.expressions.flatMap(_.references).distinct.map(GraftBridge.column)
    val measures = cells.map(c => (c.measure, c.scale)).distinct
    if (keys.isEmpty || measures.size == cells.size) {
      val aggs = cells.map(c =>
        sum(when(c.predicate, c.measure).otherwise(lit(0.0))
          .cast(DecimalType(38, c.scale))).cast("double").as(c.cellId))
      ledger.agg(aggs.head, aggs.tail: _*)
    } else {
      val sums = measures.zipWithIndex.map { case ((m, scale), i) =>
        sum(m.cast("double").cast(DecimalType(38, scale))).as(s"__m$i") }
      val grouped = ledger.groupBy(keys: _*).agg(sums.head, sums.tail: _*)
      val aggs = cells.map(c =>
        sum(when(c.predicate, col(s"__m${measures.indexOf((c.measure, c.scale))}"))
          .otherwise(lit(0).cast(DecimalType(38, c.scale))))
          .cast("double").as(c.cellId))
      grouped.agg(aggs.head, aggs.tail: _*)
    }
  }

  /** Unpivot a [[wideRow]] to the long (cell_id, value) template. */
  def stackCells(row: DataFrame, cells: Seq[CellSpec]): DataFrame = {
    val stackArgs = cells.map(c => s"'${c.cellId}', `${c.cellId}`").mkString(", ")
    row.select(expr(s"stack(${cells.size}, $stackArgs) AS (cell_id, value)"))
  }

  /** All cells in one pass → long-format (cell_id, value) frame. */
  def generate(ledger: DataFrame, cells: Seq[CellSpec]): DataFrame =
    stackCells(wideRow(ledger, cells), cells)

  /** Cell drill-down: the ledger rows behind one cell (lineage). */
  def drilldown(ledger: DataFrame, cell: CellSpec): DataFrame =
    ledger.filter(cell.predicate)
}

/** A published-style cross-cell validation rule: sum(LHS cells) must
  * equal sum(RHS cells) within tolerance (reference
  * `reporting/validations/rules.py` — additivity / subtotal identities
  * like v0305_m, evaluated over the generated estate by
  * `validations/evaluate.py`). */
final case class TemplateRule(
    ruleId: String, lhs: Seq[String], rhs: Seq[String],
    tolerance: Double = 0.01)

object TemplateValidator {

  /** Evaluate every rule against a long-format (cell_id, value) template.
    * One conditional-aggregation pass per template (not per rule): each
    * rule's LHS/RHS totals are decimal-exact sums over its cell ids.
    * Output: (rule_id, lhs_total, rhs_total, diff, status).
    */
  def evaluate(template: DataFrame, rules: Seq[TemplateRule]): DataFrame = {
    require(rules.nonEmpty)
    val aggs = rules.flatMap { r =>
      Seq(
        sum(when(col("cell_id").isin(r.lhs: _*), col("value")).otherwise(0.0)
          .cast(DecimalType(38, 2))).cast("double").as(s"${r.ruleId}__lhs"),
        sum(when(col("cell_id").isin(r.rhs: _*), col("value")).otherwise(0.0)
          .cast(DecimalType(38, 2))).cast("double").as(s"${r.ruleId}__rhs"))
    }
    val row = template.agg(aggs.head, aggs.tail: _*)
    val stackArgs = rules.map(r =>
      s"'${r.ruleId}', `${r.ruleId}__lhs`, `${r.ruleId}__rhs`").mkString(", ")
    val long = row.select(expr(
      s"stack(${rules.size}, $stackArgs) AS (rule_id, lhs_total, rhs_total)"))
    val tolChain = rules.foldLeft(Option.empty[Column]) {
      case (None, r) => Some(when(col("rule_id") === r.ruleId, r.tolerance))
      case (Some(acc), r) => Some(acc.when(col("rule_id") === r.ruleId, r.tolerance))
    }.get.otherwise(0.01)
    long
      .withColumn("diff", col("lhs_total") - col("rhs_total"))
      .withColumn("status",
        when(abs(col("diff")) <= tolChain, "pass").otherwise("fail"))
  }

  /** One-pass variant: evaluate the rules HORIZONTALLY on the wide 1-row
    * cell frame (`ledger.agg(cell1, …, cellN)`) instead of re-aggregating
    * the stacked template — the sheet and every validation then share a
    * single scan of the ledger (one aggregation total, not two). Value
    * semantics match [[evaluate]] exactly: each addend round-trips
    * through DECIMAL(38,2) so the horizontal sum is the same exact
    * decimal sum the vertical pass computes.
    */
  def evaluateWide(row: DataFrame, rules: Seq[TemplateRule]): DataFrame = {
    require(rules.nonEmpty)
    def dsumH(cellIds: Seq[String]): Column =
      cellIds.map(id => col(s"`$id`").cast(DecimalType(38, 2)))
        .reduce(_ + _).cast("double")
    val ruleCols = rules.flatMap { r =>
      Seq(dsumH(r.lhs).as(s"${r.ruleId}__lhs"),
          dsumH(r.rhs).as(s"${r.ruleId}__rhs"))
    }
    val wide = row.select(ruleCols: _*)
    val stackArgs = rules.map(r =>
      s"'${r.ruleId}', `${r.ruleId}__lhs`, `${r.ruleId}__rhs`").mkString(", ")
    val long = wide.select(expr(
      s"stack(${rules.size}, $stackArgs) AS (rule_id, lhs_total, rhs_total)"))
    val tolChain = rules.foldLeft(Option.empty[Column]) {
      case (None, r) => Some(when(col("rule_id") === r.ruleId, r.tolerance))
      case (Some(acc), r) => Some(acc.when(col("rule_id") === r.ruleId, r.tolerance))
    }.get.otherwise(0.01)
    long
      .withColumn("diff", col("lhs_total") - col("rhs_total"))
      .withColumn("status",
        when(abs(col("diff")) <= tolChain, "pass").otherwise("fail"))
  }
}
