package graft.reporting

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import graft.SparkSpec
import graft.engine.DomainPipeline
import graft.queries.{Domain, Pillar3}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The two-level conditional sums of [[TemplateGenerator.wideRow]] and of
  * the q161 CR5 sheet equal the one-level `sum(when(predicate, measure))`
  * they replace, cell by cell, compared as decimals. */
class TemplateGeneratorSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The one-level form: every cell sums every ledger row, in DECIMAL. */
  private def oneLevel(ledger: DataFrame, cells: Seq[CellSpec]): Row = {
    val aggs = cells.map(c =>
      sum(when(c.predicate, c.measure).otherwise(lit(0.0))
        .cast(DecimalType(38, c.scale))).as(c.cellId))
    ledger.agg(aggs.head, aggs.tail: _*).head()
  }

  /** wideRow's double cells, read back at each cell's scale, against the
    * one-level decimals; nulls must match too. */
  private def assertExact(ledger: DataFrame, cells: Seq[CellSpec]): Unit = {
    val wide = TemplateGenerator.wideRow(ledger, cells)
    assert(wide.columns.toSeq == cells.map(_.cellId))
    assert(wide.schema.fields.forall(f => f.dataType == DoubleType && f.nullable))
    val got = wide.head()
    val want = oneLevel(ledger, cells)
    cells.zipWithIndex.foreach { case (c, i) =>
      val g = Option(got.get(i)).map(d =>
        new JBigDecimal(d.asInstanceOf[Double]).setScale(c.scale, RoundingMode.HALF_UP))
      val w = Option(want.getDecimal(i))
      assert(g.map(_.stripTrailingZeros) == w.map(_.stripTrailingZeros),
        s"${c.cellId}: two-level $g, one-level $w")
    }
  }

  test("wideRow equals the one-level sums on the sf0.001 ledger (C 07 cells)") {
    val ledger = DomainPipeline.ledger(spark, sfDir)
    val cells = Domain.c07Cells
    assert(cells.size == 82)
    assertExact(ledger, cells)
  }

  /** A hand-built frame with null keys and measures and a -0.0 key. */
  private def handBuilt: DataFrame = {
    val schema = StructType(Seq(
      StructField("cls", StringType), StructField("rw", DoubleType),
      StructField("m", DoubleType), StructField("n", LongType)))
    val rows = Seq(
      Row("a", 0.2, 10.005, 3L), Row("a", 0.2, 1.115, null),
      Row("a", 1.0, null, 7L), Row("b", -0.0, 2.5, 1L),
      Row("b", 0.0, 4.25, 2L), Row(null, 0.5, 100.0, 4L),
      Row(null, null, 0.125, 5L), Row("c", 1.0, null, null),
      Row("b", null, -3.335, 6L))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  test("wideRow equals the one-level sums on null keys and measures, " +
      "never-true and two-column predicates, and no rows") {
    val frame = handBuilt
    val cells = Seq(
      CellSpec("a_m", col("cls") === "a", col("m")),
      CellSpec("a_m4", col("cls") === "a", col("m"), 4),
      CellSpec("null_cls", col("cls").isNull, col("m")),
      CellSpec("never", col("cls") === "zzz", col("m")),
      CellSpec("two_cols", col("cls") === "b" && col("rw") === 0.0, col("m")),
      CellSpec("rw_band", abs(col("rw") - 1.0) < 0.005, col("m")),
      CellSpec("c_only_nulls", col("cls") === "c", col("m")),
      CellSpec("long_measure", col("rw") > 0.1, col("n")),
      CellSpec("expr_measure", col("cls") =!= "a", col("m") * 2 + col("n")),
      CellSpec("measure_key", col("m").isNull, col("n")),
      CellSpec("everything", lit(true), col("m")))
    assertExact(frame, cells)
    assertExact(frame.filter(col("cls") === "c"), cells)
    assertExact(frame.filter(col("n") > 100L), cells)
    // predicates that read no column keep the one-level form
    val constant = Seq(CellSpec("all", lit(true), col("m")),
      CellSpec("none", lit(false), col("m")))
    assertExact(frame, constant)
    assertExact(frame.filter(col("n") > 100L), constant)
  }

  test("wideRow groups only where a shared measure saves per-row sums") {
    val frame = handBuilt
    def aggregates(df: DataFrame, cells: Seq[CellSpec]): Int =
      TemplateGenerator.wideRow(df, cells).queryExecution.optimizedPlan
        .collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
        .size
    assert(aggregates(frame, Seq(CellSpec("a", col("cls") === "a", col("m")),
      CellSpec("b", col("cls") === "b", col("m")))) == 2)
    // a constant key saves nothing: q121's C 08 cells all read no column
    assert(aggregates(frame, Seq(CellSpec("all", lit(true), col("m")),
      CellSpec("none", lit(false), col("m")))) == 1)
    val c08 = graft.queries.Corep08.c08Prepare(DomainPipeline.ledger(spark, sfDir))
    assert(aggregates(c08, graft.queries.Corep08.c08Cells) == 1)
    // no shared measure: grouping would only add a level
    assert(aggregates(frame, Seq(CellSpec("a", col("cls") === "a", col("m")),
      CellSpec("b", col("cls") === "b", col("n")))) == 1)
    // a nondeterministic predicate fails analysis in both forms
    val nondet = Seq(CellSpec("r", rand(7) < 2.0 && col("cls") === "a", col("m")),
      CellSpec("b", col("cls") === "b", col("m")))
    intercept[org.apache.spark.sql.AnalysisException](oneLevel(frame, nondet))
    intercept[org.apache.spark.sql.AnalysisException](
      TemplateGenerator.wideRow(frame, nondet))
  }

  test("q161's grouped band sums equal the ungrouped ones") {
    import graft.queries.Q.dsum
    val led = graft.operators.SaScope.saCreditRiskPopulation(
      DomainPipeline.ledger(spark, sfDir).filter(col("approach") === "SA"))
    val bands = Pillar3.cr5Bands.map { case (name, w) =>
      dsum(when(abs(col("leg_rw") - w) < 0.005, col("ev")).otherwise(0.0), 2)
        .as(name)
    }
    val ungrouped = Pillar3.cr5Legs(led).rollup(col("row_class"))
      .agg(bands.head, (bands.tail :+ dsum(col("ev"), 2).as("total_ev") :+
        dsum(when(col("own_cqs").isNull, col("ev")).otherwise(0.0), 2)
          .as("unrated_ev")): _*)
      .select((coalesce(col("row_class"), lit("total")).as("row_id") +:
        (Pillar3.cr5Bands.map(b => col(b._1)) :+ col("total_ev") :+
          col("unrated_ev"))): _*)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val sheet = Pillar3.q161Pillar3Cr5.build(spark, sfDir)
    val grouped = sheet.drop("other_deducted").collect()
      .map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(grouped.keySet == ungrouped.keySet && grouped.size > 1)
    assert(grouped.values.exists(_.exists(v => v != null && v != 0.0)))
    grouped.foreach { case (row, vs) =>
      assert(vs == ungrouped(row), s"row $row: grouped $vs, ungrouped ${ungrouped(row)}")
    }
  }
}
