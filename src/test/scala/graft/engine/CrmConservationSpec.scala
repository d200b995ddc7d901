package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed

/** Property-based conservation for the composed CRM waterfall (reference
  * `tests/properties/test_conservation.py`; kernel
  * `engine/kernels/allocation.py`): on RANDOM books — not just the
  * harness fixtures — the waterfall must never allocate more than EAD,
  * never allocate a negative amount, and covered + uncovered must
  * reconstitute EAD to within the per-item cent-rounding bound.
  *
  * Each trial generates a whole random book (exposures + collateral +
  * guarantees) and runs ONE Spark job over it; three seeded trials keep
  * the suite fast while varying the book shape (tiny EADs, zero-value
  * collateral, over-collateralised exposures all occur).
  */
case class CrmExpo(exposure_reference: String, fx_rate: Double,
  ead_pre_crm: Double, own_rw: Double)
case class CrmColl(collateral_reference: String,
  exposure_reference: String, collateral_type: String, market_value: Double)
case class CrmGuar(guarantee_reference: String,
  exposure_reference: String, guarantor_cqs: Int, coverage_pct: Double)

class CrmConservationSpec extends SparkSpec {
  import spark.implicits._

  private type Expo = CrmExpo
  private type Coll = CrmColl
  private type Guar = CrmGuar
  private val Expo = CrmExpo
  private val Coll = CrmColl
  private val Guar = CrmGuar

  private val collTypes =
    DomainPipeline.haircutTable.map(_._1) :+ "unmapped_type"

  private def bookGen(n: Int): Gen[(Seq[Expo], Seq[Coll], Seq[Guar])] = for {
    eads <- Gen.listOfN(n, Gen.choose(0.0, 500000.0))
    nColl <- Gen.listOfN(n, Gen.choose(0, 4))
    collVals <- Gen.listOfN(n * 4, Gen.choose(0.0, 400000.0))
    collTypeIdx <- Gen.listOfN(n * 4, Gen.choose(0, collTypes.size - 1))
    hasGuar <- Gen.listOfN(n, Gen.prob(0.6))
    covs <- Gen.listOfN(n, Gen.oneOf(0.25, 0.5, 0.75, 1.0))
    cqss <- Gen.listOfN(n, Gen.choose(1, 6))
  } yield {
    val expos = eads.zipWithIndex.map { case (e, i) =>
      Expo(s"E-$i", 1.0, math.floor(e * 100) / 100, 1.0)
    }
    val colls = (0 until n).flatMap { i =>
      (0 until nColl(i)).map { j =>
        Coll(s"C-$i-$j", s"E-$i", collTypes(collTypeIdx(i * 4 + j)),
          math.floor(collVals(i * 4 + j) * 100) / 100)
      }
    }
    val guars = (0 until n).collect {
      case i if hasGuar(i) => Guar(s"G-$i", s"E-$i", cqss(i), covs(i))
    }
    (expos, colls, guars)
  }

  test("waterfall conserves EAD and never over/under-allocates (random books)") {
    val seeds = Seq(1L, 42L, 20260812L)
    seeds.foreach { seed =>
      val (expos, colls, guars) = bookGen(200)
        .apply(Gen.Parameters.default, Seed(seed)).get
      val expoDf = expos.toDF()
      val ledger = DomainPipeline.crmWaterfall(expoDf, colls.toDF(), guars.toDF())
      val rows = ledger.select(
        col("exposure_reference"), col("ead_pre_crm"),
        col("coll_covered"), col("guar_covered"), col("unsecured"))
        .collect()
      assert(rows.length == expos.length, "ledger must stay at exposure grain")
      rows.foreach { r =>
        val (ead, cc, gc, un) =
          (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
        assert(cc >= 0 && gc >= 0 && un >= 0,
          s"negative allocation at ${r.getString(0)}: $cc / $gc / $un [seed $seed]")
        // post-CRM covered total never exceeds EAD (cap), modulo the
        // half-cent-per-item rounding of each allocated leg (<= 5 items)
        assert(cc + gc <= ead + 0.05,
          s"over-allocation at ${r.getString(0)}: $cc + $gc > $ead [seed $seed]")
        // covered + uncovered reconstitutes EAD
        assert(math.abs(cc + gc + un - ead) <= 0.05,
          s"conservation broken at ${r.getString(0)}: " +
            s"$cc + $gc + $un != $ead [seed $seed]")
      }
    }
  }

  test("the waterfall persists nothing: its composer owns the persist") {
    val (expos, colls, guars) = bookGen(20)
      .apply(Gen.Parameters.default, Seed(7L)).get
    val before = spark.sparkContext.getPersistentRDDs.size
    val rows = DomainPipeline.crmWaterfall(expos.toDF(), colls.toDF(), guars.toDF())
      .collect()
    assert(rows.length == expos.length)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("collateral priority: guarantees only absorb what collateral left") {
    // one exposure, collateral worth exactly EAD after haircut, plus a
    // full-coverage guarantee: the guarantee must get nothing.
    val expo = Seq(Expo("E-0", 1.0, 1000.00, 1.0)).toDF()
    val coll = Seq(Coll("C-0", "E-0", "financial", 1000.00 / 0.85)).toDF()
    val guar = Seq(Guar("G-0", "E-0", 1, 1.0)).toDF()
    val r = DomainPipeline.crmWaterfall(expo, coll, guar)
      .select("coll_covered", "guar_covered", "unsecured").head()
    assert(math.abs(r.getDouble(0) - 1000.00) <= 0.02, s"collateral first: $r")
    assert(r.getDouble(1) <= 0.02, s"guarantee should be crowded out: $r")
    assert(r.getDouble(2) <= 0.02, s"nothing unsecured: $r")
  }
}
