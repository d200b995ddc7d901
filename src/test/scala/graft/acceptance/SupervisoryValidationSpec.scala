package graft.acceptance

import graft.SparkSpec
import graft.refbook._
import graft.refbook.RefValidations._
import ReportingGoldens.{parseJson, J, JObj, JArr, JStr}

/** The supervisory-validation known-breaks replay (reference
  * `tests/acceptance/reporting/test_supervisory_validations.py`): every
  * currently-enforced published rule, run over every reporting portfolio
  * under both regimes, ratcheted against the reference's committed
  * liability register (`validation_known_breaks.json`, vendored
  * engine-independent curated data).
  *
  * The gate is a RATCHET over the register, applied to BOTH populations:
  *  (a) no broken rule outside the baseline      — the regression gate;
  *  (b) no baseline rule that no longer breaks   — a fix must shrink it;
  *  (c) no uncovered template outside the baseline;
  *  (d) no baseline template that is now covered.
  * Plus the attribution check the reference records as facts: each broken
  * rule is seen on exactly the register's portfolios.
  *
  * Every run is the sole reachability route for a rule family (off-bs →
  * the C 07.00 CCF columns, ccr → C 34.x, sa/irb-classes → the sheet
  * axes, crm-substitution → every rule over the outflow/inflow columns);
  * the six IRB runs carry a PRIOR-period frame so C 08.04's flow identity
  * (v09779_m, missing-as-zero) can evaluate at all.
  */
abstract class SupervisoryValidationSpec(regime: String) extends SparkSpec {

  private final case class Run(regime: String, framework: String,
      portfolio: String, bundle: org.apache.spark.sql.SparkSession => RefBundle,
      cfg: RefRunConfig, priorCfg: Option[RefRunConfig])

  private def crr(d: java.time.LocalDate, mode: String) =
    RefRunConfig("CRR", d, mode)
  private def b31(d: java.time.LocalDate, mode: String) =
    RefRunConfig("BASEL_3_1", d, mode)
  private val crrDate = java.time.LocalDate.of(2025, 12, 31)
  private val b31Date = java.time.LocalDate.of(2027, 6, 1)
  // a genuinely EARLIER date, so the opening balance is a real prior
  // figure with a non-zero residual (maturities differ)
  private val crrPrior = java.time.LocalDate.of(2025, 6, 30)
  private val b31Prior = java.time.LocalDate.of(2027, 1, 1)

  /** The twelve runs — the reference's RUNS tuple. The suite is SPLIT by
    * regime into two concrete classes (CRR / B31) so the two halves can
    * run in different forked test-group JVMs: the register keys every
    * entry by regime, so the ratchet partitions exactly — each class
    * replays its six runs against its regime's register slice and the
    * union of the two classes' assertions equals the original
    * twelve-run gate (r20: this suite alone was the 19-minute wall of
    * the whole test estate). */
  private val allRuns: Seq[Run] = Seq(
    Run("crr", "CRR", "rich", ReportingScenarios.richBundle,
      crr(crrDate, "irb"), Some(crr(crrPrior, "irb"))),
    Run("b31", "BASEL_3_1", "rich", ReportingScenarios.richBundle,
      b31(b31Date, "irb"), Some(b31(b31Prior, "irb"))),
    Run("crr", "CRR", "off-bs", ReportingScenarios.offbsBundle,
      crr(crrDate, "standardised"), None),
    Run("b31", "BASEL_3_1", "off-bs", ReportingScenarios.offbsBundle,
      b31(b31Date, "standardised"), None),
    Run("crr", "CRR", "ccr", ReportingScenarios.ccrBundle,
      crr(crrDate, "standardised"), None),
    Run("b31", "BASEL_3_1", "ccr", ReportingScenarios.ccrBundle,
      b31(b31Date, "standardised"), None),
    Run("crr", "CRR", "sa-classes", ReportingScenarios.saClassesBundle,
      crr(crrDate, "standardised"), None),
    Run("b31", "BASEL_3_1", "sa-classes", ReportingScenarios.saClassesBundle,
      b31(b31Date, "standardised"), None),
    Run("crr", "CRR", "irb-classes", ReportingScenarios.irbClassesBundle,
      crr(crrDate, "irb"), Some(crr(crrPrior, "irb"))),
    Run("b31", "BASEL_3_1", "irb-classes", ReportingScenarios.irbClassesBundle,
      b31(b31Date, "irb"), Some(b31(b31Prior, "irb"))),
    Run("crr", "CRR", "crm-substitution", ReportingScenarios.crmSubstitutionBundle,
      crr(crrDate, "irb"), Some(crr(crrPrior, "irb"))),
    Run("b31", "BASEL_3_1", "crm-substitution", ReportingScenarios.crmSubstitutionBundle,
      b31(b31Date, "irb"), Some(b31(b31Prior, "irb"))))

  private val runs: Seq[Run] = allRuns.filter(_.regime == regime)

  /** Assemble one run's COREP estate, keyed by bundle attribute (the
    * publisher bindings' vocabulary; `__single__` for flat templates). */
  private def estate(cfg: RefRunConfig, cube: Vector[RefCube.CRow],
      prior: Option[Vector[RefCube.CRow]]): Map[String, Map[String, RefFrame]] = {
    def single(f: RefFrame) = Map(SingleSheet -> f)
    Map(
      "c_02_00" -> single(RefCorep.c0200(cfg, cube)),
      "c07_00" -> RefCorep.c07(cfg, cube),
      "c08_01" -> RefCorep.c0801(cfg, cube),
      "c08_02" -> RefCorep.c0802(cfg, cube),
      "c08_03" -> RefCorep.c0803(cfg, cube),
      "c08_04" -> RefCorep.c0804(cfg, cube, prior),
      "c08_05" -> RefCorep.c0805(cfg, cube),
      "c08_06" -> RefCorep.c0806(cfg, cube),
      "c08_07" -> single(RefCorep.c0807(cfg, cube)),
      "c09_01" -> RefCorep.c0901(cfg, cube),
      "c09_02" -> RefCorep.c0902(cfg, cube),
      "c34_01" -> RefCorep.c3401(cfg, cube).map(single).getOrElse(Map.empty),
      "c34_02" -> RefCorep.c3402(cfg, cube),
      "c34_08" -> RefCorep.c3408(cfg, cube).map(single).getOrElse(Map.empty)) ++
      (if (cfg.isB31) Map("of_02_01" -> single(RefCorep.of0201(cfg, cube)))
       else Map.empty)
  }

  /** Everything the twelve runs produced: broken rules unioned per
    * (regime, rule), uncovered templates per run, per-run summaries. */
  private lazy val gate: (Map[(String, String), (String, Set[String], Int)],
      Set[(String, String, String)], Map[String, Map[String, Int]]) = {
    val broken = scala.collection.mutable.Map[(String, String), (String, Set[String], Int)]()
    val uncovered = scala.collection.mutable.Set[(String, String, String)]()
    val summary = scala.collection.mutable.LinkedHashMap[String, Map[String, Int]]()
    for (run <- runs) {
      val bundle = run.bundle(spark)
      val cube = RefCube.build(RefBook.ledger(bundle, run.cfg, spark))
      val prior = run.priorCfg.map(p =>
        RefCube.build(RefBook.ledger(bundle, p, spark)))
      val report = evaluateAll(run.framework, estate(run.cfg, cube, prior))
      summary(s"${run.regime}/${run.portfolio}") = report.statusCounts ++ Map(
        "rules_enforced" -> report.rulesEnforced,
        "rules_executed" -> report.rulesExecuted,
        "templates_emitted" -> report.templatesEmitted.length,
        "templates_covered" -> report.templatesCovered.length)
      report.templatesUncovered.foreach(t =>
        uncovered += ((run.regime, run.portfolio, t)))
      report.byStatus(StatusFail).foreach { o =>
        val key = (run.regime, o.ruleId)
        val (sev, ports, n) = broken.getOrElse(key, (o.severity, Set.empty[String], 0))
        broken(key) = (sev, ports + run.portfolio, math.max(n, o.failed))
      }
      // free the memoised frames between runs
      spark.catalog.clearCache()
    }
    (broken.toMap, uncovered.toSet, summary.toMap)
  }

  // ---- the committed register --------------------------------------------

  private lazy val register: JObj = {
    val in = getClass.getResourceAsStream(
      "/reporting_goldens/validation_known_breaks.json")
    require(in != null, "missing vendored validation_known_breaks.json")
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    parseJson(text).asInstanceOf[JObj]
  }

  private def arr(j: J): Vector[JObj] =
    j.asInstanceOf[JArr].items.map(_.asInstanceOf[JObj])
  private def str(o: JObj, k: String): String = o(k).asInstanceOf[JStr].s

  // both baselines are sliced to this class's regime — the keys carry the
  // regime, so the two concrete classes together cover the full register
  private lazy val baselineRules: Map[(String, String), (String, Set[String])] =
    arr(register("known_broken_rules")).map { e =>
      (str(e, "regime"), str(e, "rule_id")) -> (str(e, "severity"),
        e("portfolios").asInstanceOf[JArr].items.map(_.asInstanceOf[JStr].s).toSet)
    }.toMap.filter(_._1._1 == regime)

  private lazy val baselineTemplates: Set[(String, String, String)] =
    arr(register("known_uncovered_templates")).map(e =>
      (str(e, "regime"), str(e, "portfolio"), str(e, "template"))).toSet
      .filter(_._1 == regime)

  // ---- the ratchet ---------------------------------------------------------

  test("every register entry's regime is one the concrete classes cover") {
    // each class slices the register to its own regime, so an entry with
    // any other regime (a misspelling) would drop out of both classes
    val regimes =
      arr(register("known_broken_rules")).map(str(_, "regime")) ++
      arr(register("known_uncovered_templates")).map(str(_, "regime")) ++
      register("summary").asInstanceOf[JObj].keys.map(_.takeWhile(_ != '/'))
    val uncovered = regimes.toSet -- SupervisoryValidationSpec.regimes
    assert(regimes.nonEmpty && uncovered.isEmpty,
      s"register regimes no concrete class covers: ${uncovered.toSeq.sorted.mkString(", ")}")
  }

  test("no supervisory validation break outside the baseline") {
    val (broken, _, summary) = gate
    summary.foreach { case (k, v) => info(s"$k: $v") }
    val newBreaks = broken.keys.toSeq.filterNot(baselineRules.contains).sorted
    val detail = newBreaks.map { k =>
      val (sev, ports, n) = broken(k)
      s"  ${k._1}/${k._2} [$sev] on ${ports.toSeq.sorted.mkString(",")} ($n cell(s))"
    }.mkString("\n")
    assert(newBreaks.isEmpty,
      s"${newBreaks.length} NEW supervisory validation break(s):\n$detail")
  }

  test("no baseline break has been fixed without being removed") {
    val (broken, _, _) = gate
    val healed = baselineRules.keys.toSeq.filterNot(broken.contains).sorted
    assert(healed.isEmpty,
      s"register entries that no longer break: ${healed.mkString(", ")}")
  }

  test("every broken rule is seen on exactly the register's portfolios") {
    val (broken, _, _) = gate
    val drifted = baselineRules.toSeq.flatMap { case (key, (_, wantPorts)) =>
      broken.get(key).collect {
        case (_, gotPorts, _) if gotPorts != wantPorts =>
          s"  ${key._1}/${key._2}: got ${gotPorts.toSeq.sorted.mkString(",")}, " +
            s"register ${wantPorts.toSeq.sorted.mkString(",")}"
      }
    }
    assert(drifted.isEmpty, s"portfolio attribution drift:\n${drifted.mkString("\n")}")
  }

  test("no uncovered template outside the baseline, none silently covered") {
    val (_, uncovered, _) = gate
    val newHoles = (uncovered -- baselineTemplates).toSeq.sorted
    val closed = (baselineTemplates -- uncovered).toSeq.sorted
    assert(newHoles.isEmpty, s"NEW coverage hole(s): ${newHoles.mkString(", ")}")
    assert(closed.isEmpty,
      s"register coverage holes now covered (must shrink deliberately): ${closed.mkString(", ")}")
  }

  test("every run's outcome counts match the register's recorded summary") {
    // The register's `summary` block is informational in the reference's
    // own gate — but the replay reproduces it EXACTLY (first verified
    // 2026-08-15: all 12 runs, every status count), so pin it: a drifted
    // PASS/VACUOUS/NOT_EVALUATED census is an evaluator-semantics or
    // frame regression even when no new rule breaks.
    val (_, _, summary) = gate
    val want0 = register("summary").asInstanceOf[JObj]
    val want = JObj(want0.keys.filter(_.startsWith(s"$regime/"))
      .map(k => k -> want0(k)).toVector)
    val issues = want.keys.flatMap { runKey =>
      val w = want(runKey).asInstanceOf[JObj]
      val got = summary.getOrElse(runKey, Map.empty[String, Int])
      w.keys.flatMap { field =>
        val wanted = w(field).asInstanceOf[ReportingGoldens.JNum].d.toInt
        val actual = got.getOrElse(field, -1)
        if (actual != wanted) Some(s"  $runKey.$field: got $actual, register $wanted")
        else None
      }
    }
    assert(issues.isEmpty, s"summary drift:\n${issues.mkString("\n")}")
  }
}

object SupervisoryValidationSpec {
  /** The regimes of the concrete classes below. */
  val regimes: Set[String] = Set("crr", "b31")
}

/** CRR half of the supervisory-validation ratchet (six runs). */
class SupervisoryValidationCrrSpec extends SupervisoryValidationSpec("crr")

/** Basel 3.1 half of the supervisory-validation ratchet (six runs). */
class SupervisoryValidationB31Spec extends SupervisoryValidationSpec("b31")
