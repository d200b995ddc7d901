package graft

/** Ad-hoc perf probe: time + explain selected queries (dev tool). */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // PROBE_CONF="k=v;k=v" — ad-hoc conf overrides for experiments
    val spark = sys.env.get("PROBE_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2))
      .foldLeft(LocalSession.builder()) { case (b, Array(k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val explain = sys.env.get("PROBE_EXPLAIN").contains("1")
    if (sys.env.get("PROBE_LEDGER").contains("1")) {
      def t[A](tag: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[ledger-probe] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val stages = new scala.collection.mutable.ArrayBuffer[(Int, Int, Long, Long, String)]
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          stages.synchronized { stages += ((i.stageId, i.numTasks,
            i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
            i.name.take(90))) }
        }
      })
      if (sys.env.get("PROBE_PHASES").contains("1")) {
        val raw = t("construct+analyze")(
          engine.DomainPipeline.rawLedgerPlan(spark, sfDir))
        t("optimize")(raw.queryExecution.optimizedPlan)
        t("physical-plan")(raw.queryExecution.executedPlan)
        t("rdd")(raw.rdd)
      }
      val led = t("plan-build+reroot (driver)")(
        engine.DomainPipeline.ledger(spark, sfDir))
      t("first count (execute+cache)")(led.count())
      t("second count (cached)")(led.count())
      if (sys.env.get("PROBE_XCHG").contains("1")) {
        val plan = engine.DomainPipeline.persistedHandle(spark, sfDir)
          .get.queryExecution.executedPlan
        val counts = scala.collection.mutable.Map[String, Int]()
        def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
          val n = p.getClass.getSimpleName
          if (n.contains("Exchange") || n.contains("QueryStage") || n.contains("Sort"))
            counts(n) = counts.getOrElse(n, 0) + 1
          p.children.foreach(walk)
          p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              walk(a.executedPlan)
            case _ =>
          }
        }
        walk(plan)
        println(s"[ledger-probe] exchanges: $counts")
      }
      Thread.sleep(500)
      stages.synchronized {
        val tot = stages.map { case (_, _, s, e, _) => e - s }.sum
        println(s"[ledger-probe] stages=${stages.size} tasks=${stages.map(_._2).sum} stage-wall-sum=${tot}ms")
        stages.sortBy { case (_, _, s, e, _) => s - e }.take(12).foreach {
          case (id, n, s, e, nm) =>
            println(s"[ledger-probe]   stage $id: $n tasks, ${e - s}ms  $nm") }
      }
      if (sys.env.get("PROBE_RULES").contains("1")) {
        val dump = org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
        println(dump.linesIterator.take(30).mkString("\n"))
      }
      spark.stop(); return
    }
    // PROBE_ROUNDS: more rounds + min gives a contention-robust estimate
    // on a noisy host (the bench's own min-estimator rationale)
    val nRounds = sys.env.get("PROBE_ROUNDS").map(_.toInt).getOrElse(3)
    // PROBE_STAGES=1: per-query stage telemetry (top stages by wall) so a
    // slow round self-explains without the UI (dev tool only)
    val stageTel = sys.env.get("PROBE_STAGES").contains("1")
    val stages = new scala.collection.mutable.ArrayBuffer[(Int, Int, Long, String)]
    if (stageTel) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          stages.synchronized { stages += ((i.stageId, i.numTasks,
            i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
            i.name.take(70))) }
        }
      })
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (explain) {
        println(s"==== $name plan ====")
        fn(spark, sfDir).explain("formatted")
      }
      val times = (1 to nRounds).map { i =>
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[probe] $name round $i: $t%.2f s")
        if (stageTel && i == nRounds) {
          Thread.sleep(300)
          stages.synchronized {
            stages.sortBy(-_._3).take(10).foreach { case (id, n, ms, nm) =>
              println(s"[probe-stage] $name stage $id: $n tasks ${ms}ms  $nm") }
          }
        }
        t
      }
      println(f"[probe] $name min: ${times.min}%.2f s over $nRounds rounds")
      SessionScope.endQuery(spark)
    }
    spark.stop()
  }
}
