package graft.reporting

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The run's generated-template bundle (reference
  * `reporting/pillar3/generator.py` TemplateBundle / the COREP
  * generator's per-run cache): a run generates each template ONCE and
  * every downstream consumer — the submission gate, the cross-template
  * rule families, export, the REST estate — reads the same generated
  * frame instead of re-running the sheet's production pipeline.
  *
  * Spark-first shape: the generated sheet is collected once into a
  * driver-local relation, memoised per (session, dir, template). A
  * published sheet is a few hundred rows at most (grid axes × country
  * sheets), so the local relation is the sanctioned presentation-grain
  * reduction; it is DERIVED data — a cache sweep cannot stale it, and
  * repeat consumers skip the whole re-analysis + re-execution of the
  * sheet build. A template's own QueryDef keeps building its sheet
  * fresh, so the driver's per-query benches measure real production cost;
  * the one exception is the CCR components OV1 and CMS1 share
  * (`Pillar3.ccrComponents`), which both sheets read from here. The
  * bundle is a set of [[graft.SessionScope]] memos: a run store or
  * harness that closes a session releases it with [[releaseSession]],
  * and `graft.Bench` drops the CCR components' entry ([[key]]) before
  * each timed round of q130 and q132, so those rounds time q56, q105, q96
  * and q97 as part of the sheet.
  */
object TemplateBundle {

  /** The scope key of template `name`'s entry. */
  private[graft] def key(name: String): Any = ("template", name)

  /** The generated frame for `name`, building (and collecting) it on
    * first use per (session, dir) — concurrent first readers build once. */
  def generated(s: SparkSession, dir: String, name: String,
      build: => DataFrame): DataFrame = {
    val (schema, rows) = graft.SessionScope.memo(s, dir, key(name)) {
      val df = build
      (df.schema, java.util.Arrays.asList(df.collect(): _*))
    }
    s.createDataFrame(rows, schema)
  }

  /** Release everything memoised for `session` — called when a run store
    * or test harness closes a session, so collected sheets, scan frames
    * and the ledger do not outlive it. */
  def releaseSession(session: SparkSession): Unit =
    graft.SessionScope.release(session)
}
