package graft.reporting

import org.apache.spark.SparkContext
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
  * sheet build. The template's own QueryDef keeps building fresh, so
  * the driver's per-query benches measure real production cost.
  */
object TemplateBundle {

  private type Entry = (org.apache.spark.sql.types.StructType,
    java.util.List[org.apache.spark.sql.Row])

  // Lazy-holder memo: TrieMap.getOrElseUpdate is NOT atomic for the
  // by-name build (two concurrent first readers would both collect the
  // sheet), so the map holds a lazy cell installed with the atomic
  // putIfAbsent — exactly one caller's thunk runs, later callers block
  // on the holder's lazy initialiser instead of re-building.
  private val memo = scala.collection.concurrent.TrieMap[
    (SparkSession, String, String), Lazy[Entry]]()

  private final class Lazy[A](thunk: () => A) { lazy val value: A = thunk() }

  // one release hook per SparkContext: collected sheets die with the app,
  // so harnesses that cycle sessions cannot accumulate every session's
  // rows. The hook holds the context, never a session: a listener per
  // session grew the listener bus by one per session and kept every
  // session reachable from it.
  private val hooked = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkContext, java.lang.Boolean]()))

  private def hookRelease(s: SparkSession): Unit = {
    val sc = s.sparkContext
    if (hooked.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          memo.keys.filter(_._1.sparkContext eq sc).foreach(memo.remove)
      })
  }

  /** The generated frame for `name`, building (and collecting) it on
    * first use per (session, dir) — concurrent first readers build once. */
  def generated(s: SparkSession, dir: String, name: String,
      build: => DataFrame): DataFrame = {
    hookRelease(s)
    val key = (s, dir, name)
    val holder = new Lazy[Entry]({ () =>
      val df = build
      (df.schema, java.util.Arrays.asList(df.collect(): _*))
    })
    val cell = memo.putIfAbsent(key, holder).getOrElse(holder)
    val (schema, rows) = cell.value
    s.createDataFrame(rows, schema)
  }

  /** Drop every entry memoised for `session` — called when a run store
    * or test harness closes a session, so collected sheets do not
    * outlive it. */
  def releaseSession(session: SparkSession): Unit =
    memo.keys.filter(_._1 eq session).foreach(memo.remove)
}
