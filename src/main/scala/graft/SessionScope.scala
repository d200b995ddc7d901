package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of a session's reusable state: every memo the program
  * keeps per (session, data dir) and every frame a query persists. The
  * reference materialises each edge once per run and releases it when its
  * last consumer is done (`engine/materialise.py:18-41`); here the session
  * is the run, and this object is where its results live and die.
  *
  * Two kinds of state, two lifetimes:
  *  - a '''memo''' (`memo`) outlives queries: the scan frames of
  *    `sources.Tables`, the ledger and its summaries, the generated
  *    templates, q159's catalogue frame. It is dropped by key (`drop`),
  *    by data dir, or with the whole session (`release`). A value that
  *    holds Spark resources is [[Owned]] and releases them when dropped.
  *  - a '''query frame''' (`persist`) lives until its query ends: the
  *    multi-consumer edges a query build persists. `endQuery` unpersists
  *    the frames the calling thread registered and keeps the memos.
  *
  * Sized for the traffic that exists:
  *  - perfbench opens a fresh `newSession()` per warm pass and releases
  *    the previous one whole (`TemplateBundle.releaseSession`);
  *  - `graft.Bench` runs the battery in one session and ends each query
  *    after its rounds; before each timed round of a sheet that reads the
  *    CCR components it drops that one entry;
  *  - `graft.Verify` runs the battery in one session and ends each query
  *    family; the ledger memo lives the whole run;
  *  - `RestServer` serves concurrent requests from one long-lived
  *    session: each request ends its own query frames (they are keyed by
  *    thread), and an evicted run or a `/validate` drops the memos of the
  *    data dir no stored run reads.
  * One listener per SparkContext forgets what its sessions left when the
  * application ends.
  */
private[graft] object SessionScope {

  /** A memoised value holding Spark resources, released when dropped. */
  trait Owned { def release(): Unit }

  /** A memo slot: the value is built at most once, by the first reader,
    * while later readers wait on the slot (not on the table). A failed
    * build leaves the slot empty for the next reader to retry. A slot
    * dropped while its value is being built releases the value as soon
    * as it exists. */
  private final class Slot(build: () => Any) {
    private var value: Option[Any] = None // guarded by this
    private var dropped = false
    def get: Any = synchronized {
      value.getOrElse {
        val v = build()
        value = Some(v)
        if (dropped) free(v)
        v
      }
    }
    def built: Option[Any] = synchronized(value)
    def drop(): Unit = synchronized { dropped = true; value.foreach(free) }
  }

  private def free(v: Any): Unit = v match {
    case o: Owned => o.release()
    case _ =>
  }

  private type Key = (SparkSession, String, Any)
  private val memos = scala.collection.concurrent.TrieMap[Key, Slot]()

  /** Query frames per (session, registering thread); guarded by itself. */
  private val frames =
    scala.collection.mutable.Map.empty[(SparkSession, Long), List[DataFrame]]

  private val hooked = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkContext, java.lang.Boolean]()))

  /** The application-end hook, once per SparkContext: it forgets the
    * context's entries (its blocks die with it). The hook holds the
    * context, never a session: a listener per session would grow the
    * listener bus with every session and keep each one reachable. */
  private def hook(s: SparkSession): Unit = {
    val sc = s.sparkContext
    if (hooked.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          memos.keys.filter(_._1.sparkContext eq sc).foreach(memos.remove)
          frames.synchronized(frames.filterInPlace((k, _) => !(k._1.sparkContext eq sc)))
        }
      })
  }

  /** The memoised value of `key` under (session, dir), built on first
    * use. A value `live` rejects (say, a persisted frame a cache sweep
    * evicted) is dropped and built again. */
  def memo[A](s: SparkSession, dir: String, key: Any)(
      build: => A, live: A => Boolean = (_: A) => true): A = {
    val k: Key = (s, dir, key)
    val slot = memos.getOrElse(k, {
      hook(s)
      val fresh = new Slot(() => build)
      memos.putIfAbsent(k, fresh).getOrElse(fresh)
    })
    val v = slot.get.asInstanceOf[A]
    if (live(v)) v
    else {
      if (memos.remove(k, slot)) slot.drop()
      memo(s, dir, key)(build, live)
    }
  }

  /** The value memoised for `key`, if one was built; builds nothing. */
  def peek[A](s: SparkSession, dir: String, key: Any): Option[A] =
    memos.get((s, dir, key)).flatMap(_.built).map(_.asInstanceOf[A])

  /** Drop one memo entry. */
  def drop(s: SparkSession, dir: String, key: Any): Unit =
    memos.remove((s, dir, key)).foreach(_.drop())

  /** Drop every memo entry of one data dir. */
  def drop(s: SparkSession, dir: String): Unit =
    dropWhere(k => (k._1 eq s) && k._2 == dir)

  private def dropWhere(p: Key => Boolean): Unit =
    memos.keys.filter(p).foreach(k => memos.remove(k).foreach(_.drop()))

  /** Persist `df` (memory and disk) as a frame of the calling thread's
    * current query in `df`'s session, to be unpersisted by `endQuery`. */
  def persist(df: DataFrame): DataFrame = {
    hook(df.sparkSession)
    val k = (df.sparkSession, Thread.currentThread.getId)
    frames.synchronized(frames(k) = df :: frames.getOrElse(k, Nil))
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** End the calling thread's query in `s`: unpersist the frames it
    * registered. The session's memos stay. */
  def endQuery(s: SparkSession): Unit =
    unpersist(frames.synchronized(
      frames.remove((s, Thread.currentThread.getId)).toList.flatten))

  /** Release the whole session: every memo entry and every query frame. */
  def release(s: SparkSession): Unit = {
    dropWhere(_._1 eq s)
    unpersist(frames.synchronized {
      val ks = frames.keys.filter(_._1 eq s).toList
      ks.flatMap(frames.remove).flatten
    })
  }

  private def unpersist(dfs: List[DataFrame]): Unit =
    dfs.foreach(_.unpersist(blocking = false))

  /** Memo entries plus registered query frames, over every session. */
  def size: Int = memos.size + frames.synchronized(frames.values.map(_.size).sum)
}
