package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.contracts.CalcError

/** Typed key for a pipeline artifact (reference `contracts/context.py`
  * ArtifactKey[T]). The phantom type documents what the stage hands over.
  */
final case class ArtifactKey[T](name: String)

/** Immutable typed key→artifact map folded through stages (reference
  * `contracts/context.py` PipelineContext; fold
  * `engine/orchestrator.py:126-162`). `pinned` is the sealed edge the
  * fold left persisted; [[release]] unpersists it.
  */
final case class PipelineContext(
    artifacts: Map[ArtifactKey[_], Any] = Map.empty,
    errors: Seq[CalcError] = Nil,
    timings: Seq[(String, Long)] = Nil,
    private[engine] val pinned: Option[DataFrame] = None) {

  def get[T](key: ArtifactKey[T]): T = artifacts(key).asInstanceOf[T]
  def getOpt[T](key: ArtifactKey[T]): Option[T] =
    artifacts.get(key).map(_.asInstanceOf[T])
  def put[T](key: ArtifactKey[T], value: T): PipelineContext =
    copy(artifacts = artifacts + (key -> value))
  def addErrors(es: Seq[CalcError]): PipelineContext =
    copy(errors = errors ++ es)

  /** Unpersists the edge the fold left pinned, once the caller has read
    * what it needs from the context. */
  def release(): Unit = pinned.foreach(_.unpersist(blocking = false))
}

/** One pipeline stage. `edgeFrames` names the DataFrame artifacts this
  * stage SEALS at its exit, in the order they are built from each other —
  * they get the persist+materialise barrier.
  */
trait Stage {
  def name: String
  def run(ctx: PipelineContext): PipelineContext
  def edgeFrames: Seq[ArtifactKey[DataFrame]] = Nil
}

/** The stage fold with per-edge materialisation (reference
  * `engine/orchestrator.py:194-219` run_stages +
  * `engine/materialise.py:220-243` materialise_sealed_edge).
  *
  * The reference collects EAGERLY at every stage exit because unbounded
  * lazy plan depth crashed Polars and multiple collects re-executed the
  * upstream (reference `engine/materialise.py:18-41`,
  * `docs/perf/baseline-2026-05-22.md:37-65`). Spark's equivalent failure
  * mode is lineage/codegen blow-up plus re-execution across actions, so
  * every sealed edge is persisted (MEMORY_AND_DISK) and materialised with
  * a cheap action. Once an edge is materialised, later stages read its
  * blocks rather than anything upstream of it, so every edge sealed
  * before it is unpersisted: one edge is pinned at a time — the §7.4
  * "unpersist each edge when its last consumer completes" rule. The
  * returned context holds the last edge; its reader calls
  * [[PipelineContext.release]] when done. The fold unpersists only what
  * it persisted.
  */
object Orchestrator {

  def runStages(stages: Seq[Stage], initial: PipelineContext): PipelineContext =
    stages.foldLeft(initial) { (ctx, stage) =>
      val t0 = System.nanoTime()
      // the pinned edge is the fold's to track, whatever the stage returns
      val ran = stage.run(ctx).copy(pinned = ctx.pinned)
      val out = stage.edgeFrames.foldLeft(ran) { (acc, key) =>
        acc.getOpt(key).fold(acc) { df =>
          // Spark keys its cache by plan: an edge whose plan someone else
          // already cached is read from their entry, and left for them
          // to release
          val owned = df.storageLevel == StorageLevel.NONE
          val edge = df.persist(StorageLevel.MEMORY_AND_DISK)
          edge.count() // materialise once; later stages reuse the cache
          acc.release()
          acc.put(key, edge).copy(pinned = Option.when(owned)(edge))
        }
      }
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      out.copy(timings = out.timings :+ (stage.name -> elapsedMs))
    }
}
