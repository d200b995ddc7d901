package graft.engine

import graft.SparkSpec
import graft.contracts.CalcError
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  private val raw = ArtifactKey[DataFrame]("raw")
  private val doubled = ArtifactKey[DataFrame]("doubled")
  private val total = ArtifactKey[Long]("total")

  test("stage fold threads artifacts, persists edges, records timings") {
    val load = new Stage {
      def name = "load"
      def run(ctx: PipelineContext) =
        ctx.put(raw, spark.range(100).toDF("id"))
      override def edgeFrames = Seq(raw)
    }
    val transform = new Stage {
      def name = "transform"
      def run(ctx: PipelineContext) =
        ctx.put(doubled, ctx.get(raw).withColumn("x", col("id") * 2))
          .addErrors(Seq(CalcError("DQ999", "demo")))
      override def edgeFrames = Seq(doubled)
    }
    val aggregateStage = new Stage {
      def name = "aggregate"
      def run(ctx: PipelineContext) =
        ctx.put(total, ctx.get(doubled).agg(sum("x")).first().getLong(0))
    }

    val out = Orchestrator.runStages(Seq(load, transform, aggregateStage), PipelineContext())
    assert(out.get(total) == 9900L)
    assert(out.errors.map(_.code) == Seq("DQ999"))
    assert(out.timings.map(_._1) == Seq("load", "transform", "aggregate"))
    assert(out.get(doubled).storageLevel.useMemory, "edge frame should be persisted")
  }

  test("the fold pins only the newest edge; release() unpins it") {
    val keys = (0 until 5).map(i => ArtifactKey[DataFrame](s"e$i"))
    val stages = keys.zipWithIndex.map { case (k, i) =>
      new Stage {
        def name = s"s$i"
        def run(ctx: PipelineContext) = ctx.put(k, spark.range(10 + i).toDF("id"))
        override def edgeFrames = Seq(k)
      }
    }
    val out = Orchestrator.runStages(stages, PipelineContext())
    def pinnedCount = keys.map(out.get(_)).count(_.storageLevel.useMemory)
    assert(pinnedCount == 1, s"expected 1 pinned edge, got $pinnedCount")
    assert(out.get(keys.last).storageLevel.useMemory, "the newest edge stays pinned")
    out.release()
    assert(pinnedCount == 0, s"expected 0 pinned edges after release, got $pinnedCount")
  }

  test("the fold never unpersists an edge cached before it ran") {
    val shared = spark.range(7).toDF("id").persist()
    val stages = Seq(shared, spark.range(8).toDF("id")).zipWithIndex.map { case (df, i) =>
      new Stage {
        def name = s"s$i"
        def run(ctx: PipelineContext) = ctx.put(raw, df)
        override def edgeFrames = Seq(raw)
      }
    }
    Orchestrator.runStages(stages, PipelineContext()).release()
    assert(shared.storageLevel.useMemory, "an edge cached by its caller was unpersisted")
    shared.unpersist()
  }
}
