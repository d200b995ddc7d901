package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.annotation.tailrec
import scala.collection.mutable

/** Counterparty / facility hierarchy resolution (reference
  * `engine/stages/hierarchy/graph.py`). Org-chart edge tables are SMALL
  * (thousands of rows, not billions), so the reference collects them to
  * the driver and resolves by dict traversal
  * (`graph.py:120-163` build_ultimate_parent_lazy) — the right call at any
  * scale, because the graph is bounded by legal-entity counts even when
  * exposures are 100 TB. A distributed join-to-fixpoint fallback covers
  * the "mapping table is unexpectedly huge" case (SURVEY.md §7.4 guard).
  */
object Hierarchy {

  val DefaultMaxDepth = 10 // reference graph.py:122
  val DriverSideLimit = 5000000L // guard before collecting edges

  /** Driver-side resolution: (child, parent) edges → one row per known
    * node with its ultimate parent, depth, and root path. Cycles are cut
    * at maxDepth and flagged (depth = -1) rather than thrown — the error-
    * channel discipline.
    */
  def resolveUltimateParents(
      edges: DataFrame, childCol: String, parentCol: String,
      maxDepth: Int = DefaultMaxDepth): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val n = edges.count()
    require(n <= DriverSideLimit,
      s"hierarchy edge table has $n rows; use resolveByFixpoint for frames this large")
    val parentOf: Map[String, String] = edges
      .select(col(childCol).cast("string"), col(parentCol).cast("string"))
      .na.drop().as[(String, String)].collect().toMap
    val nodes = (parentOf.keySet ++ parentOf.values).toSeq.sorted
    val resolved = nodes.map { node =>
      val path = mutable.ArrayBuffer(node)
      var cur = node
      var depth = 0
      var cyclic = false
      while (parentOf.contains(cur) && !cyclic) {
        depth += 1
        cur = parentOf(cur)
        if (depth > maxDepth || path.contains(cur)) cyclic = true
        else path += cur
      }
      (node, cur, if (cyclic) -1 else depth, path.toSeq)
    }
    resolved.toDF(childCol, "ultimate_parent", "depth", "hierarchy_path")
  }

  /** Distributed resolution by iterative self-join to fixpoint: each round
    * replaces every node's current ancestor with that ancestor's parent
    * (pointer doubling would halve rounds; the reference caps depth at 10
    * so the plain ≤maxDepth-round loop is already bounded). Each round is
    * one broadcast-or-shuffle join; rounds stop early when no row changed.
    */
  def resolveByFixpoint(
      edges: DataFrame, childCol: String, parentCol: String,
      maxDepth: Int = DefaultMaxDepth): DataFrame = {
    val base = edges
      .select(col(childCol).cast("string").as("node"),
              col(parentCol).cast("string").as("anc"))
      .na.drop()
    val parents = base.select(col("node").as("p_child"), col("anc").as("p_parent"))

    @tailrec
    def loop(cur: DataFrame, round: Int): DataFrame = {
      if (round >= maxDepth) cur
      else {
        val stepped = cur
          .join(parents, cur("anc") === parents("p_child"), "left")
          .select(col("node"),
            coalesce(col("p_parent"), col("anc")).as("anc"),
            (col("p_parent").isNotNull).as("moved"))
          .transform(graft.SessionScope.persist)
        val anyMoved = stepped.filter(col("moved")).limit(1).count() > 0
        val next = stepped.drop("moved")
        if (!anyMoved) next else loop(next, round + 1)
      }
    }
    loop(base, 0).withColumnRenamed("anc", "ultimate_parent")
      .withColumnRenamed("node", childCol)
  }

  /** Ancestor closure: every (descendant, ancestor) pair up to maxDepth,
    * then the audit list aggregation (reference `graph.py:239-305`:
    * closure → group_by(descendant).agg(list)). Sorted for determinism.
    */
  def ancestorClosure(
      edges: DataFrame, childCol: String, parentCol: String,
      maxDepth: Int = DefaultMaxDepth): DataFrame = {
    val resolved = resolveUltimateParents(edges, childCol, parentCol, maxDepth)
    resolved.select(col(childCol),
        // the path minus the node itself = its ancestor list
        expr("slice(hierarchy_path, 2, size(hierarchy_path) - 1)").as("ancestors"))
      .withColumn("ancestor_list", concat_ws(",", col("ancestors")))
      .drop("ancestors")
  }
}
