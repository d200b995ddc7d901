/* Bridge into Spark's private[sql] Column↔Expression converters and the
 * package-private Dataset factory. Lives in org.apache.spark.sql purely
 * for access. This is the standard technique for third-party Catalyst
 * expression libraries targeting classic Spark 4.x, where Column is backed
 * by ColumnNode and the converters live in private[sql] ExpressionUtils.
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, KnownNotNull}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` declared non-nullable, with no runtime check: for a column the
    * caller knows holds no null where the analyser cannot see it (a
    * filter that keeps only rows where it was non-nullable). */
  def knownNotNull(c: Column): Column = column(KnownNotNull(expression(c)))

  /** If `c` is an explicit sort-order column (`.asc`/`.desc`/the nulls
    * variants), its (isAscending, isNullsFirst). None for a bare column
    * (Spark's orderBy default: ascending nulls-first). Reads the
    * ColumnNode directly — the classic converter wraps the node opaquely,
    * so the catalyst SortOrder is not visible pre-analysis. */
  def sortOrderOf(c: Column): Option[(Boolean, Boolean)] = c.node match {
    case so: internal.SortOrder =>
      Some((so.sortDirection == internal.SortOrder.Ascending,
        so.nullOrdering == internal.SortOrder.NullsFirst))
    case _ => None
  }

  /** `df` as a fresh leaf: a LogicalRDD over the internal-row RDD its
    * QueryExecution compiles to, so later plans analyse a constant-size
    * leaf instead of `df`'s whole subtree. Rows stay internal: unlike
    * `createDataFrame(df.rdd, df.schema)` nothing converts them to
    * external `Row`s and back. When `df` is persisted the RDD scans its
    * cached blocks. Compiling the RDD is not free: under adaptive
    * execution it runs every shuffle stage of the plan; for a persisted
    * `df` it runs the plan that fills the cache and the fill itself, so
    * the first read only scans the blocks. */
  def reroot(df: DataFrame): DataFrame = {
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    classic.Dataset.ofRows(s, LogicalRDD(qe.analyzed.output, qe.toRdd)(s))
  }
}
