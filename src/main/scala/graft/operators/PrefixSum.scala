package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{Column => Col}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed running sum — the two-level scan that removes the
  * single-task funnel of `sum().over(Window.partitionBy(part)
  * .orderBy(...))` when one partition value dominates (the packing
  * census's `web = 40%` source, measured at the GRAFT_STRESS_CORPUS
  * tier): a per-PARTITION ordered window must sort and scan the whole
  * partition in ONE task, so a dominant key serialises at 100 TB.
  *
  * Classic parallel prefix-sum instead:
  *   1. intra-bucket ordered window over (part, bucket) — parallel
  *      across buckets, each bucket executor-sized;
  *   2. per-(part, bucket) totals (one row per bucket) and a per-part
  *      running offset over BUCKETS — the only sequential scan left is
  *      #buckets long, not #rows;
  *   3. join the offsets back (same (part, bucket) keys the intra
  *      window already partitioned by) and add.
  *
  * CORRECTNESS CONTRACT: `bucket` must be a monotone non-decreasing
  * pure function of the LEADING order key, with equal leading keys
  * mapping to the same bucket — then bucket boundaries respect the
  * global order and the result is bit-identical to the single-window
  * form (PrefixSumSpec pins equality, null partition keys included).
  */
object PrefixSum {

  /** Adds `out` = running sum of `value` over rows ordered by
    * `orderCols` within the `partNames` columns, bucketed by `bucket`
    * for parallelism. Join-back is null-safe on every key (a NULL
    * partition value is a real group, not a dropped row).
    *
    * The intra-bucket frame is PERSISTED (MEMORY_AND_DISK,
    * session-managed like the dedup sig frames — Bench/Verify clear the
    * cache between queries): it feeds both the offsets derivation and
    * the join-back, and Catalyst does not CSE across join branches, so
    * without the cache the whole upstream (scan + window) would run
    * twice. The offsets are derived FROM the cached intra frame
    * (groupBy on the window's own partition keys — no new exchange),
    * so the input is scanned exactly once. */
  def bucketedRunningSum(
      df: DataFrame, partNames: Seq[String], bucket: Col,
      orderCols: Seq[Col], value: Col, out: String): DataFrame = {
    // The offsets scan below orders buckets ASCENDING NULLS FIRST, so the
    // monotone-bucket contract only composes with a leading order key
    // that sorts the same way (a bare Column defaults to exactly that).
    // A descending or nulls-last leading key would yield silently WRONG
    // running sums — reject it at plan time instead.
    require(orderCols.nonEmpty, "bucketedRunningSum needs an order key")
    // bare column = Spark's orderBy default, ascending nulls-first: fine
    for ((asc, nullsFirst) <- org.apache.spark.sql.GraftBridge.sortOrderOf(orderCols.head))
      require(asc && nullsFirst,
        "bucketedRunningSum: the leading order key must be ascending " +
          "nulls-first (the bucket offsets scan is hardwired to that " +
          s"order); got ascending=$asc nullsFirst=$nullsFirst")
    // the _ps_* working columns would silently shadow same-named input
    require(!df.columns.exists(_.startsWith("_ps_")),
      s"bucketedRunningSum: input columns must not start with _ps_ " +
        s"(reserved): ${df.columns.filter(_.startsWith("_ps_")).mkString(", ")}")
    val part = partNames.map(col)
    val wIntra = Window
      .partitionBy(part :+ col("_ps_bucket"): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = df.withColumn("_ps_bucket", bucket)
      .withColumn("_ps_val", value)
      .withColumn("_ps_cum", sum(col("_ps_val")).over(wIntra))
      .transform(graft.SessionScope.persist)
    val wOff = Window.partitionBy(part: _*).orderBy(col("_ps_bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = intra
      .groupBy(part :+ col("_ps_bucket"): _*)
      .agg(sum(col("_ps_val")).as("_ps_tot"))
      .withColumn("_ps_off", sum(col("_ps_tot")).over(wOff) - col("_ps_tot"))
      .toDF(partNames.map(n => s"_ps_p_$n") ++ Seq("_ps_b", "_ps_tot2", "_ps_off"): _*)
      .drop("_ps_tot2")
    val cond = partNames
      .map(n => intra(n) <=> offsets(s"_ps_p_$n"))
      .foldLeft(intra("_ps_bucket") <=> offsets("_ps_b"))(_ && _)
    intra.join(offsets, cond)
      .withColumn(out, col("_ps_cum") + col("_ps_off"))
      .drop(partNames.map(n => s"_ps_p_$n") ++
        Seq("_ps_b", "_ps_off", "_ps_cum", "_ps_val", "_ps_bucket"): _*)
  }
}
