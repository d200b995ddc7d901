package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query names — run only those
    // (local iteration; the driver always runs the full set).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json is written FIRST (round-15 driver resilience): it is
    // pure driver-side string assembly, and writing it after the dump
    // meant a timeout ANYWHERE in the ~5-minute query loop zeroed the
    // whole round's correctness record (the r14 `{}` artifact). With the
    // oracle map on disk up front, a killed run still yields one
    // comparable row per query that finished — partial signal beats none.
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Family-scoped session hygiene (round-15, verdict #1): the r14 gate
    // produced an empty artifact — the driver's correctness phase ran ~98
    // minutes under load and died. Two wall-time levers applied here:
    //   (a) the cache sweep moved from per-QUERY to per-FAMILY: the
    //       memoised domain ledger / sealed stage edges were being evicted
    //       and rebuilt by nearly every reporting query (dozens of full
    //       re-builds per SF). A family's queries now share the warm
    //       ledger; the sweep at the family edge still bounds pinned
    //       frames (Similarity.scorable, q173's assigned, stage edges) to
    //       one family's worth, so disk spill stays bounded.
    //   (b) the per-query coalesce(1) is gone: it collapsed every query's
    //       FINAL stage to one thread just to write one file. The driver's
    //       compare reads the parquet directory (pyarrow dataset) and
    //       sorts rows before hashing, so a multi-file result is
    //       equivalent; AQE keeps small results to a few files anyway.
    // The ledger-consuming families (domain → pillar3 → corep08 → corep09
    // → catalogue) run as ONE no-sweep span: each of them re-derives the
    // memoised domain ledger (both regimes), so a sweep between them
    // re-pays two full ledger builds per family for no hygiene gain —
    // their per-query persists are the ledger edges themselves.
    val noSweepInto = Set("pillar3", "corep08", "corep09", "catalogue")
    val families = SparkEntry.queryFamilies
    families.zipWithIndex.foreach { case ((family, qs), i) =>
      val picked = qs.filter(d => only.forall(_.contains(d.name)))
      if (picked.nonEmpty) {
        val f0 = System.nanoTime()
        picked.foreach { d =>
          try d.build(spark, sfDir).write.mode("overwrite")
            .parquet(s"$outDir/${d.name}")
          catch { case e: Throwable =>
            System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
          }
        }
        val next = families.drop(i + 1).map(_._1).headOption
        if (!next.exists(noSweepInto)) spark.catalog.clearCache()
        System.err.println(
          f"[verify] family $family: ${picked.size} queries, ${(System.nanoTime() - f0) / 1e9}%.1f s")
      }
    }
    spark.stop()
  }
}
