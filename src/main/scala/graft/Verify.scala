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
    // Family-scoped session hygiene (round-15, verdict #1): a family's
    // queries share one session, and the frames they persist are released
    // at the family edge (SessionScope.endQuery), so pinned frames stay
    // bounded by one family's worth while a family's queries share them
    // (Similarity.scorable, q173's assigned). The session's memos — the
    // ledger of both regimes among them — live the whole run, so no
    // family rebuilds them. Each query's final stage writes as many files
    // as it has partitions: the oracle compare (tools/selfcheck.py) reads
    // the parquet directory and sorts rows before hashing.
    val families = SparkEntry.queryFamilies
    families.foreach { case (family, qs) =>
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
        SessionScope.endQuery(spark)
        System.err.println(
          f"[verify] family $family: ${picked.size} queries, ${(System.nanoTime() - f0) / 1e9}%.1f s")
      }
    }
    spark.stop()
  }
}
