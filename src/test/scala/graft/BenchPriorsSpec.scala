package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The priors `graft.Bench` derives at start ([[BenchPriors.load]]) must
  * EQUAL the per-query running min of the official `BENCH_r*.json`
  * artifacts — the r18 failure was exactly a stale (loose) prior map
  * letting contended rows clear their fork thresholds unadjudicated. This
  * spec recomputes the min from the artifacts independently of
  * `BenchPriors` (same semantics, second implementation — a loader bug
  * and a spec bug would have to agree to slip through), with the
  * documented era cutoff and semantics-reset list.
  */
class BenchPriorsSpec extends AnyFunSuite {
  private val repo = sys.env.getOrElse("GRAFT_REPO", ".")
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  private def qnum(name: String): String =
    "^q0*([0-9]+)".r.findFirstMatchIn(name).map(_.group(1)).getOrElse(name)

  /** The official total line of one artifact (parsed field, else the
    * last total line of the recorded stdout tail), or None. */
  private def totalLine(f: File): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val root = mapper.readTree(f)
    val parsed = root.get("parsed")
    if (parsed != null && parsed.isObject && parsed.has("queries")) Some(parsed)
    else {
      val tail = Option(root.get("tail")).map(_.asText("")).getOrElse("")
      val idx = tail.lastIndexOf("{\"metric\":\"total\"")
      if (idx < 0) None
      else scala.util.Try(
        mapper.readTree(tail.substring(idx).linesIterator.next()))
        .toOption.filter(n => n.isObject && n.has("queries"))
    }
  }

  test("derived priors = artifact running min, with the documented resets") {
    val files = Option(new File(repo).listFiles()).toSeq.flatten
      .filter(_.getName.matches("BENCH_r\\d+\\.json"))
      .sortBy(f => "\\d+".r.findFirstIn(f.getName).get.toInt)
    assume(files.nonEmpty, s"no BENCH artifacts under $repo")
    val resets = BenchPriors.documentedResets
    val era = BenchPriors.documentedEraStart
    // the era cutoff and the reset list are loosening levers: a raised
    // cutoff or an extra reset drops inconvenient rounds, so both are
    // pinned to their documented values
    assert(era == 11, s"era cutoff $era")
    assert(resets == Map("61" -> 17, "62" -> 17, "65" -> 17, "78" -> 18,
      "99" -> 19, "119" -> 19), s"semantics resets $resets")
    val min = scala.collection.mutable.Map.empty[String, Int]
    var parseable = 0
    for (f <- files) {
      val rnd = "\\d+".r.findFirstIn(f.getName).get.toInt
      val root = mapper.readTree(f)
      if (rnd >= era && root.path("sf").asDouble() == 0.1) totalLine(f).foreach { p =>
        parseable += 1
        val failed = Option(p.get("failures")).toSeq
          .flatMap(_.fieldNames().asScala).map(qnum).toSet
        val cs = p.path("q_unit").asText("") == "centisec"
        p.get("queries").fields().asScala.foreach { e =>
          val q = qnum(e.getKey)
          val v = if (cs) e.getValue.asInt
                  else math.round(e.getValue.asDouble * 100).toInt
          if (!failed.contains(q) && rnd >= resets.getOrElse(q, 0)) {
            if (resets.get(q).contains(rnd)) min(q) = v // reset: fresh start
            else min(q) = math.min(min.getOrElse(q, v), v)
          }
        }
      }
    }
    assert(parseable >= 8, s"only $parseable parseable artifacts — parsing regressed?")
    val derived = BenchPriors.load(new File(repo))
    val differ = (min.keySet ++ derived.keySet).toSeq.collect {
      case q if derived.get(q) != min.get(q) =>
        s"q$q derived ${derived.get(q)} != artifact min ${min.get(q)}"
    }
    assert(differ.isEmpty, differ.sorted.mkString("; "))
  }
}
