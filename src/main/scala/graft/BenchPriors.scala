package graft

/** The fork-adjudication priors of `graft.Bench` (r18 verdict item 1),
  * derived at bench start from the official `BENCH_r<N>.json` records in
  * the working directory: per query, the running MIN of every parseable
  * sf0.1 record (centiseconds) from [[documentedEraStart]] on, with the
  * [[documentedResets]] applied. Deriving them from the artifacts on
  * every run means they cannot go stale: the hand-maintained literal they
  * replace had 79/157 entries above the true running min in round 18, so
  * contended rows cleared loosened fork thresholds and landed on the
  * official record unadjudicated. The isolated fork JVMs inherit the
  * parent's working directory and find the same artifacts.
  * `BenchPriorsSpec` recomputes the min independently and requires it to
  * equal [[load]].
  */
object BenchPriors {
  import scala.jdk.CollectionConverters._
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

  /** The documented semantics-reset list: query number -> first round
    * whose official record is comparable (min'ing against a retired
    * lighter query would fork it every round forever). r17: q61 gained the
    * exact-verify tier, q62 the portable md5 signature, q65 swapped
    * k-means for the sign quantiser. r18: q78 moved to the two-level
    * distributed prefix sum. r19: q119's PQ codes moved to per-sub argmin
    * aggregations, and q99 collapsed eleven executions of the joined
    * snapshots into one persisted cell grid. */
  val documentedResets: Map[String, Int] =
    Map("61" -> 17, "62" -> 17, "65" -> 17, "78" -> 18, "99" -> 19,
      "119" -> 19)

  /** Artifacts before this round predate the battery's current
    * semantics baseline (the centisecond record era) and never feed the
    * priors — the mechanical blanket form of a reset. */
  val documentedEraStart: Int = 11

  private val mapper = new ObjectMapper

  private def qnum(name: String): String =
    "^q0*([0-9]+)".r.findFirstMatchIn(name).map(_.group(1)).getOrElse(name)

  /** The official total line of one artifact: the parsed field, else the
    * last total line of the recorded stdout tail. */
  private def totalLine(root: JsonNode): Option[JsonNode] = {
    val parsed = root.get("parsed")
    if (parsed != null && parsed.isObject && parsed.has("queries")) Some(parsed)
    else {
      val tail = root.path("tail").asText("")
      val idx = tail.lastIndexOf("{\"metric\":\"total\"")
      if (idx < 0) None
      else scala.util.Try(mapper.readTree(tail.substring(idx).linesIterator.next()))
        .toOption.filter(n => n.isObject && n.has("queries"))
    }
  }

  /** query number -> all-time min official record, centiseconds; empty
    * when `dir` holds no artifact. A failed query's row is left out (its
    * time is time-to-throw, not cost). */
  def load(dir: java.io.File = new java.io.File(".")): Map[String, Int] = {
    val Artifact = "BENCH_r(\\d+)\\.json".r
    val records = for {
      f <- Option(dir.listFiles).toSeq.flatten
      rnd <- f.getName match {
        case Artifact(n) if n.toInt >= documentedEraStart => Seq(n.toInt)
        case _ => Nil
      }
      root = mapper.readTree(f)
      if root.path("sf").asDouble() == 0.1
      total <- totalLine(root).toSeq
      failed = Option(total.get("failures")).toSeq
        .flatMap(_.fieldNames().asScala).map(qnum).toSet
      centi = total.path("q_unit").asText("") == "centisec"
      e <- total.get("queries").fields().asScala
      q = qnum(e.getKey)
      if !failed(q) && rnd >= documentedResets.getOrElse(q, 0)
    } yield q -> (if (centi) e.getValue.asInt
                  else math.round(e.getValue.asDouble * 100).toInt)
    records.groupMapReduce(_._1)(_._2)(math.min(_, _))
  }
}
