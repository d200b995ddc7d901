package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Thin REST facade over [[CreditRiskCalc]] (reference `api/rest.py`:
  * frameworks / validate / calculate / results / results-summary /
  * lineage routes on an APIRouter). Spark-first posture: every endpoint
  * is a lazy-frame consumer — `calculate` materialises ONLY the
  * summary + scalar totals and caches the RESULT HANDLE (lazy ledger
  * included), so `results` pagination and `lineage` drill-down run their
  * own bounded actions (limit/filter pushed into the plan) instead of
  * collecting the book to the server. Zero new dependencies: the JDK
  * `com.sun.net.httpserver` and a minimal flat-JSON codec.
  *
  * Not a production server (single JVM, no auth) — it is the reference's
  * `rest.py` surface re-expressed, spec-driven by `RestServerSpec`.
  * Memory posture: everything a request leaves in the server's one
  * session belongs to [[graft.SessionScope]]. A request's persisted query
  * frames are released when it ends. The memos (scan frames, ledger,
  * templates) outlive requests: the run store is an LRU capped at
  * `maxRuns`, and an evicted run — like a `/validate`, which never enters
  * the store — drops the memos no stored run reads (its regime's ledger,
  * and its data dir's entries when no stored run reads that dir), so the
  * Spark cache and the memo table stay bounded by the live run set.
  *
  * `dataRoot`, when set, is the allowlisted data base directory: a
  * request `dataPath` must resolve (after normalisation) underneath it,
  * so a client of the socket cannot point the parquet loader at an
  * arbitrary filesystem path. None (the default) keeps the permissive
  * loopback-test behaviour.
  */
final class RestServer(
    spark: SparkSession, port: Int = 0, dataRoot: Option[String] = None) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // a thread pool so one long Spark action does not serialise every
  // endpoint behind the single dispatcher thread
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()
  server.setExecutor(pool)
  /** Bounded run store: access-ordered LRU, oldest run evicted past the
    * cap so a long-lived server does not grow without bound; the evicted
    * run's persisted ledger edge is released with it. */
  private val maxRuns = 32
  private val runs = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, CalculationResult](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CalculationResult]): Boolean = {
        val evict = size() > maxRuns
        // called under the store lock, on the mutating thread
        if (evict) releaseUnread(e.getValue.config,
          this.values.asScala.filter(_ ne e.getValue))
        evict
      }
    })
  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Registered reconciliations for the export endpoint (reference
    * `register_reconciliation` / `_require_reconciliation`): bounded
    * LRU like the run store — recon results hold lazy frames only. */
  private val recons = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, ReconciliationResult](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ReconciliationResult]): Boolean =
        size() > 16
    })
  private val reconSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Fingerprint → run-id reuse index (reference `api/run_index.py`);
    * session-scoped here — the run STORE is in-memory, so persisting
    * the index past the process would dangle. */
  private val runIndex = new RunIndex()

  /** Drop the memos of `cfg` that none of `stored` reads: the ledger of
    * its (dataPath, regime), and every memo of the data dir when no
    * stored run reads that dir. Runs share memos by construction, so
    * dropping a shared entry would cold-start a surviving run's next
    * query. */
  private def releaseUnread(cfg: CalcConfig, stored: Iterable[CalculationResult]): Unit = {
    val irb = cfg.permissionMode == "irb"
    val sameDir = stored.filter(_.config.dataPath == cfg.dataPath)
    if (!sameDir.exists(r => (r.config.permissionMode == "irb") == irb))
      graft.engine.DomainPipeline.releaseLedger(spark, cfg.dataPath, irb)
    if (sameDir.isEmpty) graft.SessionScope.drop(spark, cfg.dataPath)
  }

  /** Allowlist gate: with a `dataRoot` configured, the requested path
    * must resolve to a location under it. The containment check runs on
    * REAL paths (symlinks resolved via `toRealPath` on the deepest
    * existing prefix), so a symlink planted under the root that points
    * outside it cannot smuggle an arbitrary filesystem path through the
    * parquet loader. Returns the normalised path or the 422 message. */
  private def resolveDataPath(dir: String): Either[String, String] =
    dataRoot match {
      case None => Right(dir)
      case Some(root) =>
        val rootP = java.nio.file.Paths.get(root).toAbsolutePath.normalize()
        val p = rootP.resolve(dir).toAbsolutePath.normalize()
        // Walk up to the deepest existing ancestor and canonicalise it:
        // the not-yet-existing tail cannot host a symlink, so real-path
        // containment of the existing prefix is containment of the whole.
        var existing = p
        while (existing != null && !java.nio.file.Files.exists(
            existing, java.nio.file.LinkOption.NOFOLLOW_LINKS))
          existing = existing.getParent
        val contained =
          try {
            val realRoot = rootP.toRealPath()
            existing != null && existing.toRealPath().startsWith(realRoot) &&
              p.startsWith(rootP)
          } catch { case _: java.io.IOException => false }
        if (contained) Right(p.toString)
        else Left(s"dataPath must resolve under the configured data root")
    }

  // ---- minimal JSON (flat objects; strings/numbers/booleans) -----------

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jval(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => jval(x)
    case s: String => jstr(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) jstr(d.toString) else d.toString
    case m: Map[_, _] => jobj(m.asInstanceOf[Map[String, Any]])
    case xs: Seq[_] => xs.map(jval).mkString("[", ",", "]")
    case other => other.toString
  }

  private def jobj(fields: Map[String, Any]): String =
    fields.map { case (k, v) => jstr(k) + ":" + jval(v) }.mkString("{", ",", "}")

  /** Flat-JSON field extraction for request bodies — the calculate
    * payload is a flat object of scalars, so a targeted scan suffices
    * (no nested-JSON parser). A nested value (object/array) for a
    * requested key is rejected by the caller as a 422 via
    * [[isNestedValue]]. */
  private def jsonField(body: String, key: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(key) +
        "\"\\s*:\\s*(\"((?:[^\"\\\\]|\\\\.)*)\"|[^,}\\s]+)")
      .matcher(body)
    if (m.find()) Option(m.group(2)).orElse(Option(m.group(1))) else None
  }

  private def isNestedValue(v: String): Boolean =
    v.startsWith("{") || v.startsWith("[")

  /** Unescape a JSON string literal's body (the flat-JSON field codec
    * returns it raw) — needed for multi-line fields like an inline
    * reconciliation mapping TOML. */
  private def junescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def respond(ex: HttpExchange, status: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def error(ex: HttpExchange, status: Int, message: String): Unit =
    respond(ex, status, jobj(Map("error" -> message)))

  /** Stream a server-built file back for download (the reference's
    * `FileResponse` shape): the path is always a fresh server temp
    * location — user-supplied ids never reach the filesystem path. */
  /** Delete an export temp tree; responses are fully buffered before
    * streaming, so artifacts never outlive their request. */
  private def deleteTree(root: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }

  private def respondFile(
      ex: HttpExchange, path: java.nio.file.Path, filename: String,
      contentType: String): Unit = {
    val bytes = java.nio.file.Files.readAllBytes(path)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.getResponseHeaders.set("Content-Disposition",
      s"""attachment; filename="$filename"""")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Zip a directory's files (relative paths) into `zipPath`. */
  private def zipDir(dir: java.nio.file.Path, zipPath: java.nio.file.Path): Unit = {
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(zipPath))
    val walk = java.nio.file.Files.walk(dir)
    try {
      val files = walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toSeq
        .sortBy(_.toString)
      files.foreach { f =>
        zos.putNextEntry(new java.util.zip.ZipEntry(dir.relativize(f).toString))
        zos.write(java.nio.file.Files.readAllBytes(f))
        zos.closeEntry()
      }
    } finally { zos.close(); walk.close() }
  }

  private def rowsAsJson(df: DataFrame, limit: Int): String = {
    val cols = df.columns.toSeq
    val rows = df.limit(limit).collect().toSeq.map { r =>
      jobj(cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
    }
    rows.mkString("[", ",", "]")
  }

  // ---- routes ----------------------------------------------------------

  private def handle(path: String)(fn: HttpExchange => Unit): Unit =
    server.createContext(path, (ex: HttpExchange) =>
      try fn(ex)
      catch { case e: Throwable => error(ex, 500, Option(e.getMessage).getOrElse("internal error")) }
      finally graft.SessionScope.endQuery(spark))

  handle("/api/frameworks") { ex =>
    respond(ex, 200, jval(Seq(
      Map[String, Any]("id" -> "CRR", "description" -> "current regime rulepack"),
      Map[String, Any]("id" -> "BASEL_3_1", "description" -> "candidate regime rulepack"))))
  }

  handle("/api/validate") { ex =>
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    jsonField(body, "dataPath") match {
      case None => error(ex, 422, "dataPath is required")
      case Some(dir) if isNestedValue(dir) =>
        error(ex, 422, "dataPath must be a flat string value")
      case Some(dir) => resolveDataPath(dir) match {
        case Left(msg) => error(ex, 422, msg)
        case Right(path) =>
          val cfg = CalcConfig(dataPath = path)
          val res = new CreditRiskCalc(spark, cfg).calculate()
          // /validate results never enter the run store, so they carry
          // no eviction accounting: release the memos this validation
          // made unless a STORED run reads them — otherwise repeated
          // validates on distinct paths grow the Spark cache and the memo
          // table without bound.
          runs.synchronized(releaseUnread(cfg, runs.values.asScala.toList))
          respond(ex, 200, jobj(Map(
            "valid" -> res.errors.isEmpty,
            "errors" -> res.errors.map(e => Map[String, Any](
              "code" -> e.code, "message" -> e.message)))))
      }
    }
  }

  handle("/api/calculate") { ex =>
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    jsonField(body, "dataPath") match {
      case None => error(ex, 422, "dataPath is required")
      case Some(dir) if isNestedValue(dir) =>
        error(ex, 422, "dataPath must be a flat string value")
      case Some(dir0) => resolveDataPath(dir0) match {
        case Left(msg) => error(ex, 422, msg)
        case Right(dir) =>
        val mode = jsonField(body, "permissionMode").getOrElse("irb")
        val framework = jsonField(body, "framework").getOrElse("CRR")
        try {
          // "has this exact calculation already been run?" — the
          // pre-run fingerprint (params + input-file stat signature)
          // reuses the indexed run when nothing on disk changed
          // (reference api/run_index.py; UI calculation-worker reuse)
          val fp = runIndex.fingerprint(dir,
            Map("permissionMode" -> mode, "framework" -> framework))
          runIndex.findReusable(fp)
            .flatMap(id => Option(runs.get(id)).map(id -> _)) match {
            case Some((id, prev)) =>
              respond(ex, 200, jobj(Map(
                "run_id" -> id, "success" -> prev.success,
                "total_rwa" -> prev.totalRwa, "reused" -> true,
                "errors" -> prev.errors.map(_.code))))
            case None =>
              val cfg = CalcConfig(dataPath = dir, permissionMode = mode,
                framework = framework)
              val res = new CreditRiskCalc(spark, cfg).calculate()
              val runId = s"run-${runSeq.incrementAndGet()}"
              runs.put(runId, res)
              if (res.success) runIndex.register(fp, runId)
              respond(ex, 200, jobj(Map(
                "run_id" -> runId, "success" -> res.success,
                "total_rwa" -> res.totalRwa, "reused" -> false,
                "errors" -> res.errors.map(_.code))))
          }
        } catch {
          case e: IllegalArgumentException => error(ex, 422, e.getMessage)
        }
      }
    }
  }

  private def withRun(ex: HttpExchange)(fn: CalculationResult => Unit): Unit =
    queryParams(ex).get("run_id").flatMap(id => Option(runs.get(id))) match {
      case None => error(ex, 404, "unknown run_id")
      case Some(res) => fn(res)
    }

  handle("/api/results") { ex =>
    withRun(ex) { res =>
      val p = queryParams(ex)
      val offsetOpt = p.getOrElse("offset", "0").toIntOption.filter(_ >= 0)
      val limitOpt = p.getOrElse("limit", "100").toIntOption.filter(_ > 0)
      ((offsetOpt, limitOpt, res.summary): @unchecked) match {
        case (None, _, _) | (_, None, _) =>
          error(ex, 422, "offset must be a non-negative int, limit a positive int")
        case (Some(_), Some(_), None) => error(ex, 404, "run has no summary")
        case (Some(offset), Some(l), Some(sm)) =>
          val limit = math.min(l, 1000)
          // Keyset pagination on the summary's natural sort key
          // (class|approach): `after` filters strictly past the cursor
          // INSIDE the plan, so driver memory holds only the page — the
          // scale path. `offset` mode runs a row_number filter in the
          // plan for the same reason (the old limit(offset+n).collect()
          // .drop(offset) grew driver memory with offset depth).
          val pageKey = concat_ws("|", col("exposure_class"), col("approach"))
          val keyed = sm.withColumn("_page_key", pageKey)
          val page0 = p.get("after") match {
            case Some(cursor) =>
              keyed.filter(col("_page_key") > cursor)
                .orderBy(col("_page_key")).limit(limit)
            case None =>
              val w = org.apache.spark.sql.expressions.Window
                .orderBy(col("_page_key"))
              keyed.withColumn("_rn", row_number().over(w))
                .filter(col("_rn") > offset && col("_rn") <= offset + limit)
                .drop("_rn")
          }
          val cols = sm.columns.toSeq
          val page = page0.collect().toSeq
          val nextAfter = page.lastOption
            .map(_.getAs[String]("_page_key")).orNull
          respond(ex, 200, jobj(Map(
            "offset" -> offset, "n" -> page.size,
            "next_after" -> nextAfter,
            "rows" -> page.map(r =>
              cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap))))
      }
    }
  }

  handle("/api/results/summary") { ex =>
    withRun(ex) { res =>
      val dim = queryParams(ex).getOrElse("dimension", "class") match {
        case "class" => "exposure_class"
        case "approach" => "approach"
        case _ => null
      }
      if (dim == null) error(ex, 422, "dimension must be class or approach")
      else res.ledger match {
        case None => error(ex, 404, "run has no ledger")
        case Some(led) =>
          val grouped = led.groupBy(col(dim)).agg(
            count(lit(1)).as("n_exposures"),
            sum(col("rwa")).as("total_rwa")).orderBy(col(dim))
          respond(ex, 200, rowsAsJson(grouped, 100))
      }
    }
  }

  handle("/api/lineage") { ex =>
    withRun(ex) { res =>
      queryParams(ex).get("exposure") match {
        case None => error(ex, 422, "exposure is required")
        case Some(ref) => res.ledger match {
          case None => error(ex, 404, "run has no ledger")
          case Some(led) =>
            // the drill-down filter pushes into the ledger plan
            respond(ex, 200,
              rowsAsJson(led.filter(col("exposure_reference") === ref), 10))
        }
      }
    }
  }

  // Cell-keyed drill-down (reference `reporting/lineage.py`: every
  // published template keys its execution plan, so ANY reported cell is
  // drillable). The cell id dispatches through the estate-wide
  // `reporting.Lineage` registry (C 07 / C 08.01 / the C 08.02-03 band
  // grids / C 09.01-02 / C 02 / CR4 / CR9); the response re-derives the
  // template's working frame and re-evaluates the cell's measure over
  // its predicate slice — the reported value and the rows behind it
  // come from the same shared specs, so they cannot drift apart.
  // (`/api/lineage/cell` outranks `/api/lineage` by longest-prefix
  // context matching.)
  handle("/api/lineage/cell") { ex =>
    withRun(ex) { res =>
      queryParams(ex).get("cell") match {
        case None => error(ex, 422, "cell is required")
        case Some(cellId) => res.ledger match {
          case None => error(ex, 404, "run has no ledger")
          case Some(led) =>
            graft.reporting.Lineage.resolve(cellId) match {
              case None => error(ex, 404,
                s"unknown or formula cell: $cellId")
              case Some(cell) =>
                val slice = cell.prepare(led).filter(cell.predicate)
                // decimal accumulation exactly as the sheet's wideRow, so
                // the drilled value matches the published cell bit-for-bit;
                // distinct-keyed cells (CR9 obligor counts) count instead
                val value = cell.distinctKey match {
                  case Some(k) =>
                    slice.agg(countDistinct(k).as("v")).head.get(0)
                  case None => Option(slice.agg(
                    sum(cell.measure.cast(
                      org.apache.spark.sql.types.DecimalType(38, cell.scale)))
                      .cast("double").as("v"))
                    .head.get(0)).getOrElse(0.0: Any)
                }
                // template working frames differ in carried columns
                // (the CR5 leg fan has no approach column); preview
                // whatever identity columns the frame provides
                val idCols = Seq("exposure_reference", "exposure_class",
                    "row_class", "approach")
                  .filter(slice.columns.contains).map(col)
                val preview = slice.select(
                  idCols :+ cell.measure.cast("double").as("measure"): _*)
                respond(ex, 200,
                  s"""{"cell_id":${jstr(cellId)},"value":${jval(value)},""" +
                  s""""n_rows":${slice.count()},""" +
                  s""""rows":${rowsAsJson(preview, 10)}}""")
            }
        }
      }
    }
  }

  // ---- template estate (reference `api/rest.py:325-370`) ---------------

  import graft.reporting.{TemplateCatalog, WorkbookExport}

  private def templateJson(t: TemplateCatalog.TemplateInfo): Map[String, Any] =
    Map("id" -> t.id, "family" -> t.family, "title" -> t.title,
      "query" -> t.query, "sheet_col" -> t.sheetCol)

  /** `/api/templates` lists the estate's catalog (cheap — no sheet is
    * built); `/api/templates/{id}` builds (bundle-cached) and returns
    * one template's rows, with `?sheet=` selecting a per-key sheet of a
    * sheeted template. Longest-prefix routing sends both here. */
  handle("/api/templates") { ex =>
    val sub = ex.getRequestURI.getPath.stripPrefix("/api/templates")
      .stripPrefix("/")
    if (sub.isEmpty) withRun(ex) { res =>
      val fam = queryParams(ex).get("family")
      val ts = TemplateCatalog.index
        .filter(t => fam.forall(_ == t.family))
      respond(ex, 200, jobj(Map(
        "framework" -> res.config.framework,
        "templates" -> ts.map(templateJson))))
    } else withRun(ex) { res =>
      TemplateCatalog.info(sub) match {
        case None => error(ex, 404, s"unknown template: $sub")
        case Some(t) =>
          val df0 = TemplateCatalog.sheet(spark, res.config.dataPath, t.id).get
          val sheetSel = queryParams(ex).get("sheet")
          val df = (t.sheetCol, sheetSel) match {
            case (Some(c), Some(k)) => df0.filter(col(c) === k)
            case _ => df0
          }
          // a sheet selector on an unsheeted template must not echo
          // back the full frame as if the slice existed
          if (sheetSel.nonEmpty && t.sheetCol.isEmpty)
            error(ex, 404, s"template $sub has no sheet axis")
          else if (sheetSel.nonEmpty && df.isEmpty)
            error(ex, 404, s"unknown sheet for $sub: ${sheetSel.get}")
          else {
            val banner = graft.reporting.TemplateCatalog.banner(t.id)
            respond(ex, 200, jobj(Map(
              "template" -> templateJson(t),
              "sheet" -> sheetSel,
              "columns" -> df.columns.toSeq.map(c => Map[String, Any](
                "ref" -> c, "name" -> banner.getOrElse(c, c))),
              "n_rows" -> df.count(),
              "rows" -> rawRows(df, 1000))))
          }
      }
    }
  }

  private def rawRows(df: DataFrame, limit: Int): Seq[Map[String, Any]] = {
    val cols = df.columns.toSeq
    df.limit(limit).collect().toSeq.map(r =>
      cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
  }

  // ---- supervisory validations (reference `api/rest.py:370-427`) -------

  /** "Can this run be submitted?" against the machine-translated
    * EBA/BoE validation catalogue (q159's frame, bundle-cached):
    * `is_submittable` is false whenever any Error-severity rule breaks.
    * Broken rules are data, not faults — always a 200. */
  handle("/api/validations") { ex =>
    withRun(ex) { res =>
      val cat = if (res.config.framework == "BASEL_3_1") "b31" else "crr"
      val publisher = if (cat == "crr") "EBA" else "BoE"
      val frame = graft.reporting.TemplateBundle.generated(
        spark, res.config.dataPath, "catalogue159",
        graft.SparkEntry.queries("q159_validation_catalogue")(
          spark, res.config.dataPath))
        .filter(col("catalogue") === cat)
      val counts = frame.groupBy(col("severity"), col("status"))
        .count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      def n(sev: String, st: String) = counts.getOrElse((sev, st), 0L)
      val blocking = n("ERROR", "fail")
      val warning = n("WARNING", "fail")
      def breaks(sev: String) = rawRows(
        frame.filter(col("severity") === sev && col("status") === "fail")
          .select(col("rule_id"), col("instance"),
            col("lhs_total"), col("rhs_total"))
          .orderBy(col("rule_id"), col("instance")), 50)
      val reasons = frame.filter(col("status") === "not_evaluated")
        .groupBy(coalesce(col("reason"), lit("unspecified")).as("reason"))
        .count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      respond(ex, 200, jobj(Map(
        "framework" -> res.config.framework,
        "publisher" -> publisher,
        "is_submittable" -> (blocking == 0L),
        "was_checked" -> counts.nonEmpty,
        "counts" -> Map[String, Any](
          "rules_executed" -> counts.values.sum,
          "passed" -> (n("ERROR", "pass") + n("WARNING", "pass")),
          "failed" -> (blocking + warning),
          "vacuous" -> (n("ERROR", "vacuous") + n("WARNING", "vacuous")),
          "not_triggered" -> (n("ERROR", "not_triggered") + n("WARNING", "not_triggered")),
          "not_evaluated" -> (n("ERROR", "not_evaluated") + n("WARNING", "not_evaluated")),
          "blocking" -> blocking, "warning" -> warning),
        "blocking_breaks" -> breaks("ERROR"),
        "warning_breaks" -> breaks("WARNING"),
        "not_evaluated_reasons" -> reasons)))
    }
  }

  // ---- framework comparison (reference `api/rest.py:530-577`) ----------

  /** CRR vs Basel 3.1 over one dataset. Spark-first divergence from the
    * reference (which runs the pipeline twice): the engine computes both
    * regimes as shadow columns in ONE ledger pass, so the response
    * carries one delta table and per-regime totals rather than two
    * separately registered run ids. */
  handle("/api/comparison") { ex =>
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    jsonField(body, "dataPath") match {
      case None => error(ex, 422, "dataPath is required")
      case Some(dir) if isNestedValue(dir) =>
        error(ex, 422, "dataPath must be a flat string value")
      case Some(dir0) => resolveDataPath(dir0) match {
        case Left(msg) => error(ex, 422, msg)
        case Right(dir) =>
          val cmp = graft.SparkEntry.queries("q86_run_comparison")(spark, dir)
          val rows = rawRows(cmp, 100)
          val headline = rows.headOption.getOrElse(Map.empty)
          respond(ex, 200, jobj(Map(
            "crr" -> Map[String, Any](
              "total_rwa" -> headline.getOrElse("total_rwa_base", null)),
            "basel_3_1" -> Map[String, Any](
              "total_rwa" -> {
                val b = headline.get("total_rwa_base")
                val d = headline.get("total_delta_rwa")
                (b, d) match {
                  case (Some(bn: java.lang.Number), Some(dn: java.lang.Number)) =>
                    bn.doubleValue() + dn.doubleValue()
                  case _ => null
                }
              }),
            "deltas" -> rows)))
      }
    }
  }

  // ---- reconciliation (reference `api/rest.py:579-650`) ----------------

  /** Reconcile against a mapped legacy output. The mapping rides inline
    * as `mappingToml` (the reference's `mapping_toml`); `runId`, when
    * set, reuses the stored calculation instead of re-running. Returns
    * the bounded tiers; the wide forensic frame is downloaded via
    * `/api/reconcile/export/{fmt}`. */
  handle("/api/reconcile/export") { ex =>
    val fmt = ex.getRequestURI.getPath
      .stripPrefix("/api/reconcile/export").stripPrefix("/")
    queryParams(ex).get("recon_id")
      .flatMap(id => Option(recons.get(id))) match {
      case None => error(ex, 404, "unknown recon_id")
      case Some(r) =>
        val tmp = java.nio.file.Files.createTempDirectory("graft_recon_export")
        try fmt match {
          case "excel" =>
            val out = tmp.resolve("reconciliation.xlsx")
            WorkbookExport.reconWorkbook(r, out.toString)
            respondFile(ex, out, "reconciliation.xlsx",
              "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet")
          case "csv" =>
            val outDir = tmp.resolve("csv")
            WorkbookExport.reconCsv(r, outDir.toString)
            val zip = tmp.resolve("reconciliation_csv.zip")
            zipDir(outDir, zip)
            respondFile(ex, zip, "reconciliation_csv.zip", "application/zip")
          case other => error(ex, 404, s"unknown export format: $other")
        } finally deleteTree(tmp)
    }
  }

  handle("/api/reconcile") { ex =>
    if (ex.getRequestURI.getPath.stripPrefix("/api/reconcile")
        .stripPrefix("/").nonEmpty)
      error(ex, 404, "not found")
    else {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      (jsonField(body, "dataPath"), jsonField(body, "mappingToml")) match {
        case (None, _) => error(ex, 422, "dataPath is required")
        case (_, None) => error(ex, 422, "mappingToml is required")
        case (Some(dir0), Some(tomlRaw)) => resolveDataPath(dir0) match {
          case Left(msg) => error(ex, 422, msg)
          case Right(dir) =>
            try {
              val settings = ReconConfig.loads(junescape(tomlRaw),
                java.nio.file.Paths.get(dir))
              // the mapping's legacy_file is caller input too: under a
              // configured dataRoot it must resolve inside the root, or
              // the TOML would smuggle an arbitrary path past the gate
              resolveDataPath(settings.legacyFile) match {
                case Left(msg) => error(ex, 422, s"legacy_file: $msg")
                case Right(_) =>
                  val runIdReq = jsonField(body, "runId")
                  val prior = runIdReq.flatMap(id => Option(runs.get(id)))
                  if (runIdReq.nonEmpty && prior.isEmpty)
                    // a named run that is unknown (or LRU-evicted) must
                    // not silently reconcile under a fresh default
                    // config — the breaks would be against the wrong
                    // ledger with no indication
                    error(ex, 404, s"unknown run: ${runIdReq.get}")
                  else {
                  val cfg = prior.map(_.config)
                    .getOrElse(CalcConfig(dataPath = dir))
                  val result = new CreditRiskCalc(spark, cfg)
                    .reconcile(settings, prior)
                  if (!result.success)
                    respond(ex, 200, jobj(Map("success" -> false,
                      "errors" -> result.errors.map(e => Map[String, Any](
                        "code" -> e.code, "message" -> e.message)))))
                  else {
                    val reconId = s"recon-${reconSeq.incrementAndGet()}"
                    recons.put(reconId, result)
                    val summaryRows = rawRows(result.summary.get, 100)
                    val hasBreaks = summaryRows.exists(r =>
                      r.get("row_bucket").exists(_ != "exact_match") &&
                        r.get("n").exists { case n: Long => n > 0; case _ => false })
                    respond(ex, 200, jobj(Map(
                      "recon_id" -> reconId, "success" -> true,
                      "has_breaks" -> hasBreaks,
                      "summary_by_bucket" -> summaryRows,
                      "worklist" -> rawRows(result.worklist.get, 100))))
                  }
                  }
              }
            } catch {
              case e: IllegalArgumentException =>
                error(ex, 422, s"invalid reconciliation config: ${e.getMessage}")
            }
        }
      }
    }
  }

  // ---- run export (reference `api/rest.py:652-726`) --------------------

  /** Export a completed run and stream it back: raw frames (parquet/
    * csv zips, a summary excel), the COREP / Pillar 3 multi-sheet
    * workbooks, or the flat cell-fact feed (ndjson / parquet zip). All
    * on-disk paths are fresh server temp dirs + names stamped from
    * server-validated run data — the caller's run_id never reaches the
    * filesystem path. */
  handle("/api/export") { ex =>
    val fmt = ex.getRequestURI.getPath.stripPrefix("/api/export").stripPrefix("/")
    withRun(ex) { res =>
      val stamp = s"${res.config.framework}_${res.config.reportingDate}"
      val tmp = java.nio.file.Files.createTempDirectory("graft_export")
      try fmt match {
        case "parquet" | "csv" =>
          val outDir = tmp.resolve(fmt)
          java.nio.file.Files.createDirectories(outDir)
          val frames = Seq("ledger" -> res.ledger, "summary" -> res.summary)
            .collect { case (n, Some(df)) => n -> df }
          frames.foreach { case (n, df) =>
            if (fmt == "parquet")
              graft.sources.Sinks.writeParquet(df, outDir.resolve(n).toString)
            else graft.sources.Sinks.writeCsv(df, outDir.resolve(n).toString)
          }
          val zip = tmp.resolve(s"results_${stamp}_$fmt.zip")
          zipDir(outDir, zip)
          respondFile(ex, zip, zip.getFileName.toString, "application/zip")
        case "excel" =>
          res.summary match {
            case None => error(ex, 404, "run has no summary")
            case Some(sm) =>
              val out = tmp.resolve(s"results_$stamp.xlsx")
              graft.reporting.XlsxWriter.writeWorkbook(Seq(
                graft.reporting.XlsxWriter.Sheet("Summary", sm)), out.toString)
              respondFile(ex, out, out.getFileName.toString,
                "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet")
          }
        case "corep" | "pillar3" =>
          val out = tmp.resolve(s"${fmt}_$stamp.xlsx")
          val metadata = Seq(
            "Framework" -> res.config.framework,
            "Reporting date" -> res.config.reportingDate.toString,
            "Permission mode" -> res.config.permissionMode,
            "Generator" -> "graft")
          if (fmt == "corep")
            WorkbookExport.corepWorkbook(spark, res.config.dataPath,
              out.toString, metadata)
          else WorkbookExport.pillar3Workbook(spark, res.config.dataPath,
            out.toString, metadata)
          respondFile(ex, out, out.getFileName.toString,
            "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet")
        case "corep_facts_ndjson" | "corep_facts_parquet" =>
          val facts = graft.SparkEntry.queries("q170_cell_facts")(
            spark, res.config.dataPath)
          if (fmt == "corep_facts_ndjson") {
            val out = tmp.resolve(s"corep_facts_$stamp.ndjson")
            val lines = facts.toJSON.collect()
            java.nio.file.Files.write(out,
              lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
            respondFile(ex, out, out.getFileName.toString, "application/x-ndjson")
          } else {
            val outDir = tmp.resolve("facts")
            graft.sources.Sinks.writeParquet(facts, outDir.toString)
            val zip = tmp.resolve(s"corep_facts_$stamp.zip")
            zipDir(outDir, zip)
            respondFile(ex, zip, zip.getFileName.toString, "application/zip")
          }
        case other => error(ex, 404, s"unknown export format: $other")
      } finally deleteTree(tmp)
    }
  }

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  def boundPort: Int = server.getAddress.getPort
}
