package lakebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.Pipeline
import graft.serve.{QueryRegistry, ResultCache}

/** What a workload measured. `e2e` holds every end-to-end metric but
  * `setup_s`, which the caller assembles from the one-off set-up steps
  * (seconds by step) and the median of the repeated lake builds. */
final case class Outcome(oneOff: Map[String, Double], buildS: Seq[Double],
    e2e: Map[String, Double], named: Map[String, Any])

/** The benchmark's two workloads. */
object Workloads {
  /** Day-0 history: 200 suppliers, 12k customers, 60k transactions. */
  val Initial = Load(newTx = 60000, corrections = 0, custUpdates = 0,
    custNew = 12000, supUpdates = 0, supNew = 200)
  /** etl_daily's delta: mostly new transactions, 10% corrections, and
    * small customer and supplier changes. */
  val Daily = Load(newTx = 10000, corrections = 1000, custUpdates = 100,
    custNew = 20, supUpdates = 3, supNew = 1)
  /** analyst_mix's trickle: a fact-only upsert. */
  val Trickle = Load(newTx = 2000, corrections = 200, custUpdates = 0,
    custNew = 0, supUpdates = 0, supNew = 0)
  val WarmInitial = Load(5000, 0, 0, 1000, 0, 50)
  val WarmDaily = Load(1000, 100, 20, 5, 2, 1)
  /** Set-up is repeated this often and its median reported. */
  val Builds = 3
  /** analyst_mix's request schedule, the same for every seed so that the
    * mix (and with it the cache's hits and misses) is too: the steps
    * repeat dashboard, ad-hoc, dashboard, report; dashboards cycle
    * through the three registry queries, ad-hoc requests through the
    * templates, reports through their list; an upsert follows every
    * `UpsertEvery` steps. */
  val Schedule = "DADR"
  val UpsertEvery = 12

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Loads day 0 into a fresh lake. */
  private def build(r: Run, dir: Path, model: LakeModel, initial: Load): Lake = {
    val lake = new Lake(dir)
    val landed = model.land(0, initial)
    landed.writeTo(lake.landing)
    Lake.loadBatch(r.spark, lake, model, 0, landed, r.tr, 0)
    lake
  }

  /** Set-up shared by both workloads. An untimed first pass on a small
    * throwaway lake (a load, a delta and a warehouse check) takes the JIT,
    * codegen and first-use class loading. Then the starting lake is built
    * `Builds` times (each from the same seed, into a fresh directory) and
    * the last one kept, and one `settle` batch of the loop's own size is
    * loaded into it: without it the loop's first batch runs measurably
    * slower than the rest. Returns the lake, its model, the build times
    * and the seconds of the one-off steps. */
  private def setUp(r: Run, settle: Load)
      : (Lake, LakeModel, Seq[Double], Map[String, Double]) = {
    val (_, warmS) = secondsOf {
      val model = new LakeModel(r.seed ^ 0x5eedL)
      val lake = build(r, r.work.resolve("warm"), model, WarmInitial)
      val landed = model.land(1, WarmDaily)
      landed.writeTo(lake.landing)
      Lake.loadBatch(r.spark, lake, model, 1, landed, r.tr, 0)
      Lake.checkWarehouse(r.spark, lake, model)
        .foreach(m => r.note(s"warm-up mismatch: $m"))
      Run.delete(lake.root)
    }
    val timed = (1 to Builds).map { i =>
      secondsOf {
        val model = new LakeModel(r.seed)
        (build(r, r.work.resolve(s"lake-$i"), model, Initial), model)
      }
    }
    timed.init.foreach { case ((lake, _), _) => Run.delete(lake.root) }
    val ((lake, model), _) = timed.last
    val (_, settleS) = secondsOf {
      val landed = model.land(1, settle)
      landed.writeTo(lake.landing)
      Lake.loadBatch(r.spark, lake, model, 1, landed, r.tr, 0)
    }
    (lake, model, timed.map(_._2), Map("warm_s" -> warmS, "settle_s" -> settleS))
  }

  /** Untimed serve calls on the starting lake, through a throwaway cache:
    * each dashboard twice (the miss path, then the hit path), its
    * fingerprint, and one ad-hoc request of each template. */
  private def warmServe(r: Run, lake: Lake, model: LakeModel, adhoc: Adhoc): Double =
    secondsOf {
      Pipeline.registerWarehouse(r.spark, lake.warehouse)
      val cache = r.work.resolve("warm-cache")
      (1 to 2).foreach { _ =>
        QueryRegistry.namedQueries.keys.foreach { n =>
          QueryRegistry.cached(r.spark, n, cache.toString).collect()
          ResultCache.fingerprint(QueryRegistry.run(r.spark, n))
        }
      }
      val rnd = new Random(r.seed ^ 0x5eedL)
      (0 until Adhoc.Templates.size).foreach { i =>
        val q = adhoc.next(rnd, model, i)
        val f = r.work.resolve(s"warm-${q.template}.sql")
        Files.writeString(f, q.sql)
        QueryRegistry.runSqlFile(r.spark, f.toString).collect()
      }
      Run.delete(cache)
    }._2

  /** Lands one batch and loads it, accounting the files it wrote to the
    * processed and warehouse zones. Returns (latency, bytes written) if
    * the load and the warehouse check both passed. */
  private def loadAndCheck(r: Run, kind: String, lake: Lake, model: LakeModel,
      day: Int, load: Load, after: => Unit): Option[(Double, Long, Landed)] = {
    val landed = model.land(day, load)
    landed.writeTo(lake.landing)
    val req = r.request()
    r.batches(req) = Lake.stats(landed)
    val zones = Seq(Path.of(lake.processed), Path.of(lake.warehouse))
    val before = Lake.listing(zones: _*)
    r.attempt(kind) {
      r.tr.span(kind, "harness", req) {
        Lake.loadBatch(r.spark, lake, model, day, landed, r.tr, req)
        after
      }
    }.flatMap { case (_, dt) =>
      val bytes = Lake.written(before, Lake.listing(zones: _*))
      if (r.verify(kind, req, dt, kind)(Lake.checkWarehouse(r.spark, lake, model)))
        Some((dt, bytes, landed))
      else None
    }
  }

  def etlDaily(r: Run): Outcome = {
    val (lake, model, buildS, oneOff) = setUp(r, Daily)
    var landedBytes, writtenBytes, rows = 0L
    var day = 2
    r.startLoop()
    while (day == 2 || r.elapsed < r.seconds) {
      loadAndCheck(r, "batch", lake, model, day, Daily, ()).foreach {
        case (_, bytes, landed) =>
          writtenBytes += bytes; landedBytes += landed.bytes; rows += landed.rows
      }
      day += 1
    }
    r.endLoop()
    val lat = r.op("batch").seconds.toSeq
    val spaceAmp = Lake.spaceAmp(lake, Nil)
    val writeAmp = writtenBytes.toDouble / math.max(1L, landedBytes)
    val rowsPerS = rows / math.max(1e-9, lat.sum)
    Outcome(oneOff, buildS,
      Map("op_geomean_ms" -> Run.geomeanOfMedians(r.byKind.values.map(_.toSeq)) * 1000,
        "work_per_s" -> rowsPerS,
        "write_amp" -> writeAmp),
      Map("etl_batch_p50_s" -> Run.median(lat),
        "etl_batch_tail_s" -> tailOf(lat),
        "etl_rows_per_s" -> rowsPerS, "etl_write_amp" -> writeAmp,
        "lake_space_amp" -> spaceAmp, "batches" -> lat.size, "batch_s" -> lat,
        "warehouse_rows" -> model.tx.size))
  }

  private def tailOf(xs: Seq[Double]): Map[String, Any] =
    Run.tail(xs) match {
      case Some((p, v)) => Map("percentile" -> p, "value" -> v, "n" -> xs.size)
      case None => Map("percentile" -> "none: fewer than 20 samples", "n" -> xs.size)
    }

  private def cacheEntries(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith("_tmp")).toSet
      finally s.close()
    }

  def analystMix(r: Run): Outcome = {
    val (lake, model, buildS, oneOff) = setUp(r, Trickle)
    val adhoc = new Adhoc(r.sqlDir)
    val serveS = warmServe(r, lake, model, adhoc)
    val ((reportDir, reportRows), reportS) = secondsOf(Reports.prepare(r))
    // an explicit, fresh cache directory: the default one outlives the
    // process, and a second run's first dashboard request would hit
    val cacheDir = r.work.resolve("result-cache")
    Files.createDirectories(cacheDir)
    val sqlFiles = r.work.resolve("adhoc")
    Files.createDirectories(sqlFiles)
    val rnd = new Random(r.seed)
    val dashboards = QueryRegistry.namedQueries.keys.toSeq.sorted
    var landedBytes, writtenBytes = 0L
    var step, dashboardsRun, adhocRun, reports = 0
    var day = 1

    def dashboard(): Unit = {
      val name = dashboards(dashboardsRun % dashboards.size)
      dashboardsRun += 1
      val req = r.request()
      val before = cacheEntries(cacheDir)
      r.attempt("dashboard") {
        r.tr.span("request", "harness", req) {
          r.tr.span(s"cached.$name", "serve", req)(
            QueryRegistry.cached(r.spark, name, cacheDir.toString).collect().toSeq)
        }
      }.foreach { case (rows, dt) =>
        val hit = cacheEntries(cacheDir) == before
        r.cacheHit(req) = hit
        r.verify("dashboard", req, dt, s"dashboard.$name.${if (hit) "hit" else "miss"}")(
          Lake.checkRegistry(name, rows, model))
      }
      // the fingerprint alone, outside the request: traced runs only
      if (r.tr.enabled)
        r.tr.span(s"fingerprint.$name", "serve", req)(
          ResultCache.fingerprint(QueryRegistry.run(r.spark, name)))
    }

    def adhocRequest(): Unit = {
      val q = adhoc.next(rnd, model, adhocRun)
      adhocRun += 1
      val req = r.request()
      val file = sqlFiles.resolve(s"req-$req.sql")
      Files.writeString(file, q.sql)
      r.attempt("adhoc") {
        r.tr.span("request", "harness", req) {
          r.tr.span(s"runSqlFile.${q.template}", "serve", req)(
            QueryRegistry.runSqlFile(r.spark, file.toString).collect().toSeq)
        }
      }.foreach { case (rows, dt) =>
        r.verify("adhoc", req, dt, s"adhoc.${q.template}")(q.check(rows))
      }
    }

    r.startLoop()
    // at least one of each report, so every report is timed each run
    while (r.elapsed < r.seconds || reports < Reports.Queries.size) {
      Schedule(step % Schedule.length) match {
        case 'D' => dashboard()
        case 'A' => adhocRequest()
        case 'R' => Reports.run(r, reportDir, reportRows, reports); reports += 1
      }
      step += 1
      if (step % UpsertEvery == 0) {
        day += 1
        loadAndCheck(r, "upsert", lake, model, day, Trickle,
          Pipeline.registerWarehouse(r.spark, lake.warehouse)).foreach {
          case (_, bytes, landed) =>
            writtenBytes += bytes; landedBytes += landed.bytes
        }
      }
    }
    r.endLoop()
    val cacheBytes = Lake.bytesUnder(cacheDir)
    val dash = r.op("dashboard").seconds.toSeq
    val adh = r.op("adhoc").seconds.toSeq
    val ups = r.op("upsert").seconds.toSeq
    val rep = r.op("report").seconds.toSeq
    val all = dash ++ adh ++ rep
    val qps = all.size / math.max(1e-9, all.sum + ups.sum)
    val geomean = Run.geomeanOfMedians(r.byKind.values.map(_.toSeq)) * 1000
    val writeAmp = (writtenBytes + cacheBytes).toDouble / math.max(1L, landedBytes)
    Outcome(oneOff ++ Map("serve_warm_s" -> serveS, "report_prep_s" -> reportS), buildS,
      Map("op_geomean_ms" -> geomean, "work_per_s" -> qps,
        "write_amp" -> writeAmp),
      Map("query_p50_ms" -> Run.median(all) * 1000,
        "query_tail_ms" -> tailOf(all.map(_ * 1000)),
        "queries_per_s" -> qps,
        "dashboard_p50_ms" -> Run.median(dash) * 1000,
        "adhoc_p50_ms" -> Run.median(adh) * 1000,
        "report_p50_s" -> Run.median(rep),
        "report_rows" -> reportRows,
        "upsert_p50_s" -> Run.median(ups),
        "etl_write_amp" -> writeAmp,
        "lake_space_amp" -> Lake.spaceAmp(lake, Seq(cacheDir)),
        "requests" -> all.size, "reports" -> reports,
        "upserts" -> ups.size,
        "cache_entries" -> cacheEntries(cacheDir).size))
  }
}
