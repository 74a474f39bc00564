package lakebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload of the lake benchmark and prints its result as the
  * last line of standard output, prefixed `LAKEBENCH_RESULT `.
  *
  * Usage: lakebench.Main --workload <etl_daily|analyst_mix>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  *   --sql <dir of the ad-hoc templates>
  *
  * The work directory must be fresh: every run starts from the same
  * state. With --trace 1 the spans of the timed loop are written to
  * `<out>/spans.jsonl` and the per-layer metrics are reported. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  val ByName: Map[String, Run => Outcome] = Map(
    "etl_daily" -> Workloads.etlDaily,
    "analyst_mix" -> Workloads.analystMix)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val body = ByName.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val traced = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val out = Paths.get(need("out")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(out)

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"lakebench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      // time the sketch path alone, as the registry's own bench does
      .config("spark.graft.sketchAudit", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tr = new Tracer(spark.sparkContext, traced)
    val run = new Run(spark, work, need("seed").toLong, need("seconds").toDouble,
      tr, Paths.get(need("sql")).toAbsolutePath)
    val o = body(run)
    val setupS = startupS + o.oneOff.values.sum + Run.median(o.buildS)

    val attempted = run.ops.values.map(_.attempted).sum
    val failed = run.ops.values.map(_.failed).sum
    val layer = if (traced) Layers.metrics(run) else Map.empty[String, Double]
    if (traced) writeSpans(out.resolve("spans.jsonl"), run)
    val result = Map(
      "workload" -> workload, "seed" -> run.seed, "trace" -> traced,
      "correct" -> (failed == 0 && run.mismatches.isEmpty),
      "attempted" -> attempted, "failed" -> failed,
      "e2e" -> (o.e2e + ("setup_s" -> setupS)),
      "layer" -> layer,
      "layer_by_table_s" -> (if (traced) Layers.perTable(run) else Map.empty),
      "named" -> (o.named + ("failed_ops_frac" ->
        failed.toDouble / math.max(1L, attempted))),
      "setup" -> (o.oneOff ++ Map("startup_s" -> startupS, "build_s" -> o.buildS)),
      "ops" -> run.ops.map { case (k, s) =>
        k -> Map("attempted" -> s.attempted, "failed" -> s.failed,
          "samples" -> s.seconds.size, "p50_s" -> Run.median(s.seconds.toSeq),
          "seconds" -> s.seconds)
      },
      "kind_p50_s" -> run.byKind.map { case (k, v) => k -> Run.median(v.toSeq) },
      "contention" -> run.contention,
      "mismatches" -> run.mismatches.take(20))
    spark.stop()
    println("LAKEBENCH_RESULT " + json.writeValueAsString(result))
  }

  private def writeSpans(file: Path, r: Run): Unit = {
    val spans = r.tr.spans
    val self = Tracer.selfSeconds(spans)
    val counts = Tracer.inclusiveCounts(spans, r.tr.listener.spanCounts)
    val lines = spans.sortBy(_.startNs).map { s =>
      json.writeValueAsString(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "request" -> s.request,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "self_ms" -> self(s.id) * 1000, "spark" -> counts(s.id).toMap))
    }
    Files.write(file, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
