package lakebench

import graft.SparkEntry
import graft.queries.GlogFixtures

/** analyst_mix's report requests: registry queries of the modules the
  * medallion calls never reach, run over seeded stand-in tables. */
object Reports {
  /** (query, modules it exercises): one per module, as every query costs
    * about a second however small its tables. Left out for run length:
    * q03/q12 (core; the dashboards already cover plain aggregates),
    * q28_minhash_neardup and q75_dedup_clusters (dedup, which the
    * curation pipeline runs), q41_stream_sessionize (a second streaming
    * query) and q100_pagerank (~5 s alone). Left out because it writes
    * under a fixed directory outside the benchmark's checkout:
    * q197_graftlog_merge_into. */
  val Queries: Seq[(String, String)] = Seq(
    "q40_ann_ivf_topk" -> "vector",
    "q55_curation_pipeline" -> "text+dedup",
    "q60_asof_join_exec" -> "operators",
    "q35_stream_tumbling" -> "streaming",
    "q156_graftlog_scan" -> "sources")

  /** Size of the generated tables (1M × Scale events). */
  val Scale = 0.02

  /** Leaves the next request the state a fresh one would see: no cached
    * blocks and no fixture clones left by a report. */
  private def reset(r: Run): Unit = {
    r.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    GlogFixtures.sweepClones()
  }

  /** Generates the tables and runs every report once, untimed, so JIT,
    * codegen and fixture builds land in set-up. Returns the table
    * directory and each report's row count, which every timed run of it
    * must reproduce. */
  def prepare(r: Run): (String, Map[String, Long]) = {
    val dir = r.work.resolve("report-tables")
    ReportTables.write(r.spark, dir, r.seed, Scale)
    val expected = Queries.map { case (q, _) =>
      val n =
        try SparkEntry.queries(q)(r.spark, dir.toString).count()
        catch { case e: Exception => r.note(s"warm-up $q failed: $e"); -1L }
      reset(r)
      q -> n
    }.toMap
    (dir.toString, expected)
  }

  /** One timed report request. */
  def run(r: Run, dir: String, expected: Map[String, Long], i: Int): Unit = {
    val (q, module) = Queries(i % Queries.size)
    val req = r.request()
    r.attempt("report") {
      r.tr.span("request", "harness", req)(
        r.tr.span(q, "queries", req)(SparkEntry.queries(q)(r.spark, dir).count()))
    }.foreach { case (n, dt) =>
      r.verify("report", req, dt, s"report.$q")(
        if (n == expected(q)) Nil
        else Seq(s"$q ($module): $n rows, first run ${expected(q)}"))
    }
    reset(r)
  }
}
