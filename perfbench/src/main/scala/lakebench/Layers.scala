package lakebench

import graft.model.Model.TableKind

/** Per-layer metrics of a traced run, from its spans and the Spark work
  * counted inside them. A layer the workload does not call reports 0. */
object Layers {
  val Names: Seq[String] = Seq("harness", "ingest", "pipeline", "store",
    "serve", "queries", "check")

  def metrics(r: Run): Map[String, Double] = {
    val spans = r.tr.spans
    val counts = Tracer.inclusiveCounts(spans, r.tr.listener.spanCounts)
    val self = Tracer.selfSeconds(spans)
    def in(layer: String) = spans.filter(_.layer == layer)
    def named(prefix: String) = spans.filter(_.name.startsWith(prefix))
    def sum(ss: Seq[Span])(f: Counts => Long): Double =
      ss.map(s => f(counts(s.id)).toDouble).sum
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    def medianS(ss: Seq[Span]): Double = Run.median(ss.map(_.seconds))
    def coreUtil(ss: Seq[Span]): Double =
      ratio(sum(ss)(_.runMs), ss.map(_.seconds * 1000).sum * r.cores)
    def fileBytes(s: Span, table: String) =
      r.batches.get(s.request).flatMap(_.bytesByTable.get(table)).getOrElse(0L)
    def fileRows(s: Span, table: String) =
      r.batches.get(s.request).flatMap(_.rowsByTable.get(table)).getOrElse(0L)
    def tableOfFile(s: Span) =
      TableKind.fromFileType(s.name.stripPrefix("processFile.")).targetTable
    def tableOfMerge(s: Span) = s.name.stripPrefix("mergeToWarehouse.")

    val pipeline = in("pipeline")
    val store = in("store")
    val cached = named("cached.")
    val (hits, misses) = cached.partition(s => r.cacheHit.getOrElse(s.request, false))
    val served = cached ++ named("runSqlFile.")
    val queries = in("queries")

    Map(
      "ingest.move_ms" -> medianS(in("ingest")) * 1000,
      // per layer, not per table: analyst_mix's upserts touch only the
      // fact table; the per-table medians are in `perTable`
      "pipeline.process_s" -> medianS(pipeline),
      "store.merge_s" -> medianS(store),
      "pipeline.csv_read_amp" -> ratio(sum(pipeline)(_.inputBytes),
        pipeline.map(s => fileBytes(s, tableOfFile(s)).toDouble).sum),
      "pipeline.jobs_per_file" -> ratio(sum(pipeline)(_.jobs), pipeline.size),
      "pipeline.core_util" -> coreUtil(pipeline),
      "store.write_amp" -> ratio(sum(store)(_.outputBytes),
        store.map(s => fileBytes(s, tableOfMerge(s)).toDouble).sum),
      "store.rows_rewritten_per_row_upserted" -> ratio(sum(store)(_.outputRecords),
        store.map(s => fileRows(s, tableOfMerge(s)).toDouble).sum),
      "store.shuffle_bytes" -> ratio(sum(store)(_.shuffleBytes), store.size),
      "store.spill_bytes" -> ratio(sum(store)(_.spillBytes), store.size),
      "store.core_util" -> coreUtil(store),
      "serve.cache_hit_ratio" -> ratio(hits.size, cached.size),
      "serve.cache_hit_ms" -> medianS(hits) * 1000,
      "serve.cache_miss_ms" -> medianS(misses) * 1000,
      "serve.fingerprint_ms" -> medianS(named("fingerprint.")) * 1000,
      "serve.sql_file_ms" -> medianS(named("runSqlFile.")) * 1000,
      "serve.jobs_per_request" -> ratio(sum(served)(_.jobs), served.size),
      "queries.shuffle_bytes" -> ratio(sum(queries)(_.shuffleBytes), queries.size),
      "queries.spill_bytes" -> ratio(sum(queries)(_.spillBytes), queries.size),
      "queries.peak_task_mem_mb" -> queries.map(s =>
        counts(s.id).peakMemBytes / 1048576.0).maxOption.getOrElse(0.0),
      "queries.core_util" -> coreUtil(queries),
      "jvm.gc_ms" -> r.gcMs) ++
      Reports.Queries.map { case (q, _) =>
        s"queries.${q}_s" -> medianS(spans.filter(s => s.layer == "queries" && s.name == q))
      } ++
      Names.map(l => s"$l.self_s" -> in(l).map(s => self(s.id)).sum)
  }

  /** Median seconds per `processFile` and `mergeToWarehouse` call, by
    * target table. */
  def perTable(r: Run): Map[String, Double] =
    r.tr.spans.filter(s => s.layer == "pipeline" || s.layer == "store")
      .groupBy(_.name).map { case (n, ss) => n -> Run.median(ss.map(_.seconds)) }
}
