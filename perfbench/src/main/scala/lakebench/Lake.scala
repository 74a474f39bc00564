package lakebench

import java.nio.file.{Files, Path}
import java.time.{LocalTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.ingest.Ingest
import graft.model.Model.TableKind

/** One lake directory: landing, raw, processed and warehouse zones. */
final class Lake(val root: Path) {
  val landing: Path = root.resolve("landing")
  val processed: String = root.resolve("processed").toString
  val warehouse: String = root.resolve("warehouse").toString
  Files.createDirectories(landing)
}

/** Rows and bytes one batch landed per target table, for the per-layer
  * ratios. */
final case class BatchStats(rowsByTable: Map[String, Long],
    bytesByTable: Map[String, Long])

object Lake {

  /** The chain `Pipeline.runBatch` runs, with the simulated day as the
    * ingest clock (`runBatch` has none, so it would file every batch
    * under today's load date). Each layer call is one span. */
  def loadBatch(spark: SparkSession, lake: Lake, model: LakeModel,
      day: Int, landed: Landed, tr: Tracer, req: Long): Unit = {
    val now = model.dateOf(day).atTime(LocalTime.NOON).toInstant(ZoneOffset.UTC)
    val files = tr.span("ingestAll", "ingest", req)(
      Ingest.ingestAll(lake.landing, lake.root, now))
    files.foreach { f =>
      tr.span(s"processFile.${f.kind.fileType}", "pipeline", req)(
        Pipeline.processFile(spark, f, lake.processed))
    }
    files.filter(f => TableKind.upsertKeys(f.kind).nonEmpty)
      .map(f => (f.kind, f.loadDate)).distinct
      .foreach { case (kind, date) =>
        tr.span(s"mergeToWarehouse.${kind.targetTable}", "store", req)(
          Pipeline.mergeToWarehouse(spark, lake.processed, lake.warehouse,
            kind, date))
      }
  }

  def stats(landed: Landed): BatchStats = {
    def table(name: String): String = TableKind.fromFileType(
      Ingest.routeFileType(name)).targetTable
    def rows(text: String): Long = text.count(_ == '\n') - 1L
    BatchStats(
      landed.files.map { case (n, t) => table(n) -> rows(t) }.toMap,
      landed.files.map { case (n, t) => table(n) -> t.length.toLong }.toMap)
  }

  /** path -> (size, mtime) of every file under `dirs`. */
  def listing(dirs: Path*): Map[String, (Long, Long)] =
    dirs.filter(Files.isDirectory(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toList
      finally s.close()
    }.toMap

  /** Bytes of files that are new or rewritten in `after`. */
  def written(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): Long =
    after.iterator.collect {
      case (p, v) if !before.get(p).contains(v) => v._1
    }.sum

  def bytesUnder(dirs: Path*): Long = listing(dirs: _*).valuesIterator.map(_._1).sum

  /** Bytes the lake (plus `extra` directories) holds per landed CSV byte.
    * Ingest moves every landed file into the raw zone unchanged, so the
    * raw zone's size is the landed total. */
  def spaceAmp(lake: Lake, extra: Seq[Path]): Double =
    bytesUnder(lake.root +: extra: _*).toDouble /
      math.max(1L, bytesUnder(lake.root.resolve("raw")))

  /** Compares the warehouse with the model: every key exactly once, and
    * the latest values of the tracked keys. One Spark job per table.
    * Returns the mismatches. */
  def checkWarehouse(spark: SparkSession, lake: Lake, m: LakeModel): Seq[String] = {
    def table(t: String, key: String, want: Long, ids: Iterable[String],
        cols: Seq[String])(expected: String => Seq[Any]): Seq[String] = {
      val r = spark.read.parquet(s"${lake.warehouse}/$t").agg(
        count(lit(1)), countDistinct(col(key)),
        collect_list(when(col(key).isin(ids.toSeq: _*),
          struct((key +: cols).map(col): _*)))).head()
      val got = r.getSeq[Row](2).map(x => x.getString(0) -> x.toSeq.tail).toMap
      val keys =
        if (r.getLong(0) == want && r.getLong(1) == want) Nil
        else Seq(s"$t: ${r.getLong(0)} rows, ${r.getLong(1)} keys, model has $want")
      keys ++ ids.toSeq.flatMap { id =>
        val w = expected(id)
        if (got.get(id).contains(w)) None
        else Some(s"$t $id: warehouse ${got.get(id)}, model $w")
      }
    }
    table("fact_transacciones_energia", "transaction_id", m.tx.size.toLong,
      m.trackedTx, Seq("customer_id", "energy_quantity_mwh", "price_per_mwh")) { id =>
      val t = m.tx(id); Seq(t.customer, t.qty.toDouble, t.price.toDouble)
    } ++
      table("dim_clientes", "customer_id", m.customers.size.toLong,
        m.trackedCust, Seq("city"))(id => Seq(m.customers(id)(3))) ++
      table("dim_proveedores", "supplier_id", m.suppliers.size.toLong,
        m.trackedSup, Seq("country_of_origin"))(id => Seq(m.suppliers(id)(2)))
  }

  /** Compares one registry result with the model. Rows are compared as
    * sets: the result cache's parquet round-trip drops ORDER BY. */
  def checkRegistry(name: String, rows: Seq[Row], m: LakeModel): Seq[String] =
    name match {
      case "conteo_total_clientes" =>
        val got = rows.map(_.getLong(0))
        if (got == Seq(m.expectedClientes)) Nil
        else Seq(s"$name: $got, model ${m.expectedClientes}")
      case "proveedores_por_pais" =>
        val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        if (rows.size == got.size && got == m.expectedPorPais) Nil
        else Seq(s"$name: $got, model ${m.expectedPorPais}")
      case "costo_total_por_cliente" =>
        // SUM(double) order varies, so sums match to a relative
        // tolerance; a top-10 check that survives near-ties at rank 10
        val tol = 1e-9
        def close(a: Double, b: Double) =
          math.abs(a - b) <= tol * math.max(math.abs(a), math.abs(b))
        val spend = m.spend2025
        val want = spend.values.toSeq.sorted(Ordering[Double].reverse).take(10)
        val got = rows.map(r => r.getString(0) -> r.getDouble(1))
        val bad = got.filterNot { case (c, v) => spend.get(c).exists(close(_, v)) }
        if (got.size != want.size || got.map(_._1).distinct.size != got.size ||
            bad.nonEmpty || (want.nonEmpty &&
              got.map(_._2).min < want.last * (1 - tol)))
          Seq(s"$name: $got, model top ${want.take(3)}.., mismatched $bad")
        else Nil
    }
}
