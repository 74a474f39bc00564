package lakebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

/** How many rows of each kind one landed batch carries. */
final case class Load(newTx: Int, corrections: Int, custUpdates: Int,
    custNew: Int, supUpdates: Int, supNew: Int)

/** One landed batch: CSV text per file name, and its row count. */
final case class Landed(files: Seq[(String, String)], rows: Long) {
  def bytes: Long = files.map(_._2.length.toLong).sum // ASCII only

  def writeTo(dir: Path): Unit = files.foreach { case (name, text) =>
    Files.write(dir.resolve(name), text.getBytes(StandardCharsets.US_ASCII))
  }
}

final class Tx(val customer: String, val supplier: String, val ts: String,
    val qty: String, val price: String) {
  def cost: Double = qty.toDouble * price.toDouble
  def date: String = ts.take(10)
}

/** Seeded generator of the three landed feeds, and the model of what the
  * warehouse must hold once they are loaded: every key once, the latest
  * batch's values winning. The generator only ever emits a key once per
  * batch, so "latest batch wins" is the whole precedence rule.
  *
  * Day 0 is the bulk history (transactions spread over 2024-01-01 ..
  * 2025-05-31); day d > 0 is the delta landed on 2025-06-01 + d, whose
  * new transactions carry that date. Corrections rewrite quantity and
  * price of existing transactions, preferring recent ones. */
final class LakeModel(seed: Long) {
  private val rnd = new scala.util.Random(seed)

  /** supplier id -> (name, energy type, country, contract start) */
  val suppliers = mutable.LinkedHashMap[String, Array[String]]()
  /** customer id -> (name, raw type, address, city, country) */
  val customers = mutable.LinkedHashMap[String, Array[String]]()
  val tx = mutable.HashMap[String, Tx]()
  private val txIds = mutable.ArrayBuffer[String]()
  private val supIds = mutable.ArrayBuffer[String]()
  private val custIds = mutable.ArrayBuffer[String]()

  /** The most recently changed keys per table, whose values the
    * warehouse checks compare against the model. */
  val trackedTx = mutable.LinkedHashSet[String]()
  val trackedCust = mutable.LinkedHashSet[String]()
  val trackedSup = mutable.LinkedHashSet[String]()
  private val TrackLimit = 32

  private def track(set: mutable.LinkedHashSet[String], id: String): Unit = {
    set -= id
    set += id
    if (set.size > TrackLimit) set -= set.head
  }

  private val energy = Array("Solar", "Eolica", "Hidraulica", "Termica", "Nuclear")
  private val countries = Array("ES", "AR", "CO", "PE", "MX", "CL", "BR", "US", "PT", "UY")
  private val custTypes = Array("Cliente Residencial", "Comercial", "Industrial", "Gobierno")
  private val cities = Array("Madrid", "Bogota", "Lima", "Santiago", "Quito",
    "Sevilla", "Medellin", "Cusco", "Rosario", "Valencia", "Cali", "Arequipa")

  private def pick(a: Array[String]): String = a(rnd.nextInt(a.length))
  private def pad(n: Int, w: Int): String = {
    val s = n.toString
    if (s.length >= w) s else "0" * (w - s.length) + s
  }

  private def supplierRow(): Array[String] = Array(
    s"Proveedor ${rnd.nextInt(100000)}", pick(energy), pick(countries),
    LocalDate.of(2018, 1, 1).plusDays(rnd.nextInt(2500).toLong).toString)

  private def customerRow(): Array[String] = Array(
    s"Cliente ${rnd.nextInt(1000000)}", pick(custTypes),
    s"Calle ${1 + rnd.nextInt(999)}", pick(cities), pick(countries))

  private def qty(): String = {
    val m = 1000 + rnd.nextInt(499000) // thousandths of a MWh
    s"${m / 1000}.${pad(m % 1000, 3)}"
  }

  private def price(): String = {
    val c = 2000 + rnd.nextInt(18000) // cents per MWh
    s"${c / 100}.${pad(c % 100, 2)}"
  }

  private def timestamp(day: LocalDate): String = {
    val s = rnd.nextInt(86400)
    s"$day ${pad(s / 3600, 2)}:${pad(s / 60 % 60, 2)}:${pad(s % 60, 2)}"
  }

  val firstDeltaDay: LocalDate = LocalDate.of(2025, 6, 1)
  def dateOf(day: Int): LocalDate = firstDeltaDay.plusDays(day.toLong)

  /** Generates day `day`'s batch and applies it to the model. */
  def land(day: Int, load: Load): Landed = {
    val sup = new StringBuilder(
      "ID_Proveedor,NombreProveedor,TipoEnergia,PaisOrigen,FechaInicioContrato\n")
    val cust = new StringBuilder(
      "ID_Cliente,NombreCliente,TipoCliente,Direccion,Ciudad,Pais\n")
    val trans = new StringBuilder(
      "ID_Transaccion,ID_Cliente,ID_Proveedor,FechaTransaccion,CantidadEnergiaMWh,PrecioPorMWh\n")
    var nSup, nCust, nTx = 0

    def emitSup(id: String, r: Array[String]): Unit = {
      suppliers(id) = r
      sup ++= id ++= "," ++= r.mkString(",") += '\n'
      nSup += 1
    }
    def emitCust(id: String, r: Array[String]): Unit = {
      customers(id) = r
      cust ++= id ++= "," ++= r.mkString(",") += '\n'
      nCust += 1
    }
    def emitTx(id: String, t: Tx): Unit = {
      tx(id) = t
      trans ++= id += ',' ++= t.customer += ',' ++= t.supplier += ',' ++=
        t.ts += ',' ++= t.qty += ',' ++= t.price += '\n'
      nTx += 1
    }
    def distinctPicks(ids: mutable.ArrayBuffer[String], n: Int,
        index: Int => Int): Seq[String] = {
      val chosen = mutable.LinkedHashSet[String]()
      var attempts = 0
      while (chosen.size < math.min(n, ids.size) && attempts < 20 * n) {
        chosen += ids(index(ids.size))
        attempts += 1
      }
      chosen.toSeq
    }

    distinctPicks(supIds, load.supUpdates, rnd.nextInt).foreach { id =>
      val r = suppliers(id).clone()
      r(2) = pick(countries.filterNot(_ == r(2)))
      emitSup(id, r)
      track(trackedSup, id)
    }
    (0 until load.supNew).foreach { _ =>
      val id = "P" + pad(supIds.size, 5)
      supIds += id
      emitSup(id, supplierRow())
    }
    distinctPicks(custIds, load.custUpdates, rnd.nextInt).foreach { id =>
      val r = customers(id).clone()
      r(1) = pick(custTypes); r(2) = s"Calle ${1 + rnd.nextInt(999)}"
      r(3) = pick(cities.filterNot(_ == r(3)))
      emitCust(id, r)
      track(trackedCust, id)
    }
    (0 until load.custNew).foreach { _ =>
      val id = "C" + pad(custIds.size, 7)
      custIds += id
      emitCust(id, customerRow())
    }
    // corrections prefer recent transactions: the cube pushes the pick
    // towards the newest ids
    distinctPicks(txIds, load.corrections, n =>
      n - 1 - math.min(n - 1, (n * math.pow(rnd.nextDouble(), 3)).toInt)
    ).foreach { id =>
      val old = tx(id)
      emitTx(id, new Tx(old.customer, old.supplier, old.ts, qty(), price()))
      track(trackedTx, id)
    }
    (0 until load.newTx).foreach { _ =>
      val id = "T" + pad(txIds.size, 9)
      txIds += id
      val d =
        if (day == 0) LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(517).toLong)
        else dateOf(day)
      emitTx(id, new Tx(custIds(rnd.nextInt(custIds.size)),
        supIds(rnd.nextInt(supIds.size)), timestamp(d), qty(), price()))
    }

    val tag = s"d${pad(day, 4)}_s$seed"
    val files = Seq(
      (s"proveedores_$tag.csv", sup, nSup),
      (s"clientes_$tag.csv", cust, nCust),
      (s"transacciones_$tag.csv", trans, nTx))
      .collect { case (name, sb, n) if n > 0 => name -> sb.toString }
    Landed(files, (nSup + nCust + nTx).toLong)
  }

  // ---- expected results of the three registry queries ----

  def expectedClientes: Long = customers.size.toLong

  def expectedPorPais: Map[String, Long] =
    suppliers.values.groupBy(_(2)).map { case (k, v) => k -> v.size.toLong }

  /** Per-customer 2025 spend, the input of `costo_total_por_cliente`. */
  def spend2025: Map[String, Double] = {
    val acc = mutable.HashMap[String, Double]()
    tx.valuesIterator.foreach { t =>
      if (t.ts.startsWith("2025"))
        acc(t.customer) = acc.getOrElse(t.customer, 0.0) + t.cost
    }
    acc.toMap
  }
}
