package lakebench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.Row

/** One ad-hoc request: SQL text with seeded literals, and the check of
  * its result against the model. */
final case class AdhocRequest(template: String, sql: String,
    check: Seq[Row] => Seq[String])

/** The benchmark's parameterised ad-hoc queries (the `.sql` files under
  * `sql`). Request i uses template i mod 4; its literals are drawn from
  * the workload's random stream, so requests practically never repeat
  * and always bypass the result cache. */
final class Adhoc(sqlDir: Path) {
  private val templates: Map[String, String] = Adhoc.Templates
    .map(n => n -> Files.readString(sqlDir.resolve(s"$n.sql"))).toMap

  private def fill(name: String, values: (String, String)*): String =
    values.foldLeft(templates(name)) { case (s, (k, v)) =>
      s.replace("${" + k + "}", v)
    }

  private def money(rnd: Random, lo: Int, hi: Int): String = {
    val c = lo * 100 + rnd.nextInt((hi - lo) * 100)
    f"${c / 100}.${c % 100}%02d"
  }

  private def sumCol(rows: Seq[Row], i: Int): Long = rows.map(_.getLong(i)).sum

  private def expect(name: String, got: Long, want: Long): Seq[String] =
    if (got == want) Nil else Seq(s"$name: $got, model $want")

  def next(rnd: Random, m: LakeModel, i: Int): AdhocRequest =
    i % Adhoc.Templates.size match {
      case 0 =>
        val min = money(rnd, 1000, 60000)
        AdhocRequest("adhoc_cost_over", fill("adhoc_cost_over", "min_cost" -> min),
          rows => {
            val x = min.toDouble
            expect("adhoc_cost_over", sumCol(rows, 0),
              m.tx.valuesIterator.count(_.cost > x).toLong)
          })
      case 1 =>
        val from = LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(540).toLong)
        val to = from.plusDays(7L + rnd.nextInt(84))
        AdhocRequest("adhoc_spend_by_city", fill("adhoc_spend_by_city",
          "from" -> from.toString, "to" -> to.toString),
          rows => {
            val (f, t) = (from.toString, to.toString)
            expect("adhoc_spend_by_city", sumCol(rows, 2),
              m.tx.valuesIterator.count(x => x.date >= f && x.date <= t).toLong)
          })
      case 2 =>
        val lo = money(rnd, 20, 150)
        val hi = money(rnd, lo.toDouble.toInt + 5, lo.toDouble.toInt + 60)
        AdhocRequest("adhoc_energy_mix", fill("adhoc_energy_mix",
          "price_lo" -> lo, "price_hi" -> hi),
          rows => {
            val (l, h) = (lo.toDouble, hi.toDouble)
            expect("adhoc_energy_mix", sumCol(rows, 2),
              m.tx.valuesIterator.count { x =>
                val p = x.price.toDouble; p >= l && p <= h
              }.toLong)
          })
      case _ =>
        val city = m.customers.valuesIterator.drop(rnd.nextInt(m.customers.size))
          .next()(3)
        val min = money(rnd, 100, 20000)
        val k = 5 + rnd.nextInt(46)
        AdhocRequest("adhoc_top_customers_city", fill("adhoc_top_customers_city",
          "city" -> city, "min_cost" -> min, "k" -> k.toString),
          rows => {
            val x = min.toDouble
            val want = m.tx.valuesIterator
              .filter(t => t.cost > x && m.customers(t.customer)(3) == city)
              .map(_.customer).toSet
            val ids = rows.map(_.getString(0))
            if (ids.size == math.min(k, want.size) && ids.forall(want))
              Nil
            else Seq(s"adhoc_top_customers_city($city): ${ids.size} rows, " +
              s"model has ${want.size} qualifying customers")
          })
    }
}

object Adhoc {
  val Templates: Seq[String] = Seq("adhoc_cost_over", "adhoc_spend_by_city",
    "adhoc_energy_mix", "adhoc_top_customers_city")
}
