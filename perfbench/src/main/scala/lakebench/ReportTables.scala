package lakebench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded stand-ins for the `events`, `documents` and `embeddings`
  * tables the report queries read, with the columns, types and value
  * shapes of the query registry's test data. Each table is one parquet
  * file `<dir>/<name>.parquet`, as the queries' readers expect.
  *
  * `scale` follows the registry's test data: 1.0 is 1M events and 50k
  * documents and embeddings, over 15k users. */
object ReportTables {
  private val words = ("key agg row scan slow fast table value part hash " +
    "batch window spark order data column join small line customer query " +
    "big stream sort merge filter group vector the a index shard log " +
    "cache plan cost model energy supplier price").split(' ')

  private def nullable(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  def write(spark: SparkSession, dir: Path, seed: Long, scale: Double): Unit = {
    Files.createDirectories(dir)
    val rnd = new Random(seed)
    def n(base: Double): Int = math.max(1, (base * scale).toInt)
    val nUsers = n(15000); val nEvents = n(1000000)
    val nDocs = n(50000); val nVecs = n(50000)
    def money(max: Int): Double = rnd.nextInt(max * 100) / 100.0 + 0.01

    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = dir.resolve(s"_$name")
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val s = Files.list(tmp)
        try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        finally s.close()
      }
      Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Run.delete(tmp)
    }

    val types = Array("click", "signup", "error", "view", "purchase")
    val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    save("events", nullable("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
      (0 until nEvents).map { i =>
        // microsecond timestamps over 30 days
        Row(i.toLong, ev0.plusNanos(1000L * math.floorMod(rnd.nextLong(),
          30L * 86400L * 1000000L)),
          rnd.nextInt(nUsers).toLong, types(rnd.nextInt(5)),
          money(500), s"""{"k": ${rnd.nextInt(100)}}""")
      })

    // a tenth of the documents are near copies of an earlier one, so the
    // near-duplicate operators find real clusters
    val langs = Array("en", "en", "en", "en", "es", "fr", "de", "pt")
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until nDocs).foreach { i =>
      val text =
        if (i > 10 && rnd.nextInt(10) == 0) {
          val base = texts(rnd.nextInt(i)).split(' ')
          base(rnd.nextInt(base.length)) = words(rnd.nextInt(words.length))
          base.mkString(" ")
        } else Seq.fill(20 + rnd.nextInt(60))(words(rnd.nextInt(words.length)))
          .mkString(" ")
      texts += text
    }
    save("documents", nullable("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      texts.toSeq.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, langs(rnd.nextInt(langs.length)), s"src${rnd.nextInt(20)}",
          t.length.toLong)
      })

    val centers = Array.fill(10, 64)(rnd.nextGaussian().toFloat)
    save("embeddings", nullable("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true), "label" -> IntegerType),
      (0 until nVecs).map { i =>
        val label = rnd.nextInt(10)
        Row(i.toLong, centers(label).map(c => c + 0.3f * rnd.nextGaussian().toFloat).toSeq,
          label)
      })
  }
}
