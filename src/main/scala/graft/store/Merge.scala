package graft.store

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed upsert ("merge") — the reference's Redshift staged upsert
  * (DELETE FROM target USING staging ON key-equality; INSERT INTO
  * target SELECT * FROM staging — /root/reference/glue_jobs/
  * etl-s3-processed-to-redshift.py:58-96) re-expressed as a Spark
  * plan: dedup the batch on its keys, anti-join the target against
  * the batch, union. No Delta on the classpath, so the durable form
  * rewrites the parquet table through [[TableDir.replace]]'s staged
  * swap (SURVEY.md §2.4 J1–J3, §7.3).
  *
  * Scale notes (100 TB): the batch side is one micro-batch — small —
  * so it is broadcast for both the dedup-free anti-join and the
  * union; the target is never shuffled, only scanned and rewritten.
  * With a partitioned target, restrict the rewrite to touched
  * partitions (mergeIntoPartitioned) so a 1-day batch rewrites 1 day
  * of data, not the whole table.
  */
object Merge {

  /** Keyed dedup with pinned precedence: keeps the first row per key
    * under `precedence` ordering. The reference's dropDuplicates
    * (etl-s3-processed-to-redshift.py:59) keeps an arbitrary row; an
    * explicit ordering makes re-runs deterministic (SURVEY.md §7.3).
    * Empty precedence falls back to the reference's arbitrary pick. */
  def dedupKeyed(df: DataFrame, keys: Seq[String],
      precedence: Seq[Column]): DataFrame =
    if (precedence.isEmpty) df.dropDuplicates(keys)
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(keys.map(col): _*).orderBy(precedence: _*)
      df.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1).drop("__graft_rn")
    }

  /** Latest-batch-wins keyed upsert as a pure DataFrame transform.
    * Contract (tested): result keys are unique iff target keys were;
    * every batch row is present; target rows survive iff unmatched.
    */
  def merge(target: DataFrame, batch: DataFrame, keys: Seq[String],
      precedence: Seq[Column] = Nil): DataFrame = {
    require(keys.nonEmpty, "merge requires at least one key column")
    val dedupBatch = dedupKeyed(batch, keys, precedence)
    target.join(broadcast(dedupBatch), keys, "left_anti")
      .unionByName(dedupBatch.select(target.columns.map(col).toIndexedSeq: _*))
  }

  /** Durable merge into a parquet table directory: the merged result
    * is staged and swapped in by [[TableDir.replace]] — the closest to
    * atomic replace a plain filesystem offers (SURVEY.md §7.3).
    */
  def mergeIntoParquet(
      spark: SparkSession, tableDir: String, batch: DataFrame,
      keys: Seq[String], precedence: Seq[Column] = Nil): Unit =
    TableDir.replace(spark, tableDir) {
      case Some(t) => merge(t, batch, keys, precedence)
      case None => dedupKeyed(batch, keys, precedence)
    }

  /** Precedence-respecting durable merge: unlike [[mergeIntoParquet]]
    * (latest-BATCH-wins — the reference's Redshift semantics, correct
    * when batches arrive in order), the winner per key is chosen by
    * `precedence` across state AND batch together. This is the CDC
    * apply for out-of-order increments: a late-arriving batch can
    * never clobber a newer version already in state, and the fold is
    * batch-order-independent (per-key precedence is a total order, so
    * folding increments in ANY order equals the one-shot dedup —
    * pinned by StreamingUpsertSpec with a real 2-batch stream). */
  def mergeIntoParquetPrecedence(
      spark: SparkSession, tableDir: String, batch: DataFrame,
      keys: Seq[String], precedence: Seq[Column]): Unit = {
    require(precedence.nonEmpty,
      "precedence merge needs an explicit ordering; use mergeIntoParquet " +
        "for latest-batch-wins")
    TableDir.replace(spark, tableDir) { live =>
      dedupKeyed(live.fold(batch)(_.unionByName(batch)), keys, precedence)
    }
  }

  /** Partition-scoped durable merge: only partitions present in the
    * batch are rewritten (the reference's one-load-date-at-a-time
    * pattern, etl-s3-processed-to-redshift.py:37-51). Uses dynamic
    * partition overwrite so untouched partitions survive.
    */
  def mergeIntoPartitioned(
      spark: SparkSession, tableDir: String, batch: DataFrame,
      keys: Seq[String], partitionCol: String): Unit = {
    val dir = Paths.get(tableDir)
    if (!Files.exists(dir)) {
      batch.dropDuplicates(keys).write
        .partitionBy(partitionCol).mode("overwrite").parquet(tableDir)
      return
    }
    val parts = batch.select(partitionCol).distinct().collect().map(_.get(0))
    val target = spark.read.parquet(tableDir)
      .filter(col(partitionCol).isin(parts.toIndexedSeq: _*))
    val merged = merge(target, batch, keys)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try merged.write.partitionBy(partitionCol).mode("overwrite").parquet(tableDir)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }
}
