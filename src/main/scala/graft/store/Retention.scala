package graft.store

import org.apache.spark.sql.SparkSession

/** Partition retention — the other standing maintenance job of a
  * hive-partitioned lake: expire partitions whose partition-column
  * value falls strictly below a cutoff, by deleting their DIRECTORIES.
  * Deleting at the partition-directory level is O(expired partitions)
  * metadata operations — no scan, no rewrite, no row-level delete —
  * which is the only retention rendering that stays cheap at 100 TB
  * (a filter-and-rewrite "delete" rescans the table).
  *
  * Only values lexicographically below the cutoff are removed, so the
  * partition column must be encoded order-consistently (ISO dates,
  * zero-padded numbers — exactly what the ingest layer's
  * `fecha_carga=YYYY-MM-DD` layout produces). Returns the expired
  * partition values.
  */
object Retention {

  /** Subject-key erasure — the right-to-be-forgotten rewrite: drop
    * every row whose key appears in `keys`, committed by
    * [[TableDir.replace]]'s staged swap (a crash mid-swap is rolled
    * back by the next call). The erasure list broadcasts (deletion
    * requests are bounded; a bulk purge would drop the hint and let
    * the anti-join shuffle). Unlike [[expire]] this IS a full rewrite
    * — row-level deletes without a table format cost one scan of the
    * table, which is the honest price; at 100 TB the standing pattern
    * is to batch requests and fold them into the compaction/retention
    * pass the lake already runs. Returns (rows before, rows removed). */
  def forget(spark: SparkSession, path: String, keyCol: String,
      keys: org.apache.spark.sql.DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions.{broadcast, col}
    var before = 0L
    TableDir.replace(spark, path) { live =>
      val t = live.getOrElse(
        throw new IllegalArgumentException(s"forget: no table at $path"))
      before = t.count()
      t.join(broadcast(keys.select(col(keyCol)).distinct()),
        Seq(keyCol), "left_anti")
    }
    val after = spark.read.parquet(path).count()
    (before, before - after)
  }

  def expire(spark: SparkSession, path: String, partitionCol: String,
      keepFrom: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$partitionCol="
    val expired = fs.listStatus(p)
      .filter(e => e.isDirectory && e.getPath.getName.startsWith(prefix))
      .map(e => e.getPath.getName.stripPrefix(prefix))
      .filter(_ < keepFrom)
      .sorted
    expired.foreach { v =>
      fs.delete(new Path(p, s"$prefix$v"), true)
    }
    expired.toSeq
  }
}
