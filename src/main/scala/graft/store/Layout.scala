package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, shiftleft}

/** Physical-layout writer: hive partitioning for pruning, plus
  * sort-within-partitions on write so parquet row-group min/max
  * statistics become selective for the sort keys (a range predicate
  * on a sorted column skips most row groups; on an unsorted column it
  * skips none). The 100 TB complement to predicate pushdown: pushdown
  * decides what CAN be skipped, layout decides what IS skipped.
  *
  * `repartition(partitionCols)` before the sort keeps one writer task
  * per hive partition (no small-file explosion), at the cost of a
  * shuffle — the standard write-amplification trade.
  */
object Layout {
  /** Morton (Z-order) interleave of two non-negative integer keys,
    * `bits` low bits each (callers quantize first — bucket ids, day
    * indexes, range-partition ordinals). Sorting by the z-value
    * clusters rows that are close in BOTH dimensions into the same
    * files, so parquet row-group min/max stats prune 2-D box
    * predicates — where a 1-D sort only ever prunes its leading
    * column. This is the multi-dimensional complement to
    * [[writeSorted]], the same layout trick Delta/Iceberg expose as
    * OPTIMIZE ZORDER BY.
    *
    * Rendered entirely in built-in bit ops (5 shift-and-mask steps
    * per key — the standard magic-mask bit spread), so it stays
    * inside whole-stage codegen and is bit-identical in any engine
    * with 64-bit integer ops (the q82 oracle recomputes it in DuckDB).
    */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    // bits ≤ 31: at 32 the high bit of spread(b)<<1 lands in the long's
    // sign bit, so half the key space goes negative and signed ordering
    // no longer follows the Z-curve (contiguous-interval pruning breaks)
    require(bits >= 1 && bits <= 31, s"bits=$bits outside [1,31]")
    def spread(c: Column): Column = {
      // 32→64-bit even-position spread via magic masks
      val m = Seq(
        16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
        4 -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
        1 -> 0x5555555555555555L)
      m.foldLeft(c.cast("long").bitwiseAND(lit((1L << bits) - 1))) {
        case (x, (s, mask)) => (x.bitwiseOR(shiftleft(x, s))).bitwiseAND(lit(mask))
      }
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Write `df` clustered on the z-curve of two quantized keys:
    * range-partition by z (so each output file owns one contiguous
    * z-interval) and sort within files. Box predicates on (aCol,
    * bCol) then touch only the files whose z-interval intersects the
    * box's z-ranges — `LayoutSpec` measures the skip. */
  def writeZOrdered(df: DataFrame, path: String,
      aCol: String, bCol: String, bits: Int, numFiles: Int,
      mode: String = "overwrite"): Unit = {
    val z = zValue(col(aCol), col(bCol), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(mode).parquet(path)
  }

  /** Small-file compaction — the table-maintenance op every
    * streaming/micro-batch ingest eventually needs: per-file overhead
    * (footer parse, open, scheduling) makes a million 1 MB files far
    * slower to scan than ten thousand 128 MB ones, and small row
    * groups defeat min/max skipping. Bin-packs a flat parquet
    * directory to ⌈total/targetFileBytes⌉ files via one round-robin
    * repartition (uniform output sizes), committed by
    * [[TableDir.replace]]'s staged swap. FLAT directories only — a
    * hive-partitioned table must be compacted per partition directory
    * (a whole-table rewrite would flatten the partition columns into
    * data and lose pruning); a directory with subdirectories is
    * rejected before anything is written.
    *
    * The swap is two renames: a reader racing it can observe a brief
    * missing-directory window, and a crash between the renames leaves
    * the data at the table's parked generation, restored on the next
    * call (single-writer maintenance op; Delta/Iceberg close this
    * window with a metadata commit — without a table format, two
    * renames is the honest best). Returns the new file count. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long): Int = {
    require(targetFileBytes >= 1, s"targetFileBytes=$targetFileBytes")
    import org.apache.hadoop.fs.Path
    var n = 0
    TableDir.replace(spark, path) { live =>
      val t = live.getOrElse(
        throw new IllegalArgumentException(s"compact: no table at $path"))
      val p = new Path(path)
      val entries = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p)
      require(!entries.exists(e => e.isDirectory &&
          !e.getPath.getName.startsWith("_")),
        s"compact() is for FLAT parquet dirs; $path has partition " +
          "subdirectories — compact each partition directory instead")
      val total = entries
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
      n = math.max(1, math.ceil(total.toDouble / targetFileBytes).toInt)
      t.repartition(n)
    }
    n
  }

  /** `bloomCols`: write a parquet BLOOM FILTER per listed column —
    * point-lookup (`k = const` / IN-list) skipping for HIGH-cardinality
    * keys where min/max stats are useless (an unsorted id column's
    * range spans everything; its bloom still rules the row group out).
    * The third skipping tier after hive partitions and sorted min/max;
    * costs ~1 M bits per row group per column on write. */
  def writeSorted(
      df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String],
      mode: String = "overwrite", bloomCols: Seq[String] = Nil): Unit = {
    val arranged =
      if (partitionCols.nonEmpty)
        df.repartition(partitionCols.map(col): _*)
          .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      else df.sortWithinPartitions(sortCols.map(col): _*)
    val w0 = arranged.write.mode(mode)
    val w = bloomCols.foldLeft(w0)((w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true"))
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }
}
