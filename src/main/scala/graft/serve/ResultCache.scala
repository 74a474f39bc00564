package graft.serve

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.store.TableDir

/** Plan-fingerprint result cache — the serving-layer memoization every
  * query engine with a dashboard in front of it grows (Presto/Trino
  * result cache, Athena's reuse-results flag, the reference's repeated
  * Athena invocations of the same three SQL files re-billing every
  * run): a deterministic query re-submitted against unchanged inputs
  * should re-READ, not re-COMPUTE.
  *
  * The key is a SHA-256 over the CANONICALIZED analyzed plan's full
  * string rendering (expression-id normalization included), the result
  * schema, and the input FILE LISTING (path, size, mtime per input
  * file). Canonicalization means two submissions of the same logical
  * query — even built through different DataFrame call sequences —
  * share a fingerprint, while any change to a literal, a column set,
  * an input path, or the DATA BEHIND a path (rewrite/append at the
  * same location re-stamps size/mtime) re-keys. A 256-bit digest of
  * the full plan text makes accidental collision cryptographically
  * negligible — the r9 advisory's two-×-32-bit hashCode key could
  * collide two distinct queries and silently serve the wrong result,
  * and hashCode is not pinned across Spark/Scala versions; the digest
  * of the rendered string is.
  *
  * Scale shape: a cache hit is a bare parquet scan of the PRIOR
  * RESULT (typically KBs for analytic rollups) — zero shuffle, zero
  * source I/O; a miss pays one extra result write, amortized across
  * every later hit. The input-listing stat is driver-side O(#files)
  * metadata work — the same class as split planning, which the query
  * pays anyway. Atomic visibility is store.TableDir.publish: results
  * are written to a UNIQUE tmp dir and renamed in with ATOMIC_MOVE,
  * so a concurrent reader sees the old entry or the new one, never a
  * partial file, and two racing misses for the same key cannot
  * interleave writes into one tmp dir (one rename wins, the loser
  * deletes its tmp).
  */
object ResultCache {

  /** Stable fingerprint: SHA-256 (hex, truncated to 32 chars for
    * path friendliness — still 128 collision-free bits) over the
    * canonicalized analyzed plan string + result schema + the input
    * file listing (path, length, mtime). Folding the listing in means
    * overwriting or appending files at a cached path invalidates by
    * RE-KEYING — no TTL or explicit invalidation hook needed. */
  def fingerprint(df: DataFrame): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def feed(s: String): Unit = {
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    feed(df.queryExecution.analyzed.canonicalized.toString)
    feed(df.schema.catalogString)
    // input data version: stat each input file through the Hadoop FS
    // API (works for any scheme the relation resolves). Sorted so the
    // digest is independent of listing order; files that vanish
    // between plan and stat feed a tombstone marker (still re-keys).
    val conf = df.sparkSession.sessionState.newHadoopConf()
    df.inputFiles.sorted.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val stamp =
        try {
          val st = p.getFileSystem(conf).getFileStatus(p)
          s"$f|${st.getLen}|${st.getModificationTime}"
        } catch { case _: java.io.IOException => s"$f|missing" }
      feed(stamp)
    }
    md.digest().map(b => f"$b%02x").mkString.take(32)
  }

  /** Route `df` through the on-disk cache at `cacheDir`: compute and
    * persist on miss, re-read on hit. Ordering is NOT preserved by the
    * parquet round-trip — callers re-apply their ORDER BY (the same
    * contract as any result-set store). */
  def through(spark: SparkSession, cacheDir: String, df: DataFrame)
      : DataFrame = {
    val fp = fingerprint(df)
    val path = Paths.get(cacheDir, fp)
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      // unique tmp dir per attempt: concurrent misses for the same
      // fingerprint each write their own staging area
      val tmp = Paths.get(cacheDir,
        s"_tmp_${fp}_${java.util.UUID.randomUUID().toString.take(8)}")
      df.write.mode("overwrite").parquet(tmp.toString)
      Files.createDirectories(path.getParent)
      if (!TableDir.publish(tmp, path)) TableDir.deleteTree(tmp)
    }
    spark.read.parquet(path.toString)
  }

  /** True iff a cache entry for `df` is already present (spec hook). */
  def isCached(cacheDir: String, df: DataFrame): Boolean =
    Files.exists(Paths.get(cacheDir, fingerprint(df), "_SUCCESS"))
}
