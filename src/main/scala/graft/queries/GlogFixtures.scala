package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.store.TableDir

/** JVM-level cache of graftlog ingest fixtures shared across the
  * query registry. A dozen registry queries exercise the DSv2
  * connector over the SAME re-sharded events feed; before this cache
  * each of them re-ingested the table per run (a shuffle + write —
  * q199 spent 7 of its 7.1 s on setup I/O, q172 3.5 s). Now the feed
  * is written ONCE per (testdata dir, layout) per JVM; read-only
  * consumers share the fixture and mutating consumers (DELETE/
  * UPDATE/MERGE/INSERT OVERWRITE) take a file-level clone — a copy of
  * a few MB of shards instead of a Spark job. Results are unchanged
  * by construction: the fixture is the same deterministic write the
  * queries used to perform inline.
  *
  * Fixtures live under the catalog base so catalog-name reads
  * (`glog.shared_…`) resolve them directly. A fixture left by a
  * PRIOR JVM is cleared and rebuilt on first use — testdata can be
  * regenerated between runs, and a stale table would silently verify
  * old data.
  */
object GlogFixtures {
  private val built = scala.collection.mutable.Map[String, String]()

  /** The catalog base every graftlog registry query points `glog` at. */
  val CatBase = "/tmp/graft-glog-cat"

  private val Fmt = "graft.sources.GraftLogSource"

  /** Shared read-only fixture: built once per (testdata dir, content
    * signature, key) per JVM; `build` receives the target dir and
    * must write the table. The signature term (file names + sizes +
    * mtimes of the testdata dir) closes the same-JVM staleness
    * window: testdata regenerated under the same path re-keys and
    * rebuilds instead of serving stale staged shards. */
  def shared(dir: String, key: String)(build: String => Unit): String = {
    val sig = dirSig(dir)
    built.synchronized {
      built.getOrElseUpdate(s"$dir|$sig|$key", {
        val name =
          s"shared_${key}_${math.abs(dir.hashCode).toHexString}"
        val out = Paths.get(CatBase, name)
        TableDir.deleteTree(out)
        Files.createDirectories(out.getParent)
        build(out.toString)
        out.toString
      })
    }
  }

  private def dirSig(dir: String): String = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) "absent"
    else {
      val s = Files.walk(p)
      try {
        val items = s.iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(f => s"${p.relativize(f)}:${Files.size(f)}:" +
            s"${Files.getLastModifiedTime(f).toMillis}")
          .toSeq.sorted
        java.lang.Integer.toHexString(items.hashCode)
      } finally s.close()
    }
  }

  /** The full events feed as an unbucketed `shards`-shard graftlog
    * table (the layout q159/q172/q194…q201 all start from). */
  def eventsLog(s: SparkSession, dir: String, shards: Int): String =
    shared(dir, s"ev$shards") { o =>
      eventsFeed(s, dir).write.format(Fmt)
        .mode("append").option("shards", shards).save(o)
    }

  /** First HALF of the feed (q200's generation-1 starting state). */
  def eventsLogHalf(s: SparkSession, dir: String, shards: Int): String =
    shared(dir, s"ev${shards}half") { o =>
      val ev = eventsFeed(s, dir)
      val n = ev.count()
      ev.filter(col("event_id") < n / 2).write.format(Fmt)
        .mode("append").option("shards", shards).save(o)
    }

  /** The feed bucketed on user_id (`ub = floorMod(user_id, buckets)`);
    * `parity` of Some(0)/Some(1) keeps only even/odd event_ids (the
    * q163 storage-partitioned-join pair). */
  def eventsBucketed(s: SparkSession, dir: String, buckets: Int,
      parity: Option[Int] = None): String =
    shared(dir, s"evb$buckets${parity.fold("")(p => s"p$p")}") { o =>
      val ev = eventsFeed(s, dir)
        .withColumn("ub", pmod(col("user_id"), lit(buckets.toLong)))
      parity.fold(ev)(p => ev.filter(col("event_id") % 2 === p))
        .write.format(Fmt).mode("append")
        .option("bucketBy", "user_id").option("buckets", buckets).save(o)
    }

  /** File-level clone of a fixture into `target` — how a MUTATING
    * query gets a private table: the ingest happens once per JVM,
    * every consumer after that pays a file copy, not a Spark job. */
  def freshCopyInto(sharedPath: String, target: Path): Unit = {
    TableDir.deleteTree(target)
    Files.createDirectories(target)
    val s = Files.list(Paths.get(sharedPath))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach(f =>
      Files.copy(f, target.resolve(f.getFileName.toString)))
    finally s.close()
  }

  /** Catalog-qualified name of a fixture (fixtures live in CatBase). */
  def tableName(path: String): String =
    Paths.get(path).getFileName.toString

  private val versionTok = scala.collection.mutable.Map[String, String]()

  /** Time-travel fixture (q309): the first HALF of the feed is
    * written, the snapshot token captured, then the second half
    * appended — so the table holds one committed version BEHIND its
    * head. Returns (path, token-after-half). Appends never bump the
    * generation, so the token stays readable for the JVM's lifetime;
    * read-only consumers share it like every other fixture. */
  def eventsLogVersioned(s: SparkSession, dir: String,
      shards: Int): (String, String) = {
    val p = shared(dir, s"evver$shards") { o =>
      val ev = eventsFeed(s, dir)
      val n = ev.count()
      ev.filter(col("event_id") < n / 2).write.format(Fmt)
        .mode("append").option("shards", shards).save(o)
      versionTok.synchronized {
        versionTok(o) = graft.sources.GraftLog.currentVersion(o)
      }
      ev.filter(col("event_id") >= n / 2).write.format(Fmt)
        .mode("append").option("shards", shards).save(o)
    }
    (p, versionTok.synchronized(versionTok(p)))
  }

  private def eventsFeed(s: SparkSession, dir: String) =
    Tables.table(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))

  /** Remove every mutating-query fixture CLONE (the freshCopyInto
    * targets), keeping the shared_* read-only fixtures. Bench calls
    * this between queries: accumulated clones are dirty pages the
    * flusher drains over later queries' timing windows. */
  def sweepClones(): Unit = {
    val base = Paths.get(CatBase)
    if (!Files.isDirectory(base)) return
    val l = Files.list(base)
    try l.iterator().asScala.toSeq
      .filter(p => Files.isDirectory(p) &&
        !p.getFileName.toString.startsWith("shared_"))
      .foreach(TableDir.deleteTree)
    finally l.close()
  }
}
