package graft.store

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one commit rule for a parquet table directory — the plain-
  * filesystem rendering of the reference's staged upsert (write to
  * staging, then DELETE-matched + INSERT in one transaction,
  * glue_jobs/etl-s3-processed-to-redshift.py:65-82).
  * Every full rewrite in `store` (merge, erasure, compaction,
  * aggregate refresh) goes through [[replace]]:
  *
  *   1. roll back an interrupted swap: a table present only as its
  *      parked generation is moved back (the staged rewrite never went
  *      live, so the parked copy is the last committed state); a parked
  *      copy next to a live table is a finished swap's leftover;
  *   2. build the new generation from the live table and write it to
  *      the hidden sibling `.<name>.staged`;
  *   3. move live → `.<name>.parked`, staged → live (both ATOMIC_MOVE),
  *      putting the parked table back if the second move fails;
  *   4. delete the parked generation.
  *
  * A crash at any point leaves either the live table or its parked
  * generation, never neither, and the next `replace` starts from it.
  * Staged and parked siblings are dot-prefixed so crawlers and
  * listings that skip hidden entries (CatalogZone.discover) never take
  * them for tables. A reader racing step 3 can see the directory
  * missing for the span of one rename; Delta/Iceberg close that window
  * with a metadata commit, which a bare directory cannot. Single writer
  * per table.
  */
object TableDir {

  def staged(dir: Path): Path = sibling(dir, "staged")
  def parked(dir: Path): Path = sibling(dir, "parked")

  private def sibling(dir: Path, kind: String): Path =
    dir.resolveSibling(s".${dir.getFileName}.$kind")

  /** Rewrite the table at `dir` as `build(live table)` (`None` when
    * there is no table yet) and swap the result in. */
  def replace(spark: SparkSession, dir: String)(
      build: Option[DataFrame] => DataFrame): Unit = {
    val live = Paths.get(dir)
    val park = parked(live)
    val stage = staged(live)
    if (Files.exists(park)) {
      if (Files.exists(live)) deleteTree(park) else move(park, live)
    }
    val hadLive = Files.exists(live)
    build(if (hadLive) Some(spark.read.parquet(dir)) else None)
      .write.mode("overwrite").parquet(stage.toString)
    if (hadLive) move(live, park)
    try move(stage, live)
    catch {
      case e: Throwable =>
        if (hadLive) move(park, live)
        throw e
    }
    deleteTree(park)
  }

  private def move(from: Path, to: Path): Unit =
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)

  /** Atomically rename `staged` into `dst` if no entry is live there;
    * false = lost the race (an equal entry is already live — callers
    * publish content-addressed entries, so same name ⇒ same bytes).
    * On Linux, rename(2) onto an existing non-empty directory fails
    * with ENOTEMPTY, which the JDK surfaces as
    * DirectoryNotEmptyException (not FileAlreadyExistsException) — so
    * a lost race is ANY rename failure where the winner's entry is
    * live (`dst/_SUCCESS` exists). Only a failure with no live entry
    * is a real error worth surfacing. */
  def publish(staged: Path, dst: Path): Boolean = {
    def lostRace(e: FileSystemException): Boolean =
      e.isInstanceOf[java.nio.file.FileAlreadyExistsException] ||
        e.isInstanceOf[java.nio.file.DirectoryNotEmptyException] ||
        Files.exists(dst.resolve("_SUCCESS"))
    try { move(staged, dst); true }
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        // same-volume local rename supports ATOMIC_MOVE; a directory
        // on a filesystem that doesn't gets the plain-rename fallback
        // (still all-or-nothing for directories on POSIX)
        try { Files.move(staged, dst); true }
        catch { case e2: FileSystemException if lostRace(e2) => false }
      case e: FileSystemException if lostRace(e) => false
    }
  }

  /** Delete `p` and everything under it, leaves first; a missing `p`
    * is a no-op. Returns the number of entries deleted. */
  def deleteTree(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .filter(f => Files.deleteIfExists(f)).count()
      finally walk.close()
    }
}
