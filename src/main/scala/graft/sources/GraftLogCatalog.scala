package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.store.TableDir

/** Session-catalog plugin exposing `.graftlog` shard directories as
  * SQL-addressable V2 tables — the piece that turns the connector
  * from a path-based `spark.read.format(...)` source into a named
  * surface the whole SQL tier can reach:
  *
  * {{{
  *   spark.sql.catalog.glog      = graft.sources.GraftLogCatalog
  *   spark.sql.catalog.glog.base = /data/graftlogs
  *   SELECT ... FROM glog.events_2024          -- catalog read
  *   DELETE FROM glog.events_2024
  *     WHERE event_id < 1700000000             -- retention drop
  * }}}
  *
  * A table named `glog.a.b.c` is the shard directory `base/a/b/c`
  * (namespaces are subdirectories, the hive-layout convention). The
  * catalog is deliberately thin: `loadTable` hands back the SAME
  * [[GraftLogTable]] the path API uses, so every pushdown tier
  * (sidecar pruning, aggregates, limit/top-n, runtime filtering,
  * storage-partitioned joins) and the [[GraftLogTable.deleteWhere]]
  * row-level DELETE work identically under SQL names. DELETE is only
  * reachable through a catalog (Spark's DeleteFromTable resolves
  * against named relations, not `format(...).load(path)` ones) —
  * which is why this class exists.
  *
  * Mirrors the reference's Glue Data Catalog role for its zone tables
  * (reference README.md:28; the parquet-side analogue is
  * store.CatalogZone) applied to the custom format.
  */
class GraftLogCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = _
  private var base: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    base = Option(options.get("base")).getOrElse(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
  }

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String =
    (base +: ident.namespace() :+ ident.name()).mkString("/")

  // Files.list holds a directory fd until closed — a long-lived
  // driver session calling loadTable/tableExists per query would
  // otherwise leak one per call until GC (EMFILE eventually)
  private def withListing[A](p: java.nio.file.Path)(
      f: Iterator[java.nio.file.Path] => A): A = {
    val s = Files.list(p)
    try f(s.iterator().asScala) finally s.close()
  }

  private def isTableDir(p: java.nio.file.Path): Boolean =
    Files.isDirectory(p) && withListing(p)(
      _.exists(_.toString.endsWith(".graftlog")))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = Paths.get((base +: namespace).mkString("/"))
    if (!Files.isDirectory(ns)) Array.empty
    else withListing(ns)(_.filter(isTableDir)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray)
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(Paths.get(dirOf(ident)))

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (!Files.isDirectory(Paths.get(dir)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    new GraftLogTable(dir, GraftLog.isBucketed(dir))
  }

  /** SQL time travel: `SELECT … FROM glog.t VERSION AS OF 'g0.8'` —
    * Spark routes the literal to this overload; the token pins the
    * snapshot's shard prefix for every scan of the returned handle
    * (see [[GraftLog.shardsAt]]: appends keep old tokens readable,
    * rewrites RETAIN them through the history manifest + retired
    * store, and only a VACUUM past the retention window makes them
    * fail loudly). The token is validated HERE so a vacuumed or
    * malformed version is an analysis-time error, not a mid-query
    * one. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    if (!Files.isDirectory(Paths.get(dir)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    GraftLog.shardsAt(dir, Some(version)) // validate eagerly
    new GraftLogTable(dir, GraftLog.isBucketed(dir), Some(version))
  }

  /** SQL time travel by WALL CLOCK: `SELECT … FROM glog.t TIMESTAMP
    * AS OF '2026-08-15 09:00:00'` — the form users actually type.
    * Spark hands the literal here as MICROseconds since epoch; the
    * commit markers ([[GraftLog.recordCommit]]) resolve it to the
    * newest snapshot token at-or-before the instant, and the read
    * then runs on the exact-version machinery — including its loud
    * failure once VACUUM has reclaimed the needed generation.
    * Resolution happens at analysis, so an instant predating the
    * table (or a table with no commit record) is an analysis-time
    * error, not a mid-query one. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (!Files.isDirectory(Paths.get(dir)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    val token = GraftLog.timestampAsOf(dir,
      Math.floorDiv(timestampMicros, 1000L))
    GraftLog.shardsAt(dir, Some(token)) // validate eagerly
    new GraftLogTable(dir, GraftLog.isBucketed(dir), Some(token))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(schema.isEmpty || schema == GraftLog.schema ||
      schema == GraftLog.bucketedSchema,
      "graftlog tables have a fixed schema " +
        "(event_id, ts, user_id, event_type, value[, ub])")
    Files.createDirectories(Paths.get(dirOf(ident)))
    loadTable(ident)
  }

  /** Schema evolution: `ALTER TABLE glog.t ADD COLUMN c BIGINT` —
    * the one evolution the line format supports without rewriting a
    * byte of data. The added column is recorded in the table-level
    * `_schema.ext` file (atomic rename); shards written BEFORE the
    * ALTER have shorter lines and read back as NULL for the new
    * column, writes after it carry the value appended to each line —
    * the parquet mergeSchema generational-read story (q185) at the
    * custom-format seam. Type changes, renames, drops and position
    * hints are rejected (they would need a rewrite), as are bucketed
    * tables (their writer validates a fixed row shape that co-locates
    * every storage-partitioned join — evolution is not worth risking
    * that contract silently). */
  /** Declares column-DEFAULT support so the SQL
    * `ALTER TABLE … ADD COLUMN c T DEFAULT d` form reaches
    * [[alterTable]] instead of failing at analysis. */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!Files.isDirectory(Paths.get(dir)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    require(!GraftLog.isBucketed(dir),
      s"graftlog table $dir is bucketed; ALTER TABLE is not supported " +
        "on bucketed layouts")
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graftlog ADD COLUMN supports top-level columns only, got " +
            a.fieldNames.mkString("."))
        require(a.position() == null,
          "graftlog ADD COLUMN appends at the end; FIRST/AFTER are " +
            "not supported (base line positions are immutable)")
        // DEFAULT d — the exists default (Delta semantics): rows
        // written before the ALTER read d; the stored token is the
        // literal rendered in the line format
        val default = Option(a.defaultValue()).map { dv =>
          val v = dv.getValue
          require(v != null && v.value() != null,
            "graftlog ADD COLUMN DEFAULT must be a non-null literal")
          v.value() match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.toString
            case other => other.toString
          }
        }
        GraftLog.addColumn(dir, a.fieldNames()(0), a.dataType(), default)
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graftlog RENAME COLUMN supports top-level columns only")
        GraftLog.renameColumn(dir, r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "graftlog DROP COLUMN supports top-level columns only")
        GraftLog.dropColumn(dir, d.fieldNames()(0))
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          "graftlog ALTER COLUMN TYPE supports top-level columns only")
        require(u.newDataType() ==
          org.apache.spark.sql.types.DoubleType,
          s"graftlog type changes support widening BIGINT -> DOUBLE " +
            s"only, got ${u.newDataType().sql}")
        GraftLog.widenColumn(dir, u.fieldNames()(0))
      case c => throw new UnsupportedOperationException(
        "graftlog ALTER TABLE supports ADD COLUMN, RENAME COLUMN, " +
          s"DROP COLUMN and ALTER COLUMN TYPE (widening) only, got $c")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = Paths.get(dirOf(ident))
    if (!Files.isDirectory(dir)) false
    else {
      // recursive: a rewritten table carries _history/_retired
      // subdirectories (snapshot retention, r11)
      TableDir.deleteTree(dir)
      true
    }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    Files.move(Paths.get(dirOf(oldIdent)), Paths.get(dirOf(newIdent)),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

  // ── FunctionCatalog: graft_* functions by QUALIFIED NAME ──────────
  // `SELECT glog.graft_nfc(...)` resolves from any session that knows
  // only the catalog conf — the pure-SQL route to the engine's custom
  // functions (the session registry needs a Scala register() call a
  // thrift/connect client can never make). Bound functions implement
  // the ScalarFunction magic method, so the planned expression is a
  // codegen'd Invoke — see functions.GraftV2Functions.

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      graft.functions.GraftV2Functions.names
        .map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty)
      try graft.functions.GraftV2Functions.load(ident.name())
      catch {
        case _: NoSuchElementException =>
          throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchFunctionException(ident)
      }
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  // ── ProcedureCatalog: table-maintenance ops by SQL CALL (r11) ─────
  // The lakehouse ops surface (Iceberg's `CALL catalog.system.x`,
  // Delta's VACUUM/OPTIMIZE) at Spark 4's first-class procedure seam:
  // `CALL glog.vacuum(table => 't', retain_generations => 1)`,
  // `CALL glog.compact(...)`, `CALL glog.clone(...)` — so a SQL-only
  // client (thrift/connect) can run maintenance without any Scala
  // entry point, exactly as it reads tables without any path API.
  // Each procedure is driver-side manifest work (see the GraftLog
  // methods it wraps); results come back as one summary row through a
  // LocalScan — no executor involvement for a metadata op.

  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, Procedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{DataTypes, StructField}

  /** One-row-result maintenance procedure scaffold: bind is identity
    * (parameters are statically typed), call runs the op and wraps
    * the summary row in a LocalScan. */
  private abstract class MaintenanceProc(pname: String,
      params: Array[ProcedureParameter], out: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = pname
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false // mutates state
    protected def run(input: InternalRow): Array[InternalRow]
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val result = run(input)
      util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = result
        override def readSchema(): StructType = out
      }).iterator()
    }
  }

  /** `table` arguments are names IN THIS CATALOG (dots = namespace
    * subdirectories), resolved exactly like loadTable. */
  private def tableDir(name: String): String = {
    val parts = name.split('.')
    dirOf(Identifier.of(parts.dropRight(1), parts.last))
  }

  // -1 defaults = "use the table's stored retention policy"
  // (CALL glog.set_retention) — the SQL-only lifecycle needs no knobs
  // repeated at every vacuum
  private def vacuumProc: MaintenanceProc = new MaintenanceProc("vacuum",
    Array(
      ProcedureParameter.in("table", DataTypes.StringType).build(),
      ProcedureParameter.in("retain_generations", DataTypes.IntegerType)
        .defaultValue("-1").build(),
      ProcedureParameter.in("min_age_ms", DataTypes.LongType)
        .defaultValue("-1").build()),
    new StructType(Array(
      StructField("files_deleted", DataTypes.LongType, nullable = false),
      StructField("bytes_reclaimed", DataTypes.LongType,
        nullable = false)))) {
    override protected def run(input: InternalRow): Array[InternalRow] = {
      val (f, b) = GraftLog.vacuum(tableDir(input.getUTF8String(0).toString),
        input.getInt(1), input.getLong(2))
      Array(InternalRow(f, b))
    }
  }

  private def compactProc: MaintenanceProc = new MaintenanceProc("compact",
    Array(
      ProcedureParameter.in("table", DataTypes.StringType).build(),
      ProcedureParameter.in("shards", DataTypes.IntegerType).build()),
    new StructType(Array(
      StructField("shards_before", DataTypes.IntegerType, nullable = false),
      StructField("shards_after", DataTypes.IntegerType,
        nullable = false)))) {
    override protected def run(input: InternalRow): Array[InternalRow] = {
      val (before, after) = GraftLog.compact(
        org.apache.spark.sql.SparkSession.active,
        tableDir(input.getUTF8String(0).toString), input.getInt(1))
      Array(InternalRow(before, after))
    }
  }

  private def cloneProc: MaintenanceProc = new MaintenanceProc("clone",
    Array(
      ProcedureParameter.in("src", DataTypes.StringType).build(),
      ProcedureParameter.in("dst", DataTypes.StringType).build(),
      ProcedureParameter.in("version", DataTypes.StringType)
        .defaultValue("NULL").build()),
    new StructType(Array(
      StructField("shards_linked", DataTypes.IntegerType,
        nullable = false)))) {
    override protected def run(input: InternalRow): Array[InternalRow] = {
      val version =
        if (input.isNullAt(2)) None
        else Some(input.getUTF8String(2).toString)
      Array(InternalRow(GraftLog.shallowClone(
        tableDir(input.getUTF8String(0).toString),
        tableDir(input.getUTF8String(1).toString), version)))
    }
  }

  private def historyProc: MaintenanceProc = new MaintenanceProc("history",
    Array(
      ProcedureParameter.in("table", DataTypes.StringType).build()),
    new StructType(Array(
      StructField("generation", DataTypes.LongType, nullable = false),
      StructField("n_shards_pinned", DataTypes.IntegerType,
        nullable = false),
      StructField("resolvable", DataTypes.BooleanType, nullable = false),
      StructField("retired_files", DataTypes.LongType, nullable = false),
      StructField("retired_bytes", DataTypes.LongType, nullable = false),
      StructField("is_current", DataTypes.BooleanType,
        nullable = false)))) {
    override protected def run(input: InternalRow): Array[InternalRow] =
      GraftLog.history(tableDir(input.getUTF8String(0).toString))
        .map { case (g, p, res, rf, rb, curr) =>
          InternalRow(g, p, res, rf, rb, curr) }.toArray
  }

  /** `CALL glog.describe(table)` — one-row table summary (r14): the
    * DESCRIBE DETAIL of the format. Listings only; n_rows is -1 when
    * any sidecar is missing (CALL glog.analyze restores it) rather
    * than a silently wrong count. */
  private def describeProc: MaintenanceProc = new MaintenanceProc(
    "describe",
    Array(
      ProcedureParameter.in("table", DataTypes.StringType).build()),
    new StructType(Array(
      StructField("generation", DataTypes.LongType, nullable = false),
      StructField("n_shards", DataTypes.IntegerType, nullable = false),
      StructField("n_rows", DataTypes.LongType, nullable = false),
      StructField("total_bytes", DataTypes.LongType, nullable = false),
      StructField("n_dv_files", DataTypes.LongType, nullable = false),
      StructField("n_evolved_cols", DataTypes.IntegerType,
        nullable = false),
      StructField("n_dropped_slots", DataTypes.IntegerType,
        nullable = false),
      StructField("n_constraints", DataTypes.IntegerType,
        nullable = false),
      StructField("n_indexed_cols", DataTypes.IntegerType,
        nullable = false),
      StructField("retain_generations", DataTypes.IntegerType,
        nullable = false),
      StructField("min_age_ms", DataTypes.LongType, nullable = false),
      StructField("bucketed", DataTypes.BooleanType,
        nullable = false)))) {
    override def isDeterministic: Boolean = false // reads live state
    override protected def run(input: InternalRow): Array[InternalRow] = {
      val (g, ns, nr, tb, dv, ev, dr, cs, ix, rg, ma, bk) =
        GraftLog.describe(tableDir(input.getUTF8String(0).toString))
      Array(InternalRow(g, ns, nr, tb, dv, ev, dr, cs, ix, rg, ma, bk))
    }
  }

  /** `CALL glog.dv_stats(table)` — the operator-facing view of the
    * merge-on-read routing (r14): per live shard, physical rows,
    * suppressed keys, suppressed fraction, dv sidecar bytes, and the
    * headroom left before the dense-rewrite threshold would flip the
    * next row-level touch to an in-place rewrite. Pure metadata
    * (shard + dv listings, one key count per dv file) — never reads
    * row data, so it costs the sidecar class at any table size. */
  private def dvStatsProc: MaintenanceProc = new MaintenanceProc(
    "dv_stats",
    Array(
      ProcedureParameter.in("table", DataTypes.StringType).build()),
    new StructType(Array(
      StructField("shard", DataTypes.StringType, nullable = false),
      StructField("phys_rows", DataTypes.LongType, nullable = false),
      StructField("suppressed", DataTypes.LongType, nullable = false),
      StructField("suppressed_fraction", DataTypes.DoubleType,
        nullable = false),
      StructField("dv_bytes", DataTypes.LongType, nullable = false),
      StructField("headroom_to_dense", DataTypes.DoubleType,
        nullable = false)))) {
    override def isDeterministic: Boolean = false // reads live state
    override protected def run(input: InternalRow): Array[InternalRow] =
      GraftLog.dvStats(tableDir(input.getUTF8String(0).toString))
        .map { case (s, p, k, f, b, h) =>
          InternalRow(org.apache.spark.unsafe.types.UTF8String
            .fromString(s), p, k, f, b, h) }.toArray
  }

  /** `CALL glog.set_retention(table, retain_generations, min_age_ms)`
    * — persist the vacuum defaults on the table, so retention becomes
    * a one-time declaration instead of a per-vacuum argument. */
  private def setRetentionProc: MaintenanceProc =
    new MaintenanceProc("set_retention",
      Array(
        ProcedureParameter.in("table", DataTypes.StringType).build(),
        ProcedureParameter.in("retain_generations",
          DataTypes.IntegerType).build(),
        ProcedureParameter.in("min_age_ms", DataTypes.LongType)
          .defaultValue("0").build()),
      new StructType(Array(
        StructField("retain_generations", DataTypes.IntegerType,
          nullable = false),
        StructField("min_age_ms", DataTypes.LongType,
          nullable = false)))) {
      override protected def run(input: InternalRow): Array[InternalRow] = {
        val dir = tableDir(input.getUTF8String(0).toString)
        GraftLog.setRetention(dir, input.getInt(1), input.getLong(2))
        val (r, m) = GraftLog.retentionPolicy(dir)
        Array(InternalRow(r, m))
      }
    }

  /** `CALL glog.analyze(table)` — rebuild missing sidecars so pruning,
    * reported statistics and the metadata-aggregate fast path recover
    * after a writer crashed between shard and sidecar. */
  private def analyzeProc: MaintenanceProc = new MaintenanceProc("analyze",
    Array(
      ProcedureParameter.in("table", DataTypes.StringType).build()),
    new StructType(Array(
      StructField("shards_listed", DataTypes.IntegerType,
        nullable = false),
      StructField("sidecars_rebuilt", DataTypes.IntegerType,
        nullable = false)))) {
    override protected def run(input: InternalRow): Array[InternalRow] = {
      val (listed, rebuilt) = GraftLog.analyze(
        tableDir(input.getUTF8String(0).toString))
      Array(InternalRow(listed, rebuilt))
    }
  }

  /** `CALL glog.index('tbl', 'col', 'range'|'bloom')` — build (or
    * rebuild after rewrites) the secondary shard index on a
    * non-clustered column; see [[GraftLog.buildIndex]]. The SQL-only
    * client gets the same point-lookup/time-window pruning the Scala
    * API does. */
  private def indexProc: MaintenanceProc = new MaintenanceProc("index",
    Array(
      ProcedureParameter.in("table", DataTypes.StringType).build(),
      ProcedureParameter.in("column", DataTypes.StringType).build(),
      ProcedureParameter.in("kind", DataTypes.StringType).build(),
      // incremental => true: (re)index only missing/echo-stale shards
      // (O(new data) — GraftLog.buildIndexIncremental); the default
      // full pass rebuilds the whole snapshot
      ProcedureParameter.in("incremental", DataTypes.BooleanType)
        .defaultValue("false").build()),
    new StructType(Array(
      StructField("shards_indexed", DataTypes.IntegerType,
        nullable = false)))) {
    override protected def run(input: InternalRow): Array[InternalRow] = {
      val inc = !input.isNullAt(3) && input.getBoolean(3)
      val spark = org.apache.spark.sql.SparkSession.active
      val dir = tableDir(input.getUTF8String(0).toString)
      val col = input.getUTF8String(1).toString
      val kind = input.getUTF8String(2).toString
      val n =
        if (inc) GraftLog.buildIndexIncremental(spark, dir, col, kind)
        else GraftLog.buildIndex(spark, dir, col, kind)
      Array(InternalRow(n))
    }
  }

  /** `CALL glog.cluster('tbl', shards, 'col')` — the z-order
    * clustering rewrite ([[GraftLog.clusterZ]]): re-shard so
    * per-shard min/max get tight in BOTH event_id and `col`, making
    * a secondary range index on `col` prune sharply. */
  private def clusterProc: MaintenanceProc = new MaintenanceProc("cluster",
    Array(
      ProcedureParameter.in("table", DataTypes.StringType).build(),
      ProcedureParameter.in("shards", DataTypes.IntegerType).build(),
      // comma-separated list for an n-dimensional key (event_id is
      // always the implicit first dimension)
      ProcedureParameter.in("dim", DataTypes.StringType)
        .defaultValue("'user_id'").build(),
      // incremental => true: z-order only shards appended since the
      // last clustering pass (GraftLog.clusterZIncremental — the
      // liquid-clustering step); shards = 0 sizes the output from
      // the settled layout
      ProcedureParameter.in("incremental", DataTypes.BooleanType)
        .defaultValue("false").build()),
    new StructType(Array(
      StructField("shards_before", DataTypes.IntegerType, nullable = false),
      StructField("shards_after", DataTypes.IntegerType,
        nullable = false)))) {
    override protected def run(input: InternalRow): Array[InternalRow] = {
      val spark = org.apache.spark.sql.SparkSession.active
      val dir = tableDir(input.getUTF8String(0).toString)
      val inc = !input.isNullAt(3) && input.getBoolean(3)
      val (before, after) =
        if (inc) GraftLog.clusterZIncremental(spark, dir, input.getInt(1))
        else GraftLog.clusterZDims(spark, dir, input.getInt(1),
          input.getUTF8String(2).toString.split(',').map(_.trim).toSeq)
      Array(InternalRow(before, after))
    }
  }

  /** `CALL glog.optimize('tbl', target_bytes)` — bin-pack only the
    * shards smaller than the target ([[GraftLog.optimize]]): the
    * streaming small-file answer, O(small bytes) instead of
    * [[GraftLog.compact]]'s O(table). */
  private def optimizeProc: MaintenanceProc = new MaintenanceProc("optimize",
    Array(
      ProcedureParameter.in("table", DataTypes.StringType).build(),
      ProcedureParameter.in("target_bytes", DataTypes.LongType).build()),
    new StructType(Array(
      StructField("shards_merged", DataTypes.IntegerType, nullable = false),
      StructField("bins_written", DataTypes.IntegerType,
        nullable = false)))) {
    override protected def run(input: InternalRow): Array[InternalRow] = {
      val (m, b) = GraftLog.optimize(
        org.apache.spark.sql.SparkSession.active,
        tableDir(input.getUTF8String(0).toString), input.getLong(1))
      Array(InternalRow(m, b))
    }
  }

  /** `CALL glog.add_constraint('tbl', 'name', 'sql')` — declare a
    * write-time CHECK constraint (validates existing rows first) —
    * and its inverse. See [[GraftLog.addConstraint]]. */
  private def addConstraintProc: MaintenanceProc =
    new MaintenanceProc("add_constraint",
      Array(
        ProcedureParameter.in("table", DataTypes.StringType).build(),
        ProcedureParameter.in("name", DataTypes.StringType).build(),
        ProcedureParameter.in("expr", DataTypes.StringType).build()),
      new StructType(Array(
        StructField("n_constraints", DataTypes.IntegerType,
          nullable = false)))) {
      override protected def run(input: InternalRow): Array[InternalRow] = {
        val dir = tableDir(input.getUTF8String(0).toString)
        GraftLog.addConstraint(org.apache.spark.sql.SparkSession.active,
          dir, input.getUTF8String(1).toString,
          input.getUTF8String(2).toString)
        Array(InternalRow(GraftLog.constraints(dir).size))
      }
    }

  private def dropConstraintProc: MaintenanceProc =
    new MaintenanceProc("drop_constraint",
      Array(
        ProcedureParameter.in("table", DataTypes.StringType).build(),
        ProcedureParameter.in("name", DataTypes.StringType).build()),
      new StructType(Array(
        StructField("dropped", DataTypes.BooleanType, nullable = false)))) {
      override protected def run(input: InternalRow): Array[InternalRow] =
        Array(InternalRow(GraftLog.dropConstraint(
          tableDir(input.getUTF8String(0).toString),
          input.getUTF8String(1).toString)))
    }

  private val procedures: Map[String, () => UnboundProcedure] = Map(
    "vacuum" -> (() => vacuumProc),
    "compact" -> (() => compactProc),
    "clone" -> (() => cloneProc),
    "describe" -> (() => describeProc),
    "dv_stats" -> (() => dvStatsProc),
    "history" -> (() => historyProc),
    "set_retention" -> (() => setRetentionProc),
    "analyze" -> (() => analyzeProc),
    "index" -> (() => indexProc),
    "cluster" -> (() => clusterProc),
    "optimize" -> (() => optimizeProc),
    "add_constraint" -> (() => addConstraintProc),
    "drop_constraint" -> (() => dropConstraintProc))

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    if (ident.namespace().isEmpty)
      procedures.get(ident.name().toLowerCase(java.util.Locale.ROOT))
        .map(_.apply())
        .getOrElse(throw new IllegalArgumentException(
          s"unknown graftlog procedure: ${ident.name()} " +
            s"(available: ${procedures.keys.toSeq.sorted.mkString(", ")})"))
    else throw new IllegalArgumentException(
      s"graftlog procedures live at the catalog root, got namespace " +
        ident.namespace().mkString("."))

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      procedures.keys.toSeq.sorted
        .map(n => Identifier.of(namespace, n)).toArray
    else Array.empty
}
