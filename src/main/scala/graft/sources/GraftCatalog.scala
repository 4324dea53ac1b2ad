package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCapability, TableCatalog, TableChange, SupportsRead, SupportsWrite}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{And, BaseRelation, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, TableScan}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** THE SQL SURFACE OVER MANIFEST TABLES — a DataSource V2
  * `TableCatalog`, registered the way every public table format's
  * catalog is (Delta's `DeltaCatalog`, Iceberg's `SparkCatalog`):
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft_tables",
  *                  classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft_tables.warehouse", dir)
  *   spark.sql("SELECT ... FROM graft_tables.db.t")              // newest
  *   spark.sql("SELECT ... FROM graft_tables.db.t VERSION AS OF 2")
  *   spark.sql("SELECT ... FROM graft_tables.db.t TIMESTAMP AS OF '...'")
  * }}}
  * An identifier's namespace + name map to a directory under the
  * configured warehouse (`<warehouse>/<ns...>/<name>`), and a table is
  * any such directory holding a committed `_manifests` log. Time
  * travel rides Spark's own SQL: the analyzer routes `VERSION AS OF` /
  * `TIMESTAMP AS OF` to the two [[TableCatalog.loadTable]] overloads,
  * which pin [[ManifestTable.readAt]] / [[ManifestTable.readAtTimestamp]]
  * resolution; a vacuumed version fails with the manifest layer's own
  * loud message, never a silent newer-version read.
  *
  * Read path: DSv2 down to the scan boundary, then Spark's public
  * [[V1Scan]] fallback (the JDBC connector's shape) — the planner's
  * pushed column set and filters arrive through
  * [[SupportsPushDownRequiredColumns]]/[[SupportsPushDownFilters]],
  * drive MANIFEST file skipping (v2 bounds + v4 multi-column stats,
  * decided before any footer read) plus parquet row-group pushdown via
  * [[ManifestTable.sqlScan]], and Spark re-applies every filter
  * post-scan (this scan declares them all residual), so an
  * untranslatable predicate costs IO, never correctness. At 100 TB the
  * catalog adds NO plan cost over the Scala API: same manifest read,
  * same file pruning, same parquet scan — the V1 bridge's only tax is
  * the Row round-trip at the scan boundary, the price every
  * `PrunedFilteredScan`-era connector pays.
  *
  * Write path: `CREATE TABLE` seeds an empty manifest table, `INSERT
  * INTO` / `INSERT OVERWRITE` ride the public [[V1Write]] fallback
  * onto [[ManifestTable.append]]/[[ManifestTable.overwrite]] (the same
  * commit protocol, constraints and all), `DELETE FROM` runs the
  * copy-on-write [[ManifestTable.deleteWhere]] via `SupportsDeleteV2`,
  * `UPDATE` and `MERGE INTO` route through the post-hoc analysis rule
  * [[GraftRowLevelSqlRule]] onto [[ManifestTable.updateWhere]] /
  * [[ManifestTable.mergeCoW]] — the same FILE-PRUNED copy-on-write
  * commits the Scala API runs, never a whole-table rewrite (the rule's
  * scaladoc states why this beats `SupportsRowLevelOperations` here) —
  * and `CALL cat.system.optimize/restore/vacuum/zorder/add_tag/
  * remove_tag/create_branch/publish_branch/drop_branch` runs
  * maintenance ([[GraftProcedures]]). `ALTER TABLE ADD/RENAME/DROP
  * COLUMN` and `ALTER COLUMN ... TYPE` (lossless widening) are
  * header-only evolution commits (field ids); `DROP TABLE` works (a
  * catalog operation, not a commit); narrowing/cross-family retypes
  * and `RENAME TABLE` reject loudly. */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def rootOf(ident: Identifier): String =
    ((ident.namespace() :+ ident.name())
      .foldLeft(new Path(warehouse)) { (p, seg) => new Path(p, seg) })
      .toString

  private def isTable(root: String): Boolean =
    ManifestTable.currentVersion(spark, root).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(new Path(warehouse)) { (p, s) =>
      new Path(p, s) }
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => isTable(new Path(dir, n).toString))
      .map(n => Identifier.of(namespace, n)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(rootOf(ident))

  /** Metadata-table suffixes (Iceberg's `db.t.history` shape): when
    * the identifier's NAMESPACE path resolves to a manifest table and
    * the name is one of these, serve the table's metadata instead of
    * its rows. A real data table always wins the name. `tags` and
    * `branches` list the ref state (Iceberg's `refs` shape) — the SQL
    * face of discovering what `VERSION AS OF '<name>'` can resolve. */
  private val MetaNames = Set("history", "files", "tags", "branches")

  /** Branch-table suffix (Iceberg's `db.t.branch_<name>` shape): the
    * WRITE face of write-audit-publish through SQL — `INSERT INTO
    * cat.db.t.branch_stage` stages an append on the branch
    * ([[ManifestTable.appendToBranch]]: schema contract, constraints
    * and the resurrection guard enforced exactly as on main, invisible
    * to every main read until publish), and `SELECT ... FROM` the same
    * identifier is the audit read — the second resolution path beside
    * `VERSION AS OF '<branch>'`. A real data table always wins the
    * name; a suffix naming no live branch fails at analysis. The
    * `branch_` PREFIX matches case-insensitively (a syntactic marker,
    * like the metadata suffixes); the branch NAME after it is an
    * identifier and resolves exactly as created (branch names are
    * case-sensitive, like tags). */
  private val BranchPrefix = "branch_"

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    if (isTable(root))
      new GraftSqlTable(ident.toString, root, pinned = None)
    else {
      val parentRoot = ident.namespace().foldLeft(new Path(warehouse)) {
        (p, s) => new Path(p, s) }.toString
      val name = ident.name().toLowerCase
      if (MetaNames.contains(name) && isTable(parentRoot))
        new GraftMetaTable(ident.toString, parentRoot, name)
      else if (name.startsWith(BranchPrefix) && isTable(parentRoot) &&
          ManifestTable.branchBase(spark, parentRoot,
            ident.name().drop(BranchPrefix.length)).isDefined)
        new GraftBranchTable(ident.toString, parentRoot,
          ident.name().drop(BranchPrefix.length))
      else throw new NoSuchTableException(ident)
    }
  }

  /** `VERSION AS OF v` — the analyzer hands the literal through as a
    * string: an integer pins that version; anything else resolves as a
    * NAMED TAG (`VERSION AS OF 'prod'` — Iceberg's ref shape,
    * [[ManifestTable.tags]]). Resolution happens NOW (vacuumed or
    * unknown versions/tags fail at analysis with the manifest layer's
    * message, not at execution). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    // name resolution order: TAGS WIN (the established immutable pin —
    // a later-created branch must never silently change what a pinned
    // query serves; createBranch also rejects tag-name collisions),
    // then a live BRANCH name resolves to its head — the AUDIT read of
    // write-audit-publish (SQL writes to a branch go through the
    // `db.t.branch_<name>` suffix identifier, not VERSION AS OF —
    // time-travel syntax has no INSERT form; merges stay on the Scala
    // staging API). The branch probe runs only on a tag miss, so
    // tag-pinned analysis pays no extra manifest read.
    val v = version.toIntOption.getOrElse {
      val t = ManifestTable.tags(spark, root)
      t.getOrElse(version, {
        if (ManifestTable.branchBase(spark, root, version).isDefined)
          return new GraftBranchTable(s"$ident@branch-$version", root,
            version)
        throw new IllegalArgumentException(
          s"VERSION AS OF on $ident: '$version' is neither an integer " +
            "version nor a tag or branch " +
            s"(tags: ${t.keys.toSeq.sorted.mkString(", ")})")
      })
    }
    // resolve NOW: a vacuumed or never-committed version must fail at
    // analysis with the manifest layer's message, not at execution
    ManifestTable.snapshot(spark, root, Some(v))
    new GraftSqlTable(s"$ident@v$v", root, pinned = Some(v))
  }

  /** `TIMESTAMP AS OF t` — Spark hands epoch MICROS; resolution (newest
    * monotonized commit instant at-or-before, loud pre-history failure)
    * is [[ManifestTable.versionAtTimestamp]]'s — the SAME rule the
    * Scala surface uses. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val tsMs = Math.floorDiv(timestamp, 1000L)
    val v = ManifestTable.versionAtTimestamp(spark, root, tsMs)
    new GraftSqlTable(s"$ident@t$tsMs", root, pinned = Some(v))
  }

  /** `CREATE TABLE` seeds an empty manifest table with the declared
    * schema (version 1 = one zero-row schema-bearing file — the same
    * bootstrap the streaming sinks use), ready for `INSERT INTO`.
    * Partition transforms are rejected (layout is the manifest
    * format's own job: clustered optimize, Z-order, bounds stamping —
    * all Scala-API operations on the same table). */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      s"CREATE TABLE $ident: partition transforms are not supported — " +
        "cluster with ManifestTable.optimize / ZOrderLayout instead")
    val root = rootOf(ident)
    if (isTable(root)) throw new org.apache.spark.sql.catalyst.analysis
      .TableAlreadyExistsException(Seq(catalogName) ++
        ident.namespace().toSeq :+ ident.name())
    val sp = spark
    ManifestTable.overwrite(sp, root,
      sp.createDataFrame(sp.sparkContext.emptyRDD[Row], schema)
        .repartition(1))
    new GraftSqlTable(ident.toString, root, pinned = None)
  }

  /** `ALTER TABLE ... ADD COLUMN(S)` → [[ManifestTable.addColumns]],
    * `RENAME COLUMN` → [[ManifestTable.renameColumn]], `DROP COLUMN` →
    * [[ManifestTable.dropColumn]] — all header-only evolution commits
    * (zero data IO; renames/drops resolve by the stamped field ids).
    * Everything ELSE — retype, NOT NULL adds, positioned adds,
    * defaults, property changes — rejects loudly with the workaround
    * named: never a silent type flip through DDL. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    changes match {
      case Seq(r: TableChange.RenameColumn) =>
        require(r.fieldNames().length == 1,
          s"ALTER TABLE $ident RENAME COLUMN: nested fields are not " +
            s"supported, got ${r.fieldNames().mkString(".")}")
        ManifestTable.renameColumn(spark, root, r.fieldNames()(0),
          r.newName())
        return new GraftSqlTable(ident.toString, root, pinned = None)
      case Seq(d: TableChange.DeleteColumn) =>
        require(d.fieldNames().length == 1,
          s"ALTER TABLE $ident DROP COLUMN: nested fields are not " +
            s"supported, got ${d.fieldNames().mkString(".")}")
        ManifestTable.dropColumn(spark, root, d.fieldNames()(0))
        return new GraftSqlTable(ident.toString, root, pinned = None)
      case Seq(u: TableChange.UpdateColumnType) =>
        // `ALTER COLUMN x TYPE t` — sound exactly when it's a lossless
        // WIDENING (ManifestTable.widenColumn's allowlist); everything
        // else rejects there with the rewrite workaround
        require(u.fieldNames().length == 1,
          s"ALTER TABLE $ident ALTER COLUMN TYPE: nested fields are " +
            s"not supported, got ${u.fieldNames().mkString(".")}")
        ManifestTable.widenColumn(spark, root, u.fieldNames()(0),
          u.newDataType())
        return new GraftSqlTable(ident.toString, root, pinned = None)
      case _ =>
    }
    val adds = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          s"ALTER TABLE $ident ADD COLUMN: nested (struct-field) " +
            s"additions are not supported, got " +
            a.fieldNames().mkString("."))
        require(a.isNullable,
          s"ALTER TABLE $ident ADD COLUMN ${a.fieldNames()(0)}: new " +
            "columns must be nullable — no existing row carries them " +
            "(add the column, backfill, then enforce via a CHECK " +
            "constraint)")
        require(a.position() == null,
          s"ALTER TABLE $ident ADD COLUMN ${a.fieldNames()(0)}: " +
            "FIRST/AFTER positioning is not supported — evolution " +
            "appends columns after the stored ones")
        require(a.defaultValue() == null,
          s"ALTER TABLE $ident ADD COLUMN ${a.fieldNames()(0)}: " +
            "DEFAULT values are not supported — old files read the " +
            "column as null; backfill with UPDATE")
        StructField(a.fieldNames()(0), a.dataType(), nullable = true)
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE $ident: only ADD COLUMN / RENAME COLUMN / DROP " +
          s"COLUMN / ALTER COLUMN TYPE (lossless widening) are " +
          s"supported through catalog $catalogName (got " +
          s"${other.getClass.getSimpleName}); RENAME/DROP/TYPE route " +
          "only as the statement's SOLE change — a compound clause " +
          "(e.g. TYPE + COMMENT in one ALTER COLUMN) must split into " +
          "one statement per change; constraints ride " +
          "ManifestTable.addConstraint/dropConstraint")
    }
    ManifestTable.addColumns(spark, root, adds)
    new GraftSqlTable(ident.toString, root, pinned = None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    if (!isTable(root)) false
    else {
      val p = new Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"RENAME TABLE through catalog $catalogName is not supported")

  // -------------------------------------------------------------------
  // Maintenance procedures (`CALL cat.system.<proc>(...)` — the
  // Iceberg stored-procedure shape on Spark 4's ProcedureCatalog)
  // -------------------------------------------------------------------

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      GraftProcedures.names.map(n =>
        Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure = {
    require(ident.namespace().toSeq == Seq("system") &&
      GraftProcedures.names.contains(ident.name()),
      s"no procedure $ident — have system.{" +
        GraftProcedures.names.mkString(", ") + "}")
    GraftProcedures.load(ident.name(), warehouse)
  }
}

/** The maintenance surface through SQL `CALL` — the operations a table
  * owner schedules (Iceberg's `CALL cat.system.rewrite_data_files`
  * shape): OPTIMIZE (clustered compaction behind one commit), VACUUM
  * (retention-guarded history retirement), RESTORE (zero-IO rollback
  * commit). Each returns its diagnostics as a one-row result. The
  * `table` argument is the dot-separated identifier under the
  * catalog's warehouse. */
private[sources] object GraftProcedures {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.LocalScan
  import org.apache.spark.sql.types.{DataTypes, StructField}

  val names: Seq[String] =
    Seq("optimize", "vacuum", "restore", "zorder", "add_tag",
      "remove_tag", "create_branch", "publish_branch", "drop_branch")

  private def rootOf(warehouse: String, table: String): String =
    table.split('.').foldLeft(new Path(warehouse)) { (p, s) =>
      new Path(p, s.stripPrefix("`").stripSuffix("`")) }.toString

  private def result(schema: StructType,
                     row: InternalRow): java.util.Iterator[Scan] =
    java.util.Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = Array(row)
      override def readSchema(): StructType = schema
    }).iterator()

  private def proc(procName: String, descr: String,
                   params: Seq[ProcedureParameter],
                   out: StructType,
                   run: InternalRow => InternalRow): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = descr
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = procName
          override def description(): String = descr
          override def parameters(): Array[ProcedureParameter] =
            params.toArray
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow)
              : java.util.Iterator[Scan] = result(out, run(input))
        }
    }

  private def in(n: String,
                 dt: org.apache.spark.sql.types.DataType) =
    ProcedureParameter.in(n, dt).build()

  def load(procName: String, warehouse: String): UnboundProcedure = {
    def spark = SparkSession.active
    procName match {
      case "optimize" => proc("optimize",
        "clustered compaction behind one atomic commit " +
          "(ManifestTable.optimize)",
        Seq(in("table", DataTypes.StringType),
          in("cluster_col", DataTypes.StringType),
          in("target_files", DataTypes.IntegerType)),
        StructType(Seq(StructField("version", DataTypes.IntegerType),
          StructField("files_before", DataTypes.IntegerType),
          StructField("files_after", DataTypes.IntegerType))),
        input => {
          val (v, b, a) = ManifestTable.optimize(spark,
            rootOf(warehouse, input.getUTF8String(0).toString),
            input.getUTF8String(1).toString, input.getInt(2))
          InternalRow(v, b, a)
        })
      case "vacuum" => proc("vacuum",
        "retire history below the retained window; collect orphans " +
          "(ManifestTable.vacuum)",
        Seq(in("table", DataTypes.StringType),
          in("retain", DataTypes.IntegerType),
          in("orphan_retention_ms", DataTypes.LongType)),
        StructType(Seq(
          StructField("deleted_files", DataTypes.IntegerType))),
        input => InternalRow(ManifestTable.vacuum(spark,
          rootOf(warehouse, input.getUTF8String(0).toString),
          input.getInt(1), input.getLong(2))))
      case "restore" => proc("restore",
        "re-commit an old version verbatim as the newest (zero data " +
          "IO; ManifestTable.restore)",
        Seq(in("table", DataTypes.StringType),
          in("version", DataTypes.IntegerType)),
        StructType(Seq(
          StructField("new_version", DataTypes.IntegerType))),
        input => InternalRow(ManifestTable.restore(spark,
          rootOf(warehouse, input.getUTF8String(0).toString),
          input.getInt(1))))
      case "zorder" => proc("zorder",
        "N-dimensional clustered compaction: Morton-interleaved " +
          "layout + v4 multi-column stats over a comma-separated " +
          "column list (ManifestTable.optimizeZOrderCols — Delta's " +
          "OPTIMIZE ZORDER BY)",
        Seq(in("table", DataTypes.StringType),
          in("cols", DataTypes.StringType),
          in("target_files", DataTypes.IntegerType)),
        StructType(Seq(StructField("version", DataTypes.IntegerType),
          StructField("files_before", DataTypes.IntegerType),
          StructField("files_after", DataTypes.IntegerType))),
        input => {
          val (v, b, a) = ManifestTable.optimizeZOrderCols(spark,
            rootOf(warehouse, input.getUTF8String(0).toString),
            input.getUTF8String(1).toString.split(',')
              .map(_.trim).toSeq.filter(_.nonEmpty),
            input.getInt(2))
          InternalRow(v, b, a)
        })
      case "add_tag" => proc("add_tag",
        "pin a version under a human name — a header-only commit; the " +
          "tagged version becomes a vacuum retention floor and " +
          "resolves via VERSION AS OF 'name' (ManifestTable.addTag)",
        Seq(in("table", DataTypes.StringType),
          in("name", DataTypes.StringType),
          in("version", DataTypes.IntegerType)),
        StructType(Seq(
          StructField("new_version", DataTypes.IntegerType))),
        input => InternalRow(ManifestTable.addTag(spark,
          rootOf(warehouse, input.getUTF8String(0).toString),
          input.getUTF8String(1).toString, input.getInt(2))))
      case "remove_tag" => proc("remove_tag",
        "drop a named tag — header-only commit; the tagged version " +
          "becomes vacuum-collectable again (ManifestTable.removeTag)",
        Seq(in("table", DataTypes.StringType),
          in("name", DataTypes.StringType)),
        StructType(Seq(
          StructField("new_version", DataTypes.IntegerType))),
        input => InternalRow(ManifestTable.removeTag(spark,
          rootOf(warehouse, input.getUTF8String(0).toString),
          input.getUTF8String(1).toString)))
      // the write-audit-publish lifecycle through SQL: fork / promote /
      // abandon (branch WRITES stay on the Scala staging API; the
      // audit READ is `VERSION AS OF '<branch>'`)
      case "create_branch" => proc("create_branch",
        "fork a writable branch at the current version — one " +
          "header-only commit declaring the pointer " +
          "(ManifestTable.createBranch)",
        Seq(in("table", DataTypes.StringType),
          in("name", DataTypes.StringType)),
        StructType(Seq(
          StructField("new_version", DataTypes.IntegerType))),
        input => InternalRow(ManifestTable.createBranch(spark,
          rootOf(warehouse, input.getUTF8String(0).toString),
          input.getUTF8String(1).toString)))
      case "publish_branch" => proc("publish_branch",
        "land the branch's net change on the current main head as ONE " +
          "commit; sound only over append-only main movement " +
          "(ManifestTable.publishBranch)",
        Seq(in("table", DataTypes.StringType),
          in("name", DataTypes.StringType)),
        StructType(Seq(
          StructField("new_version", DataTypes.IntegerType))),
        input => InternalRow(ManifestTable.publishBranch(spark,
          rootOf(warehouse, input.getUTF8String(0).toString),
          input.getUTF8String(1).toString)))
      case "drop_branch" => proc("drop_branch",
        "abandon a branch: remove the pointer and its staged " +
          "manifests (ManifestTable.dropBranch)",
        Seq(in("table", DataTypes.StringType),
          in("name", DataTypes.StringType)),
        StructType(Seq(
          StructField("new_version", DataTypes.IntegerType))),
        input => InternalRow(ManifestTable.dropBranch(spark,
          rootOf(warehouse, input.getUTF8String(0).toString),
          input.getUTF8String(1).toString)))
    }
  }
}

object GraftCatalog {

  /** Register `name` as a [[GraftCatalog]] over `warehouse` in this
    * session (idempotent — catalog instances are resolved lazily from
    * these confs on first reference). */
  def register(spark: SparkSession, name: String,
               warehouse: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
  }
}

/** One resolved (possibly version-pinned) manifest table. Writes ride
  * the public [[V1Write]] fallback onto the manifest commit protocol:
  * `INSERT INTO` → [[ManifestTable.append]] (one atomic commit,
  * constraints + resurrection guard + schema contract all enforced),
  * `INSERT OVERWRITE` → [[ManifestTable.overwrite]]. A version-pinned
  * table (time travel) rejects writes. */
private[sources] class GraftSqlTable(ident: String, root: String,
                                     pinned: Option[Int])
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.graftbridge.V1FallbackTable {

  /** STREAMING BY TABLE NAME (`spark.readStream.table("cat.db.t")`) —
    * the shape Delta ships: instead of re-implementing the parquet
    * reader inside a DSv2 `PartitionReader` (see the
    * [[graft.streaming.ManifestStreamProvider]] scaladoc on why the v1
    * tier is right here), this table names its v1 streaming source
    * through Spark's `V2TableWithV1Fallback` and the engine routes the
    * stream onto it, merging the reader's options with this location —
    * so `readChangeFeed`, `onRewriteCommits`, `maxVersionsPerTrigger`,
    * and `startingVersion` all work by NAME exactly as they do by
    * path, version offsets, exactly-once restart, and the rewrite
    * policies included. A time-travel-pinned relation rejects: a
    * stream tails LIVE commits. */
  override def v1Table: org.apache.spark.sql.catalyst.catalog
      .CatalogTable = {
    require(pinned.isEmpty,
      s"cannot stream $ident — it is pinned by time travel; stream " +
        "the bare table identifier (optionally with startingVersion)")
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    // UnresolvedCatalogRelation asserts a db-qualified identifier;
    // this one is diagnostic-only (the source resolves by location),
    // so a namespace-less table borrows "default"
    val parts = ident.split('.')
    val tid =
      if (parts.length >= 2)
        org.apache.spark.sql.catalyst.TableIdentifier(parts.last,
          Some(parts.dropRight(1).mkString(".")))
      else org.apache.spark.sql.catalyst.TableIdentifier(ident,
        Some("default"))
    CatalogTable(
      identifier = tid,
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new Path(root).toUri)),
      schema = schema,
      provider = Some("graft-manifest"))
  }

  /** The table root / time-travel pin, for the row-level SQL rule
    * ([[GraftRowLevelSqlRule]]) that routes UPDATE / MERGE INTO onto
    * the manifest commit protocol. */
  private[graft] def tableRoot: String = root
  private[graft] def pinnedVersion: Option[Int] = pinned

  private def spark: SparkSession = SparkSession.active

  /** `DELETE FROM t WHERE p` → [[ManifestTable.deleteWhere]] (the
    * copy-on-write row-level delete behind one commit). The analyzer
    * hands the condition as DSv2 `Predicate`s; the public
    * [[V2ExpressionSQLBuilder]] renders them back to SQL (arithmetic
    * included — the V1 `Filter` bridge can't express `doc_id % 5 =
    * 0`), and anything the builder can't render makes
    * [[canDeleteWhere]] return false: Spark fails the statement at
    * analysis instead of this table deleting the wrong rows. */
  private def predicateColumn(
      ps: Array[org.apache.spark.sql.connector.expressions.filter
        .Predicate]): Option[org.apache.spark.sql.Column] =
    scala.util.Try {
      val b = new org.apache.spark.sql.connector.util
        .V2ExpressionSQLBuilder()
      ps.toSeq.map(p => org.apache.spark.sql.functions.expr(b.build(p)))
        .reduceOption(_ && _)
    }.toOption.flatten

  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Boolean =
    pinned.isEmpty &&
      (predicates.isEmpty || predicateColumn(predicates).isDefined)

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = {
    require(pinned.isEmpty,
      s"cannot delete from $ident — it is pinned by time travel")
    // an empty predicate set is `DELETE FROM t` (truncate): the
    // manifest contract routes truncation through overwrite, loudly
    val pred = predicateColumn(predicates).getOrElse(lit(true))
    ManifestTable.deleteWhere(spark, root, pred)
    ()
  }

  override def name(): String = ident

  override lazy val schema: StructType =
    ManifestTable.snapshot(spark, root, pinned).schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(root, pinned, schema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinned.isEmpty,
      s"cannot write to $ident — it is pinned by time travel; " +
        "write to the bare table identifier")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.Dataset[Row],
                                ow: Boolean): Unit = {
              val sp = data.sparkSession
              if (overwrite || ow) ManifestTable.overwrite(sp, root, data)
              else ManifestTable.append(sp, root, data)
              ()
            }
          }
      }
    }
  }
}

/** A BRANCH HEAD served as a SQL relation — the audit read of
  * write-audit-publish (`VERSION AS OF '<branch>'` or the
  * `db.t.branch_<name>` suffix identifier): resolved through
  * [[ManifestTable.readBranch]]'s snapshot; no pushdown tier (audit
  * reads are occasional and review-sized — the published main path
  * keeps the full pruning stack). The suffix identifier is also the
  * branch's WRITE face: `INSERT INTO cat.db.t.branch_<name>` stages
  * one [[ManifestTable.appendToBranch]] commit (schema contract,
  * constraints, resurrection guard — main's rules, staged invisibly).
  * `INSERT OVERWRITE` rejects: a branch stages a NET CHANGE against
  * its base and publish lands the file diff — truncating the branch
  * would claim a whole-table rewrite, exactly what publish soundness
  * forbids (re-branch instead). Branch merges stay on the Scala
  * `mergeCoWKeys(branch = ...)` API. */
private[sources] class GraftBranchTable(ident: String, tableRoot: String,
                                        branchName: String)
    extends Table with SupportsRead with SupportsWrite {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = ident

  private def relation(): DataFrame =
    ManifestTable.readBranch(spark, tableRoot, branchName)

  override lazy val schema: StructType = relation().schema

  // TRUNCATE is advertised ONLY so INSERT OVERWRITE reaches the
  // builder and rejects with the domain reason below, not Spark's
  // generic capability error
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // declared so the overwrite statement ANALYZES, then rejected
      // with the domain reason instead of a generic capability error
      override def truncate(): WriteBuilder =
        throw new IllegalArgumentException(
          s"INSERT OVERWRITE on $ident: a branch stages a net change " +
            "against its base — publish lands the file diff, which a " +
            "truncating rewrite would make unsound; drop the branch " +
            "and re-fork instead")
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.Dataset[Row],
                                ow: Boolean): Unit = {
              require(!ow, s"overwrite of $ident is unsupported")
              ManifestTable.appendToBranch(data.sparkSession, tableRoot,
                branchName, data.toDF())
              ()
            }
          }
      }
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new V1Scan {
      override def readSchema(): StructType = schema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = GraftBranchTable.this.schema
          override def buildScan(): org.apache.spark.rdd.RDD[Row] =
            relation().rdd
        }.asInstanceOf[T]
    }
  }
}

/** A table's METADATA served as SQL relations (Iceberg's metadata-table
  * shape — `db.t.history`, `db.t.files`): driver-computed O(versions) /
  * O(files) rows straight off the manifests, zero data IO — the
  * DESCRIBE HISTORY surface without a custom parser. */
private[sources] class GraftMetaTable(ident: String, tableRoot: String,
                                      kind: String)
    extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = ident

  private def relation(): DataFrame = {
    val sp = spark
    import sp.implicits._
    kind match {
      case "history" =>
        ManifestTable.history(spark, tableRoot)
          .map(c => (c.version, c.timestampMs, c.dataFiles,
            c.deleteFiles, c.rows, c.kind))
          .toDF("version", "timestamp_ms", "data_files", "delete_files",
            "n_rows", "commit_kind")
      case "files" =>
        ManifestTable.fileStats(spark, tableRoot)
          .map { case (rel, bounds, rows, bytes) =>
            (rel, rows, bytes, bounds.map(_._1), bounds.map(_._2)) }
          .toDF("file", "n_rows", "bytes", "lo", "hi")
      case "tags" =>
        ManifestTable.tags(spark, tableRoot).toSeq.sorted
          .toDF("tag", "version")
      case "branches" =>
        ManifestTable.branches(spark, tableRoot)
          .toDF("branch", "base_version", "staged_commits")
    }
  }

  override lazy val schema: StructType = relation().schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new V1Scan {
      override def readSchema(): StructType = schema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = GraftMetaTable.this.schema
          override def buildScan(): org.apache.spark.rdd.RDD[Row] =
            relation().rdd
        }.asInstanceOf[T]
    }
  }
}

/** Receives the planner's pushdown: pruned columns shape the scan's
  * schema; pushed filters are kept ADVISORY (all returned as residual,
  * so Spark re-applies them post-scan — correctness never depends on
  * this scan's own filtering) and drive manifest file skipping +
  * parquet row-group pushdown inside [[ManifestTable.sqlScan]]. */
private[sources] class GraftScanBuilder(root: String, pinned: Option[Int],
                                        tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = tableSchema
  private var filters: Array[Filter] = Array.empty

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // ALL residual: Spark re-applies every filter after the scan
  }

  override def pushedFilters(): Array[Filter] = filters

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftV1Scan(root, pinned, required, filters, tableSchema)
}

/** The public V1 fallback at the scan boundary (the JDBC connector's
  * shape): DSv2 planning above, one [[BaseRelation]] whose `buildScan`
  * is the pruned manifest read below. */
private[sources] class GraftV1Scan(root: String, pinned: Option[Int],
                                   required: StructType,
                                   filters: Array[Filter],
                                   tableSchema: StructType)
    extends V1Scan {

  override def readSchema(): StructType = required

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def needConversion: Boolean = true
      override def buildScan(): org.apache.spark.rdd.RDD[
          org.apache.spark.sql.Row] =
        GraftCatalogScan.dataFrame(context.sparkSession, root, pinned,
          required.fieldNames.toSeq, filters, tableSchema).rdd
    }.asInstanceOf[T]
}

/** Filter → (manifest range constraints, parquet residual) translation
  * — the bridge from Spark's pushed `sources.Filter`s to the manifest
  * format's long-valued file statistics. Deliberately conservative:
  * only conjunctive top-level constraints on integral/timestamp
  * columns tighten file ranges (anything else = "may contain
  * anything"), and only cleanly-translatable filters reach the parquet
  * scan (Spark re-applies everything post-scan regardless). */
private[graft] object GraftCatalogScan {

  def dataFrame(spark: SparkSession, root: String, pinned: Option[Int],
                requiredCols: Seq[String], filters: Seq[Filter],
                tableSchema: StructType): DataFrame =
    ManifestTable.sqlScan(spark, root, pinned, requiredCols,
      rangesOf(filters, tableSchema), residualOf(filters))

  /** The long stats value of a pushed literal for column `c`, in the
    * manifest's stored unit (integral value, or epoch micros for a
    * timestamp column) — None when the column's type has no stored
    * stats unit or the literal shape is foreign. */
  private def statValue(schema: StructType, c: String,
                        v: Any): Option[Long] =
    schema.fields.find(_.name == c).map(_.dataType).flatMap {
      case ByteType | ShortType | IntegerType | LongType => v match {
        case n: Number => Some(n.longValue())
        case _ => None
      }
      case TimestampType => v match {
        case t: java.sql.Timestamp =>
          Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
        case i: java.time.Instant =>
          Some(Math.addExact(Math.multiplyExact(i.getEpochSecond,
            1000000L), i.getNano / 1000L))
        case _ => None
      }
      case _ => None
    }

  /** Per-column [lo, hi] constraints from the top-level conjunction —
    * the file-skipping input. Multiple constraints on one column
    * intersect; an empty intersection skips every file (correct: the
    * predicate is unsatisfiable). */
  def rangesOf(filters: Seq[Filter],
               schema: StructType): Map[String, (Long, Long)] = {
    val bounds = filters.flatMap {
      case EqualTo(c, v) => statValue(schema, c, v).map(x => c -> (x, x))
      case EqualNullSafe(c, v) if v != null =>
        statValue(schema, c, v).map(x => c -> (x, x))
      case GreaterThan(c, v) =>
        statValue(schema, c, v).map(x =>
          c -> (if (x == Long.MaxValue) x else x + 1, Long.MaxValue))
      case GreaterThanOrEqual(c, v) =>
        statValue(schema, c, v).map(x => c -> (x, Long.MaxValue))
      case LessThan(c, v) =>
        statValue(schema, c, v).map(x =>
          c -> (Long.MinValue, if (x == Long.MinValue) x else x - 1))
      case LessThanOrEqual(c, v) =>
        statValue(schema, c, v).map(x => c -> (Long.MinValue, x))
      case In(c, vs) if vs.nonEmpty =>
        val xs = vs.toSeq.map(statValue(schema, c, _))
        if (xs.exists(_.isEmpty)) None
        else Some(c -> (xs.flatten.min, xs.flatten.max))
      case _ => None
    }
    bounds.groupBy(_._1).map { case (c, cs) =>
      c -> cs.map(_._2).reduce[(Long, Long)] { case ((a, b), (x, y)) =>
        (math.max(a, x), math.min(b, y)) }
    }
  }

  /** The pushed filters as one Column, for parquet row-group pushdown
    * within the kept files — filters that don't translate are simply
    * dropped (Spark re-applies them post-scan). */
  def residualOf(filters: Seq[Filter])
      : Option[org.apache.spark.sql.Column] = {
    def tr(f: Filter): Option[org.apache.spark.sql.Column] = f match {
      case EqualTo(c, v) => litOf(v).map(col(c) === _)
      case EqualNullSafe(c, v) =>
        if (v == null) Some(col(c).isNull)
        else litOf(v).map(col(c) <=> _)
      case GreaterThan(c, v) => litOf(v).map(col(c) > _)
      case GreaterThanOrEqual(c, v) => litOf(v).map(col(c) >= _)
      case LessThan(c, v) => litOf(v).map(col(c) < _)
      case LessThanOrEqual(c, v) => litOf(v).map(col(c) <= _)
      case In(c, vs) =>
        val ls = vs.toSeq.map(litOf)
        if (ls.exists(_.isEmpty)) None
        else Some(col(c).isInCollection(ls.flatten.toSeq))
      case IsNull(c) => Some(col(c).isNull)
      case IsNotNull(c) => Some(col(c).isNotNull)
      case And(l, r) => for (a <- tr(l); b <- tr(r)) yield a && b
      case Or(l, r) => for (a <- tr(l); b <- tr(r)) yield a || b
      case Not(inner) => tr(inner).map(!_)
      case _ => None
    }
    val cs = filters.flatMap(tr(_))
    cs.reduceOption(_ && _)
  }

  private def litOf(v: Any): Option[org.apache.spark.sql.Column] =
    scala.util.Try(lit(v)).toOption
}
