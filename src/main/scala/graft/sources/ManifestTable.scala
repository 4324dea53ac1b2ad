package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType, TimestampType}

/** MANIFEST-POINTER TABLES — the transactional commit the rewriting
  * operators (layout OPTIMIZE, artifact refresh snapshots) otherwise
  * lack on a plain filesystem: readers of a directory-listed table can
  * observe the delete-then-rename swap window mid-flight, so every
  * in-place rewrite in the engine documents a non-transactional window.
  * This module closes that gap the way the public table formats do
  * (Delta's `_delta_log`, Iceberg's metadata pointer): data files are
  * IMMUTABLE and uniquely named, and the table's contents are whatever
  * the newest committed MANIFEST lists — commit is ONE atomic rename of
  * a manifest file, so a reader resolves either the old version or the
  * new one, never a mixture.
  *
  * Layout under a table root:
  * {{{
  *   root/_manifests/v00000007.manifest   // header lines + one data-file entry per line
  *   root/data/c-<uuid>/part-*.parquet    // one subdir per commit
  * }}}
  *
  * Guarantees, and what they rest on:
  *  - '''Readers never see a partial table.''' A manifest is written to
  *    a temp name and RENAMED into place; rename of a single file is
  *    atomic on HDFS and POSIX. Staged data files are invisible until a
  *    manifest references them.
  *  - '''Crash safety.''' A writer that dies before its manifest rename
  *    leaves only unreferenced data files — the table still reads at the
  *    old version; [[vacuum]] collects the orphans.
  *  - '''Snapshot isolation + time travel.''' Commits never delete data
  *    files, so an old version stays readable ([[readAt]]) until
  *    [[vacuum]] retires it; a reader holding a resolved [[Snapshot]]
  *    is unaffected by concurrent commits. [[restore]] is the write-side
  *    twin: re-commit an old version's exact file list as the newest
  *    version (Delta's RESTORE), zero data IO.
  *  - '''Writer exclusivity''' is per-version: the first committer of
  *    `v{N}` wins. On HDFS the rename itself is atomic-and-exclusive
  *    (rename fails if the destination exists); the local filesystem's
  *    `rename(2)` REPLACES an existing destination, so exclusivity there
  *    rests on the pre-rename existence check — exact for the
  *    single-process `local[*]` harness, racy only across separate JVMs.
  *    Object stores need a conditional-PUT commit instead. This
  *    per-filesystem split is the same one Delta's pluggable LogStore
  *    documents; the protocol above is the common contract.
  *    [[append]] retries on a lost race (its staged files are still
  *    valid against the new base); [[overwrite]]/[[optimize]] ABORT
  *    (their output was computed from a snapshot that is now stale) and
  *    surface a ConcurrentModificationException for the caller to rerun.
  *  - '''Schema is part of the commit.''' A manifest records the table
  *    schema in a `#schema=` header; reads resolve against it (so a
  *    file written before an add-column evolution reads the new columns
  *    as null — by-name parquet resolution, no `mergeSchema` footer
  *    sweep), [[readAt]] returns each version's own schema, and
  *    [[append]]/[[mergeCoW]] enforce the evolution contract: adding
  *    trailing columns is supported, dropping or retyping a column is
  *    rejected loudly — never a silent column drop.
  *  - '''Per-file stats, one list.''' The `#statscols=` header names
  *    the table's stats columns in order, and each entry line carries
  *    [lo, hi] pairs for a prefix of that list (see [[StatsKey]] for
  *    the one rule every writer follows): reads, merges and deletes
  *    prune files from the manifest alone, and a column or pair the
  *    list does not give is unknown — read, never wrongly skipped.
  *
  * '''One resolve per operation.''' Every entry point resolves the
  * table ONCE into a [[Snapshot]] — one listing of `_manifests/`, one
  * parse of each manifest it needs — and works from that handle:
  * every read is the snapshot's one pruned scan, every header-only
  * commit writes the version after it, and a writer re-resolves only
  * after its commit LOSES a race.
  *
  * The reference engine rewrites its outputs with a plain
  * delete-then-recreate (reference README.md's output-directory
  * lifecycle); this is the scale-grade replacement for every rewriting
  * surface at once. [[LayoutMaintenance]]'s in-place compactors remain
  * the catalog-table variants; [[optimize]] here is the same clustered
  * rewrite behind a real commit.
  */
object ManifestTable {

  /** A resolved table version — the ONE form every operation works
    * from: the immutable file list (and the schema committed with it)
    * a reader can keep using regardless of later commits (until
    * vacuumed). `schema` is the committed `#schema=` header, every
    * field carrying its field id. `files` are the DATA files;
    * `deleteFiles` the outstanding merge-on-read equality deletes
    * (format v6), applied by [[read]] as at most one anti-join on
    * `deleteCols` (one or more key columns
    * — a composite equality delete matches on the whole tuple,
    * Iceberg's multi-column equality-delete shape). The second
    * parameter list is what the resolve read: the manifest's headers,
    * its entry lines (raw, so a commit that carries them stays
    * byte-identical, and parsed), the `_manifests/` listing it was
    * resolved from, and the branch it heads (None on the main chain).
    * Only a resolve constructs one. */
  case class Snapshot private[sources] (version: Int, files: Seq[String],
                                        schema: StructType,
                                        deleteFiles: Seq[String] = Seq.empty,
                                        deleteCols: Seq[String] = Seq.empty)(
      private[sources] val root: String,
      private[sources] val headers: Map[String, String],
      private[sources] val entryLines: Seq[String],
      private[sources] val entries: Seq[Entry],
      private[sources] val listing: Seq[String],
      private[sources] val branch: Option[String]) {

    def read(spark: SparkSession): DataFrame = scan(spark, _ => true, None)

    /** The ONE read every entry point shares: keep the data files whose
      * stats `keep` admits (a zero-row relation with the table schema
      * when none does), apply the outstanding deletes, then `residual`
      * (parquet row-group stats prune within the kept files). */
    private[sources] def scan(spark: SparkSession, keep: Entry => Boolean,
                              residual: Option[Column]): DataFrame = {
      val data = dataEntries
      require(data.nonEmpty,
        s"version $version of $root lists no data files")
      val kept = data.filter(keep)
      val base =
        if (kept.isEmpty)
          readFiles(spark, Seq(pathOf(data.head)), schema).where(lit(false))
        else applyDeletes(spark, readFiles(spark, kept.map(pathOf), schema),
          kept)
      residual.fold(base)(base.where)
    }

    /** A [[scan]] `keep`: the file's stored stats intersect every
      * `column -> [lo, hi]` (a column without stats never prunes). */
    private[sources] def overlaps(ranges: Iterable[(String, (Long, Long))])
                                 (e: Entry): Boolean =
      ranges.forall { case (c, (lo, hi)) =>
        boundsOf(e, c).forall { case (a, b) => a <= hi && b >= lo } }

    /** A value in column `k`'s stats unit as a comparable literal: a
      * timestamp column's stats are epoch micros. */
    private[sources] def statLit(k: String, x: Long): Column =
      if (schema(k).dataType == TimestampType)
        timestamp_micros(lit(x))
      else lit(x)

    /** Merge-on-read: suppress every row of `df` — the rows of the data
      * files `over` — whose `deleteCols` TUPLE appears in an outstanding
      * delete file: one anti-join against the delta-sized
      * (auto-broadcast) key set of the delete files that can match
      * ([[deletesOver]]), duplicates and all; none when no delete file
      * can. Delete files without the declaring header would be
      * un-interpretable; fail loudly rather than return resurrected
      * rows. */
    private[sources] def applyDeletes(spark: SparkSession, df: DataFrame,
                                      over: Seq[Entry]): DataFrame =
      if (deleteFiles.isEmpty) df
      else {
        if (deleteCols.isEmpty) throw new IllegalStateException(
          "manifest lists delete files but no #deletecol header names " +
            "their key column(s) — refusing to read resurrected rows")
        val ds = deletesOver(over)
        if (ds.isEmpty) df
        else df.join(deleteKeys(spark, ds.map(pathOf)), deleteCols,
          "left_anti")
      }

    /** The delete entries that can hold a key of the files `over`. A
      * delete line carries the pairs of the listed delete columns, so
      * when the leading delete column is listed, a delete file whose
      * range misses every file's range holds no tuple any of them can
      * match. A line without that pair, on either side, may hold
      * anything. `over` must be read under this snapshot's stats list:
      * its own data entries, or lines staged for it. */
    private[sources] def deletesOver(over: Seq[Entry]): Seq[Entry] = {
      val k = deleteCols.head
      deleteEntries.filter(d =>
        over.exists(overlaps(boundsOf(d, k).map(k -> _))))
    }

    /** The ONE delete-key read: the `deleteCols` tuples of `paths`
      * (default: the outstanding delete files) under their declared key
      * schema, so no footer-inference job — a delete column is never
      * renamed, dropped or widened (requireIdEvolvable). Keys that two
      * delete commits share stay duplicated: every reader is an
      * anti/semi join, or the merge's consolidation, which dedups. */
    private[sources] def deleteKeys(spark: SparkSession,
        paths: Seq[String] = deleteFiles): DataFrame =
      readFiles(spark, paths,
        StructType(deleteCols.map(stripFieldIds(schema)(_))))

    /** RESURRECTION GUARD (format v6): an equality delete suppresses
      * its keys until compacted, so a row holding one would vanish on
      * every read — refuse the STAGED, not yet committed, files `staged`
      * (read under `fileSchema`, their [lo, hi] as [[deletesOver]]
      * needs) with `msg` when one holds a deleted tuple. The bounds
      * decide first: when no delete file can hold a staged file's key,
      * no job runs; else one semi-join probe of the staged files
      * against the delete files that can. */
    private[sources] def requireNoDeletedKeys(spark: SparkSession,
                                              staged: Seq[Entry],
                                              fileSchema: StructType,
                                              msg: => String): Unit = {
      val rows = staged.filter(_.rows > 0)
      val ds =
        if (deleteCols.isEmpty || rows.isEmpty) Seq.empty
        else deletesOver(rows)
      if (ds.nonEmpty)
        require(readFiles(spark, rows.map(pathOf), fileSchema)
          .join(deleteKeys(spark, ds.map(pathOf)), deleteCols, "left_semi")
          .take(1).isEmpty, msg)
    }

    private[sources] def dataEntries: Seq[Entry] =
      entries.filterNot(_.isDelete)
    private[sources] def deleteEntries: Seq[Entry] = entries.filter(_.isDelete)
    private[sources] def pathOf(e: Entry): String =
      new Path(root, e.rel).toString
    private[sources] lazy val statsCols: Seq[String] =
      colsOf(headers, StatsKey)
    private[sources] def bloomCols: Seq[String] = colsOf(headers, BloomKey)
    /** CHECK constraints, name → SQL expression. */
    private[sources] def constraints: Map[String, String] =
      named(ConstraintPrefix)
    /** Tags and live branch pointers, name → version. */
    private[sources] def tags: Map[String, Int] = namedVersions(TagPrefix)
    private[sources] def branches: Map[String, Int] =
      namedVersions(BranchPrefix)
    private def named(prefix: String): Map[String, String] =
      headers.collect { case (k, v) if k.startsWith(prefix) =>
        k.stripPrefix(prefix) -> v }
    private def namedVersions(prefix: String): Map[String, Int] =
      named(prefix).collect { case (k, v) if v.toIntOption.isDefined =>
        k -> v.toInt }

    /** Main-chain versions of the listing this snapshot was resolved
      * from; [[at]] resolves one of them without listing again. */
    private[sources] def listedVersions: Seq[Int] = mainVersions(listing)
    private[sources] def at(spark: SparkSession, v: Int): Snapshot =
      resolveIn(spark, root, listing, Some(v))

    /** The row count from entry stats alone; None under outstanding
      * deletes (a delete key may match 0..n rows). */
    private[sources] def rowCount: Option[Long] =
      if (entries.isEmpty || entries.exists(_.isDelete)) None
      else Some(entries.map(_.rows).sum)

    /** The table's field-id high-water mark (see the FIELD IDS block). */
    private[sources] def maxFieldId: Long = headers(MaxFieldIdKey).toLong

    /** The stored [lo, hi] of `c` for one entry; None when the stats
      * list does not name `c` or the entry's pair is unknown (a column
      * without stats must never prune). */
    private[sources] def boundsOf(e: Entry, c: String): Option[(Long, Long)] =
      e.statOf(statsCols, c)
  }

  /** Schema-aware file read: the stored schema resolves columns BY NAME
    * against each file, so pre-evolution files surface the later-added
    * columns as null without any `mergeSchema` footer sweep. */
  private def readFiles(spark: SparkSession, files: Seq[String],
                        schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(files: _*)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) =
    new Path(root, "_manifests")

  private def manifestPath(root: String, version: Int) =
    new Path(manifestDir(root), f"v$version%08d.manifest")

  private val ManifestName = """v(\d{8})\.manifest""".r

  /** The names under `_manifests/` — ONE listing serves an operation's
    * main versions and branch manifests alike. */
  private def listing(spark: SparkSession, root: String): Seq[String] = {
    val dir = manifestDir(root)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
  }

  private def mainVersions(names: Seq[String]): Seq[Int] =
    names.collect { case ManifestName(v) => v.toInt }.sorted

  /** Committed versions, ascending; empty for a not-yet-created table. */
  def versions(spark: SparkSession, root: String): Seq[Int] =
    mainVersions(listing(spark, root))

  def currentVersion(spark: SparkSession, root: String): Option[Int] =
    versions(spark, root).lastOption

  /** THE resolve: check `version` (newest by default) against one
    * listing and parse its manifest once. */
  private def resolveIn(spark: SparkSession, root: String,
                        names: Seq[String],
                        version: Option[Int]): Snapshot = {
    val vs = mainVersions(names)
    if (vs.isEmpty)
      throw new IllegalArgumentException(s"no committed version under $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"version $v not present under $root (have ${vs.mkString(",")}) — " +
        "vacuumed or never committed")
    load(spark, root, names, v, manifestPath(root, v))
  }

  private def resolve(spark: SparkSession, root: String,
                      version: Option[Int] = None): Snapshot =
    resolveIn(spark, root, listing(spark, root), version)

  /** [[resolve]], or None when asked for the newest version of a table
    * that has none. */
  private def resolveOption(spark: SparkSession, root: String,
                            version: Option[Int] = None): Option[Snapshot] = {
    val names = listing(spark, root)
    if (version.isEmpty && mainVersions(names).isEmpty) None
    else Some(resolveIn(spark, root, names, version))
  }

  /** Resolve a version (newest by default) to its immutable file list. */
  def snapshot(spark: SparkSession, root: String,
               version: Option[Int] = None): Snapshot =
    resolve(spark, root, version)

  /** One manifest entry line, in the ONE shape [[stage]] writes:
    * `rel<TAB>lo<TAB>hi<TAB>rows<TAB>bytes` followed by `<TAB>lo<TAB>hi`
    * for each further stats pair. `rel` is the root-relative file and
    * `rows`/`bytes` are its row count and size. `stats` are the file's
    * per-column [lo, hi] pairs for a PREFIX of its manifest's
    * `#statscols=` list, in list order — the first pair sits between
    * `rel` and `rows`, the rest trail. A pair that is `-` (the column
    * was all-null, or the file was not stamped for it) or missing (the
    * line was written under a shorter list) is unknown and never
    * prunes. Any other line shape is malformed, and [[load]] rejects
    * the manifest. */
  private[sources] case class Entry(rel: String, rows: Long, bytes: Long,
                                    stats: Seq[Option[(Long, Long)]]) {
    /** A delete file is distinguished by its PATH prefix — the line
      * format itself is the same. */
    def isDelete: Boolean = rel.startsWith("deletes/")
    /** The pair of the first listed column. */
    def bounds: Option[(Long, Long)] = stats.headOption.flatten
    /** The pair of column `c` under the stats list `cols`. */
    def statOf(cols: Seq[String], c: String): Option[(Long, Long)] =
      cols.indexOf(c) match {
        case -1 => None
        case i => stats.lift(i).flatten
      }
    def line: String = {
      def pair(p: Option[(Long, Long)]): String =
        p.map { case (a, b) => s"$a\t$b" }.getOrElse("-\t-")
      (s"$rel\t${pair(bounds)}\t$rows\t$bytes" +:
        stats.drop(1).map(pair)).mkString("\t")
    }
  }

  /** None for a malformed line: a valid one has an odd number >= 5 of
    * tab-separated fields, and integral rows and bytes. */
  private def parseEntry(line: String): Option[Entry] = {
    val f = line.split("\t", -1)
    if (f.length < 5 || f.length % 2 == 0) None
    else for (rows <- f(3).toLongOption; bytes <- f(4).toLongOption)
      yield Entry(f(0), rows, bytes, (f.slice(1, 3) ++ f.drop(5))
        .grouped(2).toSeq.map(p =>
          for (x <- p(0).toLongOption; y <- p(1).toLongOption) yield (x, y)))
  }

  /** `list` extended by the `cols` it does not name yet, in order — how
    * a write grows the stats list (lists never shrink but on
    * [[overwrite]]). */
  private def grown(list: Seq[String], cols: Seq[String]): Seq[String] =
    list ++ cols.filterNot(list.contains)

  // -------------------------------------------------------------------
  // Manifest headers (`#key=value` lines before the entries)
  // -------------------------------------------------------------------

  /** The committed table schema as `StructType.json` (one line, no tabs
    * or newlines) — the same role Delta's log metadata plays. */
  private val SchemaKey = "schema"
  /** THE STATS LIST: the columns (comma-joined, in order) whose per-file
    * [lo, hi] pairs the entry lines carry — the one per-column
    * lower/upper-bound map Iceberg's manifests keep, by position. Pairs
    * are meaningless without knowing WHICH column they describe, so
    * every stats consumer ([[mergeCoW]], [[readWhereKeyBetween]],
    * [[readWhereRect]], the SQL scan, ...) reads a column's pair ONLY
    * at its position in this list — an unlisted column falls back to
    * unknown/read-everything (correct, just unpruned) instead of
    * pruning WRONG files. One rule keeps every line right:
    *  - every entry line carries pairs for a PREFIX of its manifest's
    *    list; a missing or `-` pair is unknown;
    *  - carried lines are copied verbatim, never rewritten;
    *  - new lines stamp every listed column their files hold, and a
    *    write appends to the list at most the column it stamps for its
    *    own purpose (an append's or overwrite's `boundsCol`, a merge's
    *    integral leading key, optimize's integral cluster column, the
    *    z-order columns);
    *  - so the list only grows: [[overwrite]] replaces it, [[restore]]
    *    replicates it, and a writer that loses a commit race re-projects
    *    its staged lines onto the new base's list by name. */
  private val StatsKey = "statscols"
  /** Format v5: the columns (comma-joined) carrying per-file BLOOM
    * filters for point-lookup pruning ([[readWherePointEquals]]) —
    * min/max bounds can't skip anything for an equality probe on a
    * column the table is NOT clustered by (every file's [lo, hi] spans
    * the domain), which is exactly the case Parquet's bloom pages and
    * Delta's bloom index files exist for. Filters live in one sidecar
    * per commit directory per column (`data/c-<uuid>/_bloom.<col>`, a
    * filename → serialized-filter map), so they ride along with their
    * data files: [[append]] copies manifest lines verbatim and the
    * sidecars stay put; [[vacuum]] removes them with their commit dir.
    * A file without a sidecar entry (pre-v5 commit, or a writer that
    * couldn't stamp the column) is simply never skipped — the same
    * "unknown = may contain anything" fallback every other stat uses. */
  private val BloomKey = "bloomcols"
  /** Per-file false-positive rate; a false positive costs one wasted
    * file read, a false negative cannot happen — skipping is sound. */
  private val BloomFpp = 0.01
  /** Format v6: MERGE-ON-READ equality deletes (Iceberg's equality
    * delete files, the write-amplification complement to [[mergeCoW]]'s
    * copy-on-write). A delete commit stages the deleted KEYS, once
    * each, as a parquet file under `deletes/` — manifest entry lines
    * distinguish delete files from data files by that path prefix
    * alone, so the line format is unchanged. A delete line carries the
    * pairs of the listed delete columns (`-` for the other listed
    * columns), and every reader anti-joins, on the column(s) this
    * header names, the (delta-sized, auto-broadcast) key set of just
    * the delete files whose leading-column [lo, hi] meets a kept data
    * file's — no anti-join when none does. The contract is
    * GLOBAL-UNTIL-COMPACTED:
    * an equality delete suppresses EVERY row of its key, past and
    * future, until a compaction ([[optimize]]) applies and drops it —
    * so [[append]] refuses keys in the outstanding delete set
    * (resurrection needs a compaction or a merge first); its guard
    * reads the same bounds, against the staged files'.
    * [[mergeCoW]]/[[mergeCoWKeys]] SEQUENCE outstanding deletes when
    * the merge key-set IS the delete column-set — single column or
    * whole tuple alike (rewrites read through the delete set, changed
    * keys leave it, survivors carry or consolidate — an upsert is
    * therefore the keyed resurrection path); a merge on a DIFFERENT
    * column-set cannot reconcile the two key spaces and is rejected
    * loudly instead of wrong. */
  private val DeleteKey = "deletecol"
  /** TRANSACTIONAL WRITER MARKERS (Delta's `txn` action shape): a
    * `#txn-<appId>=<version>` header records the highest version an
    * idempotent writer application has committed, ATOMICALLY with the
    * commit that carried it — the primitive an exactly-once streaming
    * sink needs (`foreachBatch` replays batches on recovery; a replayed
    * batch sees its version already recorded and becomes a no-op).
    * Markers ride every evolutionary commit (append, merge, delete,
    * optimize — compaction must not amnesia the sink's cursor) and are
    * reset only by [[overwrite]], which replaces the table outright. */
  private val TxnPrefix = "txn-"
  /** CHECK CONSTRAINTS (Delta's table constraints): a
    * `#constraint-<name>=<sql boolean expr>` header makes every
    * subsequent [[append]] and [[mergeCoW]] validate its incoming rows
    * BEFORE staging (fail fast, no orphan files, the table never holds
    * a violating row). SQL-standard semantics: a row violates only
    * when the expression evaluates to FALSE — NULL passes (add an
    * explicit IS NOT NULL conjunct to forbid nulls). [[addConstraint]]
    * scans the EXISTING table first, so a constraint can never be
    * declared over data that already violates it. Constraints ride
    * every evolutionary commit and reset only on [[overwrite]]. */
  private val ConstraintPrefix = "constraint-"
  /** NAMED TAGS (Iceberg's refs shape): a `#tag-<name>=<version>`
    * header pins a human-named version — `VERSION AS OF 'prod'`
    * through the SQL catalog, [[readAtTag]] in Scala. Tags ride every
    * evolutionary commit and are a RETENTION FLOOR: [[vacuum]] keeps
    * tagged versions' manifests and files whatever `retain` says, so
    * a tag never dangles. [[restore]] replicates an old version's
    * headers verbatim, so it rolls tags (like txn markers) back with
    * the content — the recovery primitive restores the WHOLE state;
    * [[overwrite]] resets them with everything else. */
  private val TagPrefix = "tag-"

  /** WRITABLE BRANCHES (Iceberg's write-audit-publish): a
    * `#branch-<name>=<baseVersion>` header on the MAIN chain declares
    * a branch forked at `baseVersion`; the branch's own commits live
    * as `branch-<name>-v%08d.manifest` files the main version regex
    * never matches — INVISIBLE to every main read until
    * [[publishBranch]] lands them as one main commit. Vacuum treats a
    * live branch like a tag (the base version is a retention floor,
    * the branch manifests' files stay referenced). */
  private val BranchPrefix = "branch-"

  /** COMMIT-KIND header: every commit stamps WHY it happened —
    * `append | overwrite | delete | compact | merge | restore |
    * rowdelete | rowupdate | metadata | publish` — the provenance the manifest
    * otherwise loses (a file diff says WHAT changed, never why). The
    * consumer that needs it is the streaming append tail's `skip`
    * policy ([[graft.streaming.RewriteCommitPolicy]]): a rewrite
    * commit is skippable exactly when it creates NO row the tail has
    * not already delivered — true for `compact` (a permutation of
    * delivered rows) and `rowdelete` (surviving rows only), false for
    * `merge` (upserts are new rows) and `rowupdate` (updated rows are
    * new row versions) — and the kind header is what makes that
    * decision provable instead of documented. Every commit OVERRIDES
    * the kind (never carried — [[restore]] replicates headers verbatim
    * and must still read `restore`); a manifest without the header is
    * a pre-kind commit and reads as unknown (consumers fail
    * conservatively). */
  private val KindKey = "commit-kind"

  /** The stamped kind of a committed version; None for pre-kind
    * manifests (unknown — consumers must treat it conservatively). */
  def commitKindOf(spark: SparkSession, root: String,
                   version: Int): Option[String] =
    resolve(spark, root, Some(version)).headers.get(KindKey)

  /** Headers that ride every evolutionary commit (append / merge /
    * delete / optimize) — writer cursors, constraints, and tags must
    * survive compaction; only [[overwrite]] resets them. */
  private def carriedHeaders(hs: Map[String, String]): Map[String, String] =
    hs.filter { case (k, _) =>
      k.startsWith(TxnPrefix) || k.startsWith(ConstraintPrefix) ||
        k.startsWith(TagPrefix) || k.startsWith(BranchPrefix) ||
        k == MaxFieldIdKey }

  /** A comma-joined column-list header, read and written. */
  private def colsOf(headers: Map[String, String],
                     key: String): Seq[String] =
    headers.get(key).map(_.split(',').toSeq.filter(_.nonEmpty))
      .getOrElse(Seq.empty)

  private def colsHeader(key: String,
                         cols: Seq[String]): Map[String, String] =
    if (cols.isEmpty) Map.empty else Map(key -> cols.mkString(","))

  /** Parse the manifest at `path` into a [[Snapshot]] — the one read of
    * it an operation makes. The manifest must be in the one format the
    * writers emit, or the read fails loudly naming it: every header
    * line `#key=value` with no key repeated, a `#schema=` header whose
    * every field carries its field id, a `#maxfieldid=` header, and
    * every entry line in [[Entry]]'s shape. A malformed entry line read
    * as a path would misname a live data file, which [[vacuum]] would
    * then delete as unreferenced. */
  private def load(spark: SparkSession, root: String, listing: Seq[String],
                   version: Int, path: Path,
                   branch: Option[String] = None): Snapshot = {
    val in = fsOf(spark, path).open(path)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
    def malformed(l: String) = new IllegalStateException(
      s"malformed manifest $path: line '${l.replace("\t", "\\t")}'")
    def missing(what: String) = new IllegalStateException(
      s"malformed manifest $path: no $what")
    val (hs, es) = lines.partition(_.startsWith("#"))
    val headers = hs.foldLeft(Map.empty[String, String]) { (m, l) =>
      val eq = l.indexOf('=')
      if (eq < 0 || m.contains(l.substring(1, eq))) throw malformed(l)
      m + (l.substring(1, eq) -> l.substring(eq + 1))
    }
    val schema = headers.get(SchemaKey)
        .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption) match {
      case Some(st: StructType) if hasFieldIds(st) => st
      case _ => throw missing(
        s"#$SchemaKey= header with a field id on every field")
    }
    if (headers.get(MaxFieldIdKey).flatMap(_.toLongOption).isEmpty)
      throw missing(s"#$MaxFieldIdKey= header")
    val entries = es.map(l => parseEntry(l).getOrElse(throw malformed(l)))
    def abs(e: Entry) = new Path(root, e.rel).toString
    Snapshot(version, entries.filterNot(_.isDelete).map(abs), schema,
      entries.filter(_.isDelete).map(abs), colsOf(headers, DeleteKey))(
      root, headers, es, entries, listing, branch)
  }

  private def headerLines(hs: Map[String, String]): Seq[String] =
    hs.toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" }

  /** The schema a version committed with; None when asked for the
    * newest version of a table that has none. */
  def schemaAt(spark: SparkSession, root: String,
               version: Option[Int] = None): Option[StructType] =
    resolveOption(spark, root, version).map(_.schema)

  /** Every field stored nullable: a pre-evolution file genuinely lacks
    * the later columns, so the committed schema must admit null there. */
  private[sources] def asNullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  // -------------------------------------------------------------------
  // FIELD IDS (Iceberg's stable-column-identity idea on parquet's own
  // mechanism): every column of every table carries a stable id in its
  // field metadata under parquet's `parquet.field.id` key — Spark's
  // writer stamps the ids into the files
  // (spark.sql.parquet.fieldId.write.enabled, default on) and,
  // with spark.sql.parquet.fieldId.read.enabled (set by
  // [[graft.GraftSession]]), the reader resolves requested columns BY
  // ID instead of by name. That makes RENAME a header-only commit (the
  // committed schema changes the name, the id keeps pointing at the
  // same physical column in every old file) and DROP a projection mask
  // (the field leaves the schema; a later re-ADD of the same name gets
  // a FRESH id, so the dropped column's old values never resurface).
  // Ids are never reused: the high-water mark rides the
  // `#maxfieldid=` header (max-of-schema would recycle the id of a
  // dropped newest column). Creation stamps both headers and every
  // commit carries them; [[load]] rejects a manifest without them or
  // with an id-less field.
  // -------------------------------------------------------------------
  private val FieldIdKey = "parquet.field.id"
  private val MaxFieldIdKey = "maxfieldid"

  private def hasFieldIds(s: StructType): Boolean =
    s.fields.nonEmpty && s.fields.forall(_.metadata.contains(FieldIdKey))

  private def withFieldId(f: StructField, id: Long): StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id).build())

  private def stampFieldIds(s: StructType): StructType =
    StructType(s.fields.zipWithIndex.map { case (f, i) =>
      withFieldId(f, i + 1L) })

  /** `df` re-expressed in `s`'s column order WITH `s`'s field metadata
    * — the write-side half of field-id resolution: every staged data
    * file must carry the ids the committed schema declares, whatever
    * transformations (which drop metadata on replaced columns) built
    * the frame. */
  private def alignToSchema(df: DataFrame, s: StructType): DataFrame =
    df.select(s.fields.map(f =>
      col(f.name).as(f.name, f.metadata)).toSeq: _*)

  /** Per-file (relative path, [lo, hi] of the first listed stats
    * column, rows, bytes) of a committed version — the metadata the
    * stats consumers and tools read. DATA
    * files only: an equality-delete file's bytes/rows would otherwise
    * leak indistinguishably into size-based planning (optimizeBySize
    * would size the post-delete output from data+delete bytes);
    * delete-side accounting lives in [[history]]. */
  def fileStats(spark: SparkSession, root: String,
                version: Option[Int] = None)
      : Seq[(String, Option[(Long, Long)], Option[Long], Option[Long])] =
    resolve(spark, root, version).dataEntries.map(e =>
      (e.rel, e.bounds, Some(e.rows), Some(e.bytes)))

  /** The table's row count FROM MANIFEST METADATA ALONE — no data file
    * is opened, the answer a format's statistics exist for. None under
    * outstanding equality deletes (they make the per-file counts an
    * upper bound only — a scan answers). */
  def rowCountFromStats(spark: SparkSession, root: String,
                        version: Option[Int] = None): Option[Long] =
    resolve(spark, root, version).rowCount

  /** The table at its newest committed version. */
  def read(spark: SparkSession, root: String): DataFrame =
    resolve(spark, root).read(spark)

  /** Bounds-pruned RANGE READ — the read-side payoff of the stats
    * list: resolve the newest version, keep only the files whose stored
    * [lo, hi] key bounds intersect `[lo, hi]` (bounds-less entries
    * are always kept — unknown means "may contain anything"), and apply
    * the residual row filter on what remains. File-level skipping from
    * the MANIFEST alone — no footer reads, no directory listing beyond
    * the one manifest — the same plan a format's data-skipping
    * statistics drive; parquet row-group stats still prune WITHIN the
    * kept files. Returns an empty (correctly-typed) relation when no
    * file qualifies. */
  def readWhereKeyBetween(spark: SparkSession, root: String,
                          keyCol: String, lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    val s = resolve(spark, root)
    s.scan(spark, s.overlaps(Seq(keyCol -> (lo, hi))),
      Some(col(keyCol) >= lo && col(keyCol) <= hi))
  }

  /** [[readWhereKeyBetween]]'s SET twin: files whose bounds contain ANY
    * of `keys` (plus the residual `isin` filter) — the pruned read a
    * partition-replacement consumer wants. */
  def readWhereKeyIn(spark: SparkSession, root: String,
                     keyCol: String, keys: Seq[Long]): DataFrame = {
    require(keys.nonEmpty, "empty key set")
    val sorted = keys.sorted.toArray
    // any key inside [lo, hi]: the first key >= lo must be <= hi
    def hits(lo: Long, hi: Long): Boolean = {
      var a = 0; var b = sorted.length - 1
      if (sorted(b) < lo) return false
      while (a < b) { // first index with key >= lo
        val mid = (a + b) >>> 1
        if (sorted(mid) < lo) a = mid + 1 else b = mid
      }
      sorted(a) <= hi
    }
    val s = resolve(spark, root)
    s.scan(spark, e => s.boundsOf(e, keyCol).forall { case (lo, hi) =>
        hits(lo, hi) },
      Some(col(keyCol).isin(keys: _*)))
  }

  /** MULTI-COLUMN rectangle read: keep only the
    * files whose stored per-column [lo, hi] intersect EVERY requested
    * range — a file is skipped as soon as ONE dimension's stats rule it
    * out, so a clustered layout whose files are hyper-rectangles (the
    * Z-order layout) gets genuine multi-dimensional skipping from the
    * MANIFEST alone, before any footer is opened. Ranges are in each
    * column's stored stats unit (integral value, or epoch MICROS for a
    * timestamp column — the residual filter converts back via
    * `timestamp_micros`, which pushes to the parquet scan). Columns
    * without stored stats never prune (unknown = may contain anything). */
  def readWhereRect(spark: SparkSession, root: String,
                    ranges: Seq[(String, Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "empty range list")
    ranges.foreach { case (k, lo, hi) =>
      require(lo <= hi, s"empty range [$lo, $hi] on $k") }
    val s = resolve(spark, root)
    s.scan(spark, s.overlaps(ranges.map { case (k, lo, hi) => k -> (lo, hi) }),
      Some(ranges.map { case (k, lo, hi) =>
        col(k) >= s.statLit(k, lo) && col(k) <= s.statLit(k, hi)
      }.reduce(_ && _)))
  }

  /** POINT-LOOKUP read (format v5's payoff): `column IN (values)`
    * pruned by BOTH metadata tiers — per-file [lo, hi] stats first
    * (free, already loaded), then the per-file Bloom filters when the
    * table declares `column` in `#bloomcols=`. The bloom tier is what
    * makes this useful on a column the table is NOT clustered by:
    * there every file's [lo, hi] spans the whole domain and stats keep
    * everything, while the filters skip every file the probe value is
    * definitely absent from (false positives cost one wasted read at
    * the stamped 1% rate; false negatives cannot happen). Values are in
    * the column's stored stats unit (integral value, or epoch MICROS
    * for a timestamp column — the residual filter compares via
    * `timestamp_micros`, which pushes to the parquet scan). One sidecar
    * open per commit directory, not per file. */
  def readWherePointIn(spark: SparkSession, root: String,
                       column: String, values: Seq[Long]): DataFrame = {
    require(values.nonEmpty, "empty probe-value set")
    val s = resolve(spark, root)
    val fs = fsOf(spark, new Path(root))
    val sidecars = scala.collection.mutable.Map
      .empty[String, Map[String, org.apache.spark.util.sketch.BloomFilter]]
    def bloomKeeps(e: Entry): Boolean = !s.bloomCols.contains(column) || {
      val slash = e.rel.lastIndexOf('/')
      val (dirRel, name) =
        (e.rel.substring(0, math.max(0, slash)), e.rel.substring(slash + 1))
      val blooms = sidecars.getOrElseUpdate(dirRel,
        readBloomSidecar(fs,
          new Path(new Path(root, dirRel), s"_bloom.$column")))
      // no sidecar entry (pre-v5 file) => may contain anything
      blooms.get(name).forall(b => values.exists(b.mightContainLong))
    }
    s.scan(spark, e => s.boundsOf(e, column).forall { case (lo, hi) =>
        values.exists(x => lo <= x && x <= hi) } && bloomKeeps(e),
      Some(col(column).isin(values.map(s.statLit(column, _)): _*)))
  }

  def readWherePointEquals(spark: SparkSession, root: String,
                           column: String, value: Long): DataFrame =
    readWherePointIn(spark, root, column, Seq(value))

  /** The SQL catalog's scan ([[GraftCatalog]]): one pruned, pinned-
    * version read shaped by what Spark's planner pushed down —
    * `requiredCols` (column pruning reaches the parquet scan),
    * `ranges` (per-column [lo, hi] constraints derived from the pushed
    * filters, pruning FILES from the manifest's stats before any
    * footer is opened — columns without stored stats never prune), and
    * `residual` (the pushed filters re-expressed as one Column so
    * parquet row-group stats prune WITHIN the kept files; Spark
    * re-applies every filter post-scan regardless, so a dropped
    * residual costs IO, never correctness). Outstanding equality
    * deletes are applied before projection — SQL readers see exactly
    * what [[read]] serves. */
  private[graft] def sqlScan(spark: SparkSession, root: String,
                             version: Option[Int],
                             requiredCols: Seq[String],
                             ranges: Map[String, (Long, Long)],
                             residual: Option[org.apache.spark.sql.Column])
      : DataFrame = {
    val s = resolve(spark, root, version)
    // an empty projection is the `count(*)` shape: zero columns, rows
    // preserved (RowDataSourceScanExec counts the empty rows)
    s.scan(spark, s.overlaps(ranges), residual)
      .select(requiredCols.map(col): _*)
  }

  /** Time travel: the table exactly as of `version` (that version's own
    * schema included). */
  def readAt(spark: SparkSession, root: String, version: Int): DataFrame =
    resolve(spark, root, Some(version)).read(spark)

  /** Bounds/stats stamping accepts only integral key columns: a
    * non-numeric column's values would aggregate under the column's
    * NATIVE ordering and the long cast could still succeed (numeric
    * strings sort "10" < "9"), producing bounds that prune WRONG files
    * — silently. Fail fast instead. */
  private def isIntegral(dt: DataType): Boolean =
    Seq(ByteType, ShortType, IntegerType, LongType).contains(dt)

  private def requireIntegral(schema: StructType, k: String): Unit = {
    val dt = schema(k).dataType
    require(isIntegral(dt),
      s"boundsCol $k must be an integral column (bounds are stored as " +
        s"long [lo, hi] in the table's sort order); got $dt — a " +
        "non-integral column's native ordering would stamp bounds that " +
        "prune wrong files")
  }

  /** The aggregation expression that turns a column into its stored
    * long stats value: integral columns cast (BEFORE aggregating, so
    * [lo, hi] ordering is numeric), timestamps become epoch MICROS
    * (matching `TIMESTAMP_MICROS` parquet encoding; consumers compare
    * via `timestamp_micros`). Anything else is rejected — a
    * collation-ordered min/max would prune wrong files. */
  private def statExpr(schema: StructType,
                       k: String): org.apache.spark.sql.Column = {
    val dt = schema(k).dataType
    if (isIntegral(dt)) col(k).cast("long")
    else if (dt == org.apache.spark.sql.types.TimestampType)
      unix_micros(col(k))
    else throw new IllegalArgumentException(
      s"stats column $k must be integral or timestamp (stats are " +
        s"stored as long [lo, hi] in numeric order); got $dt")
  }

  /** Whether column `k` can carry stored stats: present in `s`, of a
    * type [[statExpr]] admits. */
  private def stampable(s: StructType, k: String): Boolean =
    s.fieldNames.contains(k) && scala.util.Try(statExpr(s, k)).isSuccess

  // -------------------------------------------------------------------
  // Bloom sidecars (format v5)
  // -------------------------------------------------------------------

  /** Sidecar layout: `writeInt(n)` then n × (`writeUTF(fileName)`,
    * `writeInt(len)`, filter bytes) — one file per commit dir per
    * column, marker-prefixed so data listings and [[vacuum]]'s
    * per-file sweep never see it as data. */
  private def writeBloomSidecar(fs: FileSystem, path: Path,
                                blooms: Seq[(String, Array[Byte])]): Unit = {
    val out = new java.io.DataOutputStream(fs.create(path, true))
    try {
      out.writeInt(blooms.size)
      blooms.foreach { case (name, bytes) =>
        out.writeUTF(name)
        out.writeInt(bytes.length)
        out.write(bytes)
      }
    } finally out.close()
  }

  /** Missing sidecar (pre-v5 commit) → empty map → nothing skipped. */
  private def readBloomSidecar(fs: FileSystem, path: Path)
      : Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    if (!fs.exists(path)) return Map.empty
    val in = new java.io.DataInputStream(fs.open(path))
    try {
      val n = in.readInt()
      (0 until n).map { _ =>
        val name = in.readUTF()
        val bytes = new Array[Byte](in.readInt())
        in.readFully(bytes)
        name -> org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bytes))
      }.toMap
    } finally in.close()
  }

  /** Per-file ([lo, hi] stat pairs for `statNames`, row count) read
    * from the parquet footers of just-written files — zero Spark jobs,
    * zero data IO. EVERY requested column in EVERY file must be a stat
    * shape the manifest stores exactly: signed INT32/INT64 (Spark
    * byte/short/int/long) or INT64 TIMESTAMP(MICROS) (the engine's
    * pinned parquet output type, whose footer min/max ARE `unix_micros`
    * values) — the callers admit only integral and timestamp stat
    * columns, and Spark's writer always emits their statistics, so
    * anything else (a column missing from the file, another physical
    * type, a chunk without statistics) throws, naming the file and the
    * column, rather than stamping guessed bounds. Chunks of an all-null
    * column carry no min/max but a set null count — they contribute
    * nothing. Zero-row files are omitted from the map — the caller drops
    * them from the manifest. `nullNames` (any type) are summed into the
    * file's null count: None when a chunk of one carries no null count
    * (parquet drops the whole statistics block of an oversized binary
    * value), so the caller must scan to know. */
  private def footerStats(fs: FileSystem, dir: Path, names: Seq[String],
                          statNames: Seq[String],
                          nullNames: Seq[String] = Seq.empty)
      : Map[String, FileFooter] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    def servable(pt: org.apache.parquet.schema.PrimitiveType): Boolean =
      pt.getPrimitiveTypeName match {
        case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
          pt.getLogicalTypeAnnotation match {
            case null => true
            case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
              a.isSigned
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              pt.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
                t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
            case _ => false
          }
        case _ => false
      }
    def longOf(v: Any): Long = v match {
      case i: java.lang.Integer => i.longValue
      case l: java.lang.Long => l.longValue
      case other => throw new IllegalStateException(
        s"unexpected footer stat type ${other.getClass}")
    }
    val out = Map.newBuilder[String, FileFooter]
    for (name <- names) {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(dir, name), fs.getConf))
      try {
        val footer = reader.getFooter
        import scala.jdk.CollectionConverters._
        val blocks = footer.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        if (rows > 0) {
          val fileSchema = footer.getFileMetaData.getSchema
          def chunksOf(k: String) = for (b <- blocks;
              cc <- b.getColumns.asScala
              if cc.getPath.size == 1 && cc.getPath.toArray.head == k)
            yield cc
          val pairs: Seq[Option[(Long, Long)]] = statNames.map { k =>
            def unservable(why: String) = new IllegalStateException(
              s"stats column $k of ${new Path(dir, name)}: $why")
            if (!fileSchema.containsField(k))
              throw unservable("not a top-level column of the file")
            var lo = Long.MaxValue; var hi = Long.MinValue; var seen = false
            for (cc <- chunksOf(k)) {
              if (!servable(cc.getPrimitiveType))
                throw unservable(s"footer type ${cc.getPrimitiveType} " +
                  "is not signed INT32/INT64 or INT64 TIMESTAMP(MICROS)")
              val st = cc.getStatistics
              if (st != null && st.hasNonNullValue) {
                lo = math.min(lo, longOf(st.genericGetMin))
                hi = math.max(hi, longOf(st.genericGetMax))
                seen = true
              } else if (st == null || !st.isNumNullsSet ||
                  st.getNumNulls != cc.getValueCount) {
                // stats absent (vs. a provably all-null chunk)
                throw unservable("a column chunk carries no statistics")
              }
            }
            if (seen) Some((lo, hi)) else None
          }
          // one chunk per row group, or the column is not a top-level
          // primitive (a nested column counts nulls only at its leaves)
          val nulls = sumKnown(nullNames.map { k =>
            val cs = chunksOf(k)
            if (cs.size != blocks.size) None
            else sumKnown(cs.map(cc => Option(cc.getStatistics)
              .filter(_.isNumNullsSet).map(_.getNumNulls)))
          })
          out += name -> FileFooter(pairs, rows, nulls)
        }
      } finally reader.close()
    }
    out.result()
  }

  /** The sum of `xs`, or None when one is unknown. */
  private def sumKnown(xs: Iterable[Option[Long]]): Option[Long] =
    xs.foldLeft(Option(0L))((a, x) => for (p <- a; q <- x) yield p + q)

  /** One staged file's footer facts (see [[footerStats]]). */
  private case class FileFooter(pairs: Seq[Option[(Long, Long)]], rows: Long,
                                nulls: Option[Long])

  /** A staged commit dir: its manifest entries, stamped for the stats
    * list `cols`, and the null count of [[stage]]'s `nullCols` summed
    * over its files (None: unknown). */
  private case class Staged(dir: Path, cols: Seq[String],
                            entries: Seq[Entry], nulls: Option[Long]) {
    def lines: Seq[String] = entries.map(_.line)
    /** The entries re-projected onto the stats list `list` BY NAME: a
      * racing commit moved the list they were stamped for. */
    def on(list: Seq[String]): Staged =
      if (list == cols) this
      else copy(cols = list, entries = entries.map(e =>
        e.copy(stats = list.map(e.statOf(cols, _)))))
    /** Remove the dir of a commit that will not happen. */
    def discard(spark: SparkSession): Unit = fsOf(spark, dir).delete(dir, true)
    /** `check`, discarding the dir when it throws: a refused commit
      * leaves nothing behind. */
    def orDiscard(spark: SparkSession)(check: => Unit): Unit =
      try check catch { case e: Throwable => discard(spark); throw e }
  }

  /** Write `df`'s rows as immutable files under a fresh commit subdir and
    * return their manifest entries — NOT yet visible to any reader (no
    * manifest references them until a commit does). Every entry carries
    * the file's row count and size and one [lo, hi] pair per column of
    * the stats list `statsCols` (unknown for a column `df` does not
    * hold as a stats type), `bloomCols` one per-file Bloom filter per
    * column `df` holds in the commit dir's sidecars, `nullCols` the
    * staged null count (from the footers). */
  private def stage(spark: SparkSession, root: String, df: DataFrame,
                    allowEmpty: Boolean = false,
                    statsCols: Seq[String] = Seq.empty,
                    bloomCols: Seq[String] = Seq.empty,
                    nullCols: Seq[String] = Seq.empty,
                    relPrefix: String = "data"): Staged = {
    val rel = s"$relPrefix/c-${UUID.randomUUID().toString.take(12)}"
    val dir = new Path(root, rel)
    df.write.parquet(dir.toString)
    val fs = fsOf(spark, dir)
    val staged = fs.listStatus(dir).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(f => f.getPath.getName -> f.getLen).toMap
    require(allowEmpty || staged.nonEmpty, "commit staged zero data files")
    if (staged.isEmpty) return Staged(dir, statsCols, Seq.empty, Some(0L))
    // per-file stats for the manifest, taken from the
    // parquet FOOTERS the write just produced (optimization guide §1/§6
    // — the footers already hold exact typed min/max and row counts, so
    // re-scanning the staged files was one full Spark job per commit,
    // paid by EVERY write in the engine: append, merge, compaction,
    // every streaming micro-batch apply). Footer min/max for signed
    // INT32/INT64 and TIMESTAMP(MICROS) — the only stat shapes
    // [[statExpr]] admits, and the engine pins TIMESTAMP_MICROS output
    // — are bit-exact equals of the old `min(cast(k as long))`
    // aggregates, so the manifest lines are byte-identical
    // (ManifestFooterStatsSpec pins the equality). The callers reject
    // non-integral stat columns before writing.
    lazy val justWritten = spark.read.parquet(dir.toString)
    val held = statsCols.filter(stampable(df.schema, _))
    val perFile: Map[String, FileFooter] = footerStats(fs, dir,
      staged.keys.toSeq, held, nullCols)
    val blooms = bloomCols.filter(stampable(df.schema, _))
    // format v5: one Bloom filter per file per declared column. TWO
    // more passes reading only the bloom columns: a per-file DISTINCT
    // count (a filter holds a SET — sizing by row count would pay the
    // ~10 bits/entry tax once per duplicate occurrence; `git show
    // f7c7d6f:src/main/scala/graft/tools/BloomProbe.scala` measured the
    // repeat factor directly on lineitem), then the
    // filters themselves sized PER COLUMN by that column's largest
    // per-file distinct count (a global max across columns would
    // oversize every low-cardinality column's sidecars by the widest
    // column's factor). The filter aggregation can't fold into the
    // distinct pass — a Bloom filter's bit array is allocated from
    // `expected` BEFORE any value is inserted. The per-file filters
    // come back through the driver, which writes one sidecar per
    // column into the commit dir — at this design's driver-manifest
    // scale that's the same shape as the stats collect (a production
    // format emits per-file sidecars from the writer tasks themselves).
    if (blooms.nonEmpty && perFile.nonEmpty) {
      val dAggs = blooms.zipWithIndex.map { case (k, i) =>
        countDistinct(statExpr(justWritten.schema, k)).as(s"_d$i") }
      val dRows = justWritten
        .groupBy(input_file_name().as("_f"))
        .agg(dAggs.head, dAggs.tail: _*)
        .collect()
      val expectedPerCol = blooms.indices.map(i =>
        math.max(1L, dRows.iterator.map(_.getLong(1 + i)).max))
      val bAggs = blooms.zipWithIndex.map { case (k, i) =>
        graft.functions.BloomAgg.sketch(
          statExpr(justWritten.schema, k), expectedPerCol(i), BloomFpp)
          .as(s"_b$i")
      }
      val rows = justWritten
        .groupBy(input_file_name().as("_f"))
        .agg(bAggs.head, bAggs.tail: _*)
        .collect()
      blooms.zipWithIndex.foreach { case (k, i) =>
        writeBloomSidecar(fs, new Path(dir, s"_bloom.$k"),
          rows.toSeq.map(r => new Path(r.getString(0)).getName ->
            r.getAs[Array[Byte]](1 + i)).sortBy(_._1))
      }
    }
    // a ZERO-row file (a writer task that got an empty partition) has
    // no footer entry: it contributes nothing, so it is dropped from
    // the manifest rather than carried as an unprunable line
    val entries = staged.toSeq.sortBy(_._1).flatMap { case (name, bytes) =>
      perFile.get(name).map { f =>
        val pairs = held.zip(f.pairs).toMap
        Entry(s"$rel/$name", f.rows, bytes, statsCols.map(pairs.get(_).flatten))
      }
    }
    // an all-empty write (zero rows total) must NOT silently commit a
    // zero-entry manifest: keep the raw file list (schema preserved,
    // rows stamped 0) so the table stays readable as a zero-row relation
    Staged(dir, statsCols,
      if (entries.nonEmpty) entries
      else staged.toSeq.sortBy(_._1).map { case (name, bytes) =>
        Entry(s"$rel/$name", 0L, bytes, Seq.empty) },
      sumKnown(perFile.values.map(_.nulls)))
  }

  /** In-process serialization of the check-then-rename window: the
    * local filesystem's `rename(2)` replaces an existing destination,
    * so two same-JVM committers could otherwise both "win" one version
    * and silently drop a manifest. Cross-PROCESS exclusivity is the
    * filesystem's job (see the object scaladoc). */
  private val commitLock = new Object

  /** Lost commit races [[append]] and [[deleteWhereKeysIn]] absorb
    * (re-resolving the base each time) before they give up. */
  private val MaxCommitAttempts = 20

  /** Atomic-rename commit of version `v`; false = lost the race (a
    * manifest for `v` already exists). See the object scaladoc for the
    * per-filesystem exclusivity contract. `headers` lead the file
    * (`#statscols=` declaring which columns the lines' [lo, hi] pairs
    * describe, `#schema=` the committed schema). The temp manifest is
    * deleted on ANY failure path — a throwing write must not leak
    * `.tmp-*` junk into `_manifests` forever ([[vacuum]] sweeps aged
    * stragglers as a backstop). */
  private def tryCommit(fs: FileSystem, root: String, v: Int,
                        relFiles: Seq[String],
                        headers: Map[String, String]): Boolean =
    tryCommitPath(fs, root, manifestPath(root, v), relFiles, headers)

  private def tryCommitPath(fs: FileSystem, root: String, target: Path,
                            relFiles: Seq[String],
                            headers: Map[String, String]): Boolean = {
    if (fs.exists(target)) return false
    val tmp = new Path(manifestDir(root),
      s".tmp-${UUID.randomUUID().toString.take(12)}")
    val lines = headerLines(headers) ++ relFiles
    val won =
      try {
        val out = fs.create(tmp, false)
        try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
        finally out.close()
        commitLock.synchronized {
          !fs.exists(target) && fs.rename(tmp, target)
        }
      } catch {
        case e: Throwable =>
          scala.util.Try(fs.delete(tmp, false))
          throw e
      }
    if (!won) fs.delete(tmp, false)
    won
  }

  /** Commit `lines` under `headers` at `target`. A lost race throws the
    * ConcurrentModificationException of every writer that does not
    * retry: its output was computed from a base that is now stale. */
  private def commitAt(spark: SparkSession, root: String, target: Path,
                       lines: Seq[String], headers: Map[String, String],
                       what: String): Unit =
    if (!tryCommitPath(fsOf(spark, target), root, target, lines, headers))
      throw new java.util.ConcurrentModificationException(
        s"$what lost the commit race for ${target.getName}; it was " +
          "computed from a stale base — rerun it")

  /** Commit the version after `s` — on the main chain, or as the next
    * manifest of the branch `s` heads (branch manifests never carry
    * branch pointers: those live on the main chain only). Returns the
    * committed version. */
  private def commitNext(spark: SparkSession, s: Snapshot,
                         lines: Seq[String], headers: Map[String, String],
                         what: String): Int = {
    val v = s.version + 1
    s.branch match {
      case Some(b) => commitAt(spark, s.root,
        branchManifestPath(s.root, b, v), lines,
        headers.filterNot(_._1.startsWith(BranchPrefix)), what)
      case None =>
        commitAt(spark, s.root, manifestPath(s.root, v), lines, headers,
          what)
    }
    v
  }

  /** A header-only (`metadata`) commit: `s`'s entry lines verbatim
    * under `headers`, zero data IO. */
  private def commitHeaders(spark: SparkSession, s: Snapshot,
                            headers: Map[String, String],
                            what: String): Int =
    commitNext(spark, s, s.entryLines, headers + (KindKey -> "metadata"),
      s"$what on ${s.root}")

  /** Create the table (version 1) or REPLACE its contents: the new
    * manifest lists only this commit's files. Fails if another writer
    * committed after the base was resolved — the caller computed against
    * a stale snapshot and must rerun. Pass `expectedBase` when the
    * replacement was derived from a specific version read earlier (the
    * read-modify-write shape): the commit then targets exactly
    * `expectedBase + 1` and aborts if anything landed in between, rather
    * than silently dropping the interleaved commit's rows. The table's
    * stats list becomes `boundsCol` (integral) followed by `statsCols`
    * (integral or timestamp). */
  def overwrite(spark: SparkSession, root: String, df: DataFrame,
                expectedBase: Option[Int] = None,
                boundsCol: Option[String] = None,
                statsCols: Seq[String] = Seq.empty,
                bloomCols: Seq[String] = Seq.empty): Int = {
    val base = expectedBase.getOrElse(currentVersion(spark, root)
      .getOrElse(0))
    // fail fast BEFORE the data write: an invalid bounds/stats/bloom
    // column must not burn a full table write and strand it as orphans
    boundsCol.foreach(k => requireIntegral(df.schema, k))
    (statsCols ++ bloomCols).foreach(k => statExpr(df.schema, k))
    // (re)creation stamps fresh field ids 1..n — the stable column
    // identities every later rename/drop resolves against
    val outSchema = stampFieldIds(asNullable(df.schema))
    val stats = grown(boundsCol.toSeq, statsCols)
    val staged = stage(spark, root, alignToSchema(df, outSchema),
      statsCols = stats, bloomCols = bloomCols).lines
    val headers = colsHeader(StatsKey, stats) ++
      colsHeader(BloomKey, bloomCols) +
      (SchemaKey -> outSchema.json) +
      (MaxFieldIdKey -> outSchema.fields.length.toString) +
      (KindKey -> "overwrite")
    if (!tryCommit(fsOf(spark, new Path(root)), root, base + 1, staged,
        headers))
      throw new java.util.ConcurrentModificationException(
        s"version ${base + 1} of $root was committed concurrently; " +
          "this overwrite was computed from a stale base — rerun it")
    base + 1
  }

  /** The clustered layout: `df` range-partitioned on `key` into
    * `files` files, each sorted on `key`, so the files' key ranges are
    * disjoint and ascending. [[compact]] writes it;
    * [[overwriteClustered]] commits it with bounds stamped on `key`. */
  private[graft] def clustered(df: DataFrame, key: Column,
                               files: Int): DataFrame =
    df.repartitionByRange(files, key).sortWithinPartitions(key)

  /** [[overwrite]] in the [[clustered]] layout on `key`, with per-file
    * [lo, hi] bounds stamped on `key` (it must be integral): a later
    * merge, delete or range read on `key` prunes by file from the
    * manifest alone. */
  def overwriteClustered(spark: SparkSession, root: String, df: DataFrame,
                         key: String, files: Int,
                         bloomCols: Seq[String] = Seq.empty): Int =
    overwrite(spark, root, clustered(df, col(key), files),
      boundsCol = Some(key), bloomCols = bloomCols)

  /** The widened table schema an append with `incoming` produces against
    * `stored`, enforcing the evolution contract: every stored column
    * must arrive with the same type (dropping or retyping is rejected —
    * never a silent column drop / type flip), NEW columns append after
    * the stored ones (old files read them as null). */
  private def evolvedSchema(stored: StructType, incoming: StructType,
                            root: String, maxFieldId: Long): StructType = {
    val inByName = incoming.fields.map(f => f.name -> f.dataType).toMap
    val missing = stored.fields.map(_.name).filterNot(inByName.contains)
    require(missing.isEmpty,
      s"append to $root is missing table columns ${missing.mkString(", ")}" +
        " — schema evolution supports ADDING columns only; write every " +
        "existing column (use overwrite to redefine the table)")
    val retyped = stored.fields.filter(f =>
      inByName(f.name) != f.dataType)
    require(retyped.isEmpty,
      s"append to $root changes column types: " +
        retyped.map(f => s"${f.name} ${f.dataType} -> ${inByName(f.name)}")
          .mkString(", ") +
        " — the schema contract is exact: cast the frame to the " +
        "committed types (after a widening, send the WIDE type); to " +
        "change the TABLE's types use widenColumn (lossless) or " +
        "overwrite (anything else)")
    // new columns: FRESH ids off the high-water mark (a stale id riding
    // in from a foreign read is overwritten)
    val newFields = incoming.fields
      .filterNot(f => stored.fieldNames.contains(f.name))
      .zipWithIndex.map { case (f, i) => withFieldId(f, maxFieldId + i + 1L) }
    asNullable(StructType(stored.fields ++ newFields))
  }

  /** The schema with every field id removed — for reading DELETE files
    * under the table shape: delete files are key-only and id-LESS
    * (their key columns can never be renamed — requireIdEvolvable
    * rejects), so they resolve by name; requesting ids over them would
    * fail loudly for nothing. Callers: [[Snapshot.deleteKeys]] and
    * [[readChangesBetween]]'s delete side. */
  private def stripFieldIds(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(metadata =
      new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(FieldIdKey).build())))

  /** Append `df`'s rows: new manifest = base manifest + this commit's
    * files. Staged files stay valid whatever the base becomes, so a lost
    * commit race just re-reads the newest manifest and retries.
    * Add-column schema evolution happens here: a `df` carrying every
    * table column plus new ones widens the committed schema (old files
    * read the additions as null); a `df` missing or retyping a table
    * column is rejected loudly. The new files stamp the table's whole
    * stats list; `boundsCol` (integral) joins the list when it is not
    * on it yet. */
  def append(spark: SparkSession, root: String, df: DataFrame,
             boundsCol: Option[String] = None): Int = {
    val fs = fsOf(spark, new Path(root))
    // ONE resolve serves every pre-staging decision (stats list, bloom
    // declaration, committed schema, delete guard, constraints) AND the
    // first commit attempt; only a lost race resolves again
    var base = resolveOption(spark, root)
    def statsOn(b: Option[Snapshot]): Seq[String] =
      grown(b.fold(Seq.empty[String])(_.statsCols), boundsCol.toSeq)
    // evolution contract and bounds-type gate checked BEFORE staging
    // (fail fast, no orphan files); the commit loop re-derives the
    // evolution per attempt for races. The evolved schema is resolved
    // HERE because the staged files must carry ITS field ids — a
    // creation-by-append stamps fresh ids exactly like overwrite.
    boundsCol.foreach(k => requireIntegral(df.schema, k))
    // (evolved schema, field-id high-water mark) against a base
    def evolve(b: Option[Snapshot]): (StructType, Long) = b match {
      case Some(s) =>
        val e = evolvedSchema(s.schema, df.schema, root, s.maxFieldId)
        (e, s.maxFieldId + e.fields.length - s.schema.fields.length)
      case None =>
        val e = stampFieldIds(asNullable(df.schema))
        (e, e.fields.length.toLong)
    }
    val (stagedSchema, _) = evolve(base)
    // CHECK constraints gate `df` BEFORE staging (fail fast, no orphan
    // files). The RESURRECTION GUARD (format v6) runs AFTER staging, on
    // the staged files: their footer bounds usually prove it with no
    // job (Snapshot.requireNoDeletedKeys), and a failed guard discards
    // the staged dir, so nothing is committed or left behind. Both hold
    // against a SPECIFIC base — the commit loop re-runs them whenever it
    // lands on a base OTHER than the one checked (a racing
    // delete/addConstraint between check and commit must not slip
    // pre-deleted or violating rows in: TOCTOU-safe). The evolution
    // contract above already requires `df` to carry every table column,
    // the delete columns among them.
    def constraintsHold(s: Snapshot): Unit =
      validateConstraints(df, s.constraints, s"append to $root")
    base.foreach(constraintsHold)
    // the table's declared BLOOM columns auto-stamp on every append — a
    // maintained index, not a per-writer choice
    val staged = stage(spark, root, alignToSchema(df, stagedSchema),
      statsCols = statsOn(base),
      bloomCols = base.fold(Seq.empty[String])(_.bloomCols))
    var validated: Option[Int] = None // the base the staged files passed
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      if (attempt > 0) base = resolveOption(spark, root) // a lost race
      // schema evolution against the base's committed schema. The
      // staged files carry stagedSchema's field ids — a racing commit
      // that changed the id assignment (a different evolution landed
      // first) makes those files WRONG for this base's schema: abort
      // instead of committing misattributed ids.
      val (outSchema, maxFieldId) = evolve(base)
      if (outSchema.json != stagedSchema.json)
        throw new java.util.ConcurrentModificationException(
          s"append to $root raced a schema change (field ids " +
            "reassigned under the staged files); rerun the append")
      val stats = statsOn(base)
      val stagedOut = staged.on(stats)
      base.filterNot(s => validated.contains(s.version)).foreach { s =>
        staged.orDiscard(spark) {
          if (attempt > 0) constraintsHold(s) // a newer base than checked
          s.requireNoDeletedKeys(spark, stagedOut.entries,
            stagedSchema, s"append to $root would resurrect " +
              s"equality-deleted (${s.deleteCols.mkString(", ")}) tuples" +
              " — the delete is global until compacted; run optimize " +
              "first, then append")
        }
        validated = Some(s.version)
      }
      val baseLines = base.map(_.entryLines).getOrElse(Seq.empty)
      val v = base.fold(0)(_.version) + 1
      val bh = base.map(_.headers).getOrElse(Map.empty[String, String])
      val headers = colsHeader(StatsKey, stats) ++
        // the bloom declaration survives: base files keep their
        // sidecars in place, this commit's were stamped above
        bh.get(BloomKey).map(BloomKey -> _).toMap ++
        // and the delete column: base delete lines carry verbatim
        bh.get(DeleteKey).map(DeleteKey -> _).toMap ++
        // writer markers + constraints: an append must not amnesia a
        // sink's cursor or shed the table's invariants
        carriedHeaders(bh) +
        // the id high-water mark moves with the evolution (overrides
        // the carried value; ids are never reused)
        (MaxFieldIdKey -> maxFieldId.toString) +
        (SchemaKey -> outSchema.json) + (KindKey -> "append")
      if (tryCommit(fs, root, v, baseLines ++ stagedOut.lines, headers))
        return v
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"append to $root lost $MaxCommitAttempts commit races")
  }

  /** RESTORE an earlier version as the NEWEST commit (Delta's RESTORE /
    * Iceberg's rollback): the new manifest replicates version
    * `toVersion`'s headers and entry lines VERBATIM — zero data IO, one
    * rename — so history keeps moving forward (the restored-away
    * versions stay time-travelable until vacuumed). The recovery
    * primitive for a multi-table transaction whose later commits never
    * landed: roll the tables that DID commit back to the coordinated
    * version. Restoring across an OUTSTANDING equality delete drops the
    * delete file while carrying the data files verbatim — a pure
    * un-delete, which [[readChangesBetween]] surfaces as 'insert' rows
    * of the resurrected keys (see its scaladoc) so CDF consumers stay
    * coherent. */
  def restore(spark: SparkSession, root: String, toVersion: Int): Int = {
    val names = listing(spark, root)
    val vs = mainVersions(names)
    require(vs.contains(toVersion),
      s"cannot restore $root to $toVersion (have ${vs.mkString(",")})")
    val m = resolveIn(spark, root, names, Some(toVersion))
    // headers replicate verbatim EXCEPT the kind: this commit is a
    // restore whatever the target version's commit was
    commitAt(spark, root, manifestPath(root, vs.last + 1), m.entryLines,
      m.headers + (KindKey -> "restore"), s"restore of $root")
    vs.last + 1
  }

  /** MERGE-ON-READ DELETE (format v6): commit the distinct `keyCol`
    * values of `keys` as an equality delete file — O(delta) work and
    * ZERO data-file IO, the write-amplification complement to
    * [[mergeCoW]] (which rewrites every affected file). Every reader
    * from this version on anti-joins the outstanding delete set;
    * [[optimize]] APPLIES the deletes (its rewrite reads through the
    * snapshot) and drops them, restoring a delete-free table.
    * Contract (see [[DeleteKey]]): deletes are GLOBAL until compacted —
    * [[append]] refuses to resurrect a deleted key; [[mergeCoW]]
    * sequences outstanding deletes when keyed on this same column and
    * refuses otherwise. One delete column per table; a second call
    * must use the same `keyCol`. */
  def deleteWhereKeyIn(spark: SparkSession, root: String,
                       keyCol: String, keys: DataFrame): Int =
    deleteWhereKeysIn(spark, root, Seq(keyCol), keys)

  /** The COMPOSITE-key twin (Iceberg's multi-column equality deletes):
    * `keyCols` together form the equality tuple — a row is suppressed
    * when its WHOLE tuple appears in the delete set. One delete
    * column-set per table; later delete commits must use the same
    * set. Resurrection: [[mergeCoWKeys]] keyed on exactly this
    * column-set sequences the outstanding tuples (upsert = keyed
    * resurrection), or [[optimize]] applies and drops them. */
  def deleteWhereKeysIn(spark: SparkSession, root: String,
                        keyCols: Seq[String], keys: DataFrame): Int = {
    require(keyCols.nonEmpty, "need at least one delete key column")
    require(keyCols.distinct == keyCols, s"duplicate delete columns " +
      s"in ${keyCols.mkString(", ")}")
    keyCols.foreach(k => require(!k.contains(','),
      s"delete column name '$k' cannot contain ',' (header format)"))
    var base = resolve(spark, root)
    require(base.deleteCols.isEmpty || base.deleteCols == keyCols,
      s"table $root already carries equality deletes on " +
        s"(${base.deleteCols.mkString(", ")}); one delete column-set per " +
        s"table (got ${keyCols.mkString(", ")})")
    // ONE job: on a single partition `distinct` plans no exchange. The
    // dedup stays — the change feed emits each delete row as a 'delete'
    val delKeys = keys.select(keyCols.map(k =>
      col(k).cast(base.schema(k).dataType).as(k)): _*)
      .coalesce(1).distinct()
    // the delete line carries the listed key columns' [lo, hi]: readers
    // and the append guard skip the delete files whose range misses
    // theirs (Snapshot.deletesOver)
    val staged = stage(spark, root, delKeys, statsCols = base.statsCols,
      nullCols = keyCols, relPrefix = "deletes")
    // the null-key guard from the staged footers' null counts; a scan
    // only when a footer does not carry them
    val nullFree = staged.nulls.map(_ == 0L).getOrElse(
      readFiles(spark, Seq(staged.dir.toString), delKeys.schema)
        .where(keyCols.map(col(_).isNull).reduce(_ || _)).take(1).isEmpty)
    staged.orDiscard(spark)(require(nullFree,
      "null keys cannot be equality-deleted (the anti-join would " +
        "never match them)"))
    val fs = fsOf(spark, new Path(root))
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      if (attempt > 0) { // a lost race: re-resolve the base
        base = resolve(spark, root)
        require(base.deleteCols.isEmpty || base.deleteCols == keyCols,
          s"a concurrent commit set the delete columns of $root to " +
            base.deleteCols.mkString(", "))
      }
      val lines = staged.on(base.statsCols).lines
      if (tryCommit(fs, root, base.version + 1, base.entryLines ++ lines,
          base.headers + (DeleteKey -> keyCols.mkString(",")) +
            (KindKey -> "delete")))
        return base.version + 1
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"delete on $root lost $MaxCommitAttempts commit races")
  }

  /** The file-level CHANGE SET between two committed versions: entries
    * in `toVersion`'s manifest but not `fromVersion`'s (added) and vice
    * versa (removed) — O(manifest) work, the commit literally wrote
    * these lists. Because [[mergeCoW]] carries unchanged files verbatim
    * (same path), the change set of a merge is delta-file-sized, never
    * table-sized. */
  def changedFiles(spark: SparkSession, root: String,
                   fromVersion: Int, toVersion: Int)
      : (Seq[String], Seq[String]) = {
    val (from, to) = resolvePair(spark, root, fromVersion, toVersion)
    changesOf(from, to)
  }

  /** Both ends of a change range, from one listing. */
  private def resolvePair(spark: SparkSession, root: String,
                          fromVersion: Int,
                          toVersion: Int): (Snapshot, Snapshot) = {
    require(fromVersion < toVersion,
      s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    val from = resolve(spark, root, Some(fromVersion))
    (from, from.at(spark, toVersion))
  }

  private def changesOf(from: Snapshot,
                        to: Snapshot): (Seq[String], Seq[String]) = {
    val f = from.entries.map(_.rel).toSet
    val t = to.entries.map(_.rel).toSet
    ((t -- f).toSeq.sorted, (f -- t).toSeq.sorted)
  }

  /** CHANGED-FILES/CDC READ — the incremental-consumer story (Delta's
    * Change Data Feed shape, computed from the manifests): every row of
    * a file ADDED in `(fromVersion, toVersion]` tagged
    * `_change = 'insert'`, every row of a file REMOVED tagged
    * `_change = 'delete'`. File-level granularity: a copy-on-write
    * rewrite lists its old file as removed and its new file as added,
    * so a row the rewrite merely CARRIED appears on both sides — a
    * row-level consumer reconciles by key (delete∖insert = removed,
    * insert∖delete = added, both-with-different-payload = modified),
    * which is delta-file-sized work because carried FILES never appear
    * at all. Each side reads with ITS version's committed schema, and
    * the two align by name (post-evolution reads of pre-evolution
    * deletes surface the new columns as null). */
  def readChangesBetween(spark: SparkSession, root: String,
                         fromVersion: Int, toVersion: Int): DataFrame = {
    val (mFrom, mTo) = resolvePair(spark, root, fromVersion, toVersion)
    val (added, removed) = changesOf(mFrom, mTo)
    def side(rels: Seq[String], m: Snapshot, tag: String,
             deleteSide: Boolean = false): DataFrame = {
      // delete files are key-only and id-less: resolve them by NAME
      // under the table shape (see stripFieldIds)
      val s = if (deleteSide) stripFieldIds(m.schema) else m.schema
      val base =
        if (rels.nonEmpty)
          readFiles(spark,
            rels.map(r => new Path(root, r).toString), s)
        else {
          // zero changed files on this side: an empty relation typed by
          // the version's schema
          require(m.files.nonEmpty,
            s"version ${m.version} of $root lists no data files")
          readFiles(spark, m.files.take(1), s).where(lit(false))
        }
      base.withColumn("_change", lit(tag))
    }
    // format v6: an ADDED equality-delete file IS a batch of deletes —
    // its rows surface tagged 'delete' with only the delete-key column
    // populated (by-name resolution against the table schema nulls the
    // rest). A REMOVED delete file is an UN-DELETE for every key that
    // does not reappear in an added delete file (a consolidation
    // carries survivors forward) — and the resurrected ROWS must
    // surface as 'insert' exactly once:
    //  - rows living in ADDED data files (a rewrite re-surfaced them)
    //    are already emitted above — nothing extra;
    //  - rows living in CARRIED files (restore's shape: delete files
    //    dropped, data files untouched — or the carried remainder of a
    //    partial rewrite) are emitted HERE: the carried files
    //    semi-joined to the un-deleted key set. Suppressed-elsewhere
    //    keys can't leak: the un-deleted set is anti-joined against
    //    toVersion's WHOLE outstanding delete set (carried delete
    //    files included), so every semi-join key is genuinely live.
    def isDel(rel: String) = rel.startsWith("deletes/")
    val base = side(added.filterNot(isDel), mTo, "insert")
      .unionByName(side(added.filter(isDel), mTo, "delete",
          deleteSide = true),
        allowMissingColumns = true)
      .unionByName(side(removed.filterNot(isDel), mFrom, "delete"),
        allowMissingColumns = true)
    val undropped = removed.filter(isDel)
    if (undropped.isEmpty) base
    else {
      val ks = mFrom.deleteCols
      if (ks.isEmpty) throw new IllegalStateException(
        s"version $fromVersion of $root lists delete files but no " +
          "#deletecol header")
      val oldKeys = mFrom.deleteKeys(spark,
        undropped.map(r => new Path(root, r).toString))
      // a key is UN-deleted only when it is absent from toVersion's
      // WHOLE outstanding delete set — added delete files alone are
      // not enough: two delete commits can hold overlapping keys, and
      // a restore across the later one removes deletes/d2 while
      // CARRYING deletes/d1, so a shared key must stay suppressed (an
      // added-only anti-join would emit it as a false 'insert' and a
      // CDC mirror would resurrect it)
      val unDeleted =
        if (mTo.deleteFiles.isEmpty) oldKeys
        else oldKeys.join(mTo.deleteKeys(spark), ks, "left_anti")
      val addedSet = added.toSet
      val carried = mTo.dataEntries.map(_.rel)
        .filterNot(addedSet.contains)
      if (carried.isEmpty) base
      else base.unionByName(
        readFiles(spark, carried.map(r =>
            new Path(root, r).toString), mTo.schema)
          .join(unDeleted, ks, "left_semi")
          .withColumn("_change", lit("insert")),
        allowMissingColumns = true)
    }
  }

  /** Transactional OPTIMIZE — the [[clustered]] rewrite (one range
    * exchange + in-file sort on `clusterCol`, restoring per-file min-max
    * pruning) behind a manifest commit: the rewritten files become
    * version N+1 in one rename, the pre-compaction version stays readable
    * until [[vacuum]], and a concurrent commit aborts the swap (stale
    * base) instead of clobbering it. Pass `targetFiles` explicitly, or
    * `targetFileBytes` to SIZE-BALANCE from the manifest's byte counts
    * (total bytes / target size, metadata-only — no listing, no scan).
    * Returns (newVersion, filesBefore, filesAfter). */
  def optimize(spark: SparkSession, root: String, clusterCol: String,
               targetFiles: Int): (Int, Int, Int) =
    optimizeImpl(spark, resolve(spark, root), clusterCol, targetFiles)

  def optimizeBySize(spark: SparkSession, root: String, clusterCol: String,
                     targetFileBytes: Long): (Int, Int, Int) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val base = resolve(spark, root)
    val bytes = base.dataEntries.map(_.bytes).sum
    optimizeImpl(spark, base, clusterCol,
      math.max(1, ((bytes + targetFileBytes - 1) / targetFileBytes).toInt))
  }

  private def optimizeImpl(spark: SparkSession, base: Snapshot,
                           clusterCol: String,
                           targetFiles: Int): (Int, Int, Int) = {
    // the rewrite clusters on clusterCol, so an integral one joins the
    // stats list — a NON-integral one does not (never collation-ordered
    // bounds that would prune wrong files on a later merge)
    val pinned = base.read(spark)
    compact(spark, base, pinned, col(clusterCol), targetFiles,
      grown(base.statsCols, Seq(clusterCol)
        .filter(c => isIntegral(pinned.schema(c).dataType))), "optimize")
  }

  /** The compaction both OPTIMIZE shapes commit: `base`'s rows (read
    * through its deletes, which the commit then drops) range-partitioned
    * into `targetFiles` files sorted on `sortKey`. Every line is fresh,
    * so every file stamps the stats list `statsCols` (base's, grown)
    * and the bloom declaration — compacting must never silently strip
    * a pruning tier — and writer markers, constraints and tags carry
    * over: compaction must not amnesia a sink's cursor or shed the
    * table's invariants. Returns (newVersion, filesBefore, filesAfter). */
  private def compact(spark: SparkSession, base: Snapshot,
                      pinned: DataFrame, sortKey: Column, targetFiles: Int,
                      statsCols: Seq[String],
                      what: String): (Int, Int, Int) = {
    val staged = stage(spark, base.root,
      clustered(pinned, sortKey, targetFiles),
      statsCols = statsCols, bloomCols = base.bloomCols).lines
    val headers = colsHeader(StatsKey, statsCols) ++
      colsHeader(BloomKey, base.bloomCols) ++
      carriedHeaders(base.headers) + (SchemaKey -> base.schema.json) +
      (KindKey -> "compact")
    (commitNext(spark, base, staged, headers, s"$what of ${base.root}"),
      base.files.size, staged.size)
  }


  /** N-DIMENSIONAL OPTIMIZE ZORDER BY (Delta's shape): the rewrite
    * orders by the Morton interleave of ALL `cols`' domain buckets
    * ([[ZOrderLayout.zValueN]]; exact integer arithmetic throughout,
    * in each column's stored stats unit — each dimension bucketed to
    * the same 10-bit scale so the interleave alternates between
    * dimensions at every level) and adds every column to the stats
    * list, stamping its per-file [lo, hi], so the files become tight
    * N-dimensional hyper-rectangles and [[readWhereRect]] — or a SQL
    * `WHERE` through [[GraftCatalog]], whose pushed filters drive the
    * same stats — skips in all N dimensions from the manifest alone.
    * Up to 6 dimensions (6 x 10 bucket bits in one signed long; in
    * practice 2-4 — each added dimension halves the per-dimension
    * resolution the same file count can express, the classic z-order
    * trade Delta documents). Everything else is [[optimize]]'s
    * contract: one atomic commit, outstanding equality deletes applied
    * and dropped (the rewrite reads through the snapshot), blooms
    * re-stamped, carried headers preserved, old version readable until
    * vacuum. The output schema is UNCHANGED (the z-value is a sort
    * key, never a column). */
  def optimizeZOrderCols(spark: SparkSession, root: String,
                         cols: Seq[String],
                         targetFiles: Int): (Int, Int, Int) = {
    require(cols.size >= 2 && cols.distinct == cols,
      s"z-order needs >= 2 distinct columns, got ${cols.mkString(", ")}")
    require(cols.size <= 6,
      s"z-order supports at most 6 dimensions (10 bucket bits each " +
        s"in one signed long), got ${cols.size}")
    val base = resolve(spark, root)
    val pinned = base.read(spark)
    // the z-bucket needs each dimension as an exact LONG expression in
    // its stats unit — the same unit statExpr stamps, so the stamped
    // stats and the layout agree. The bigint cast is load-bearing
    // for narrow integral columns: (c - lo) * 1024 evaluated in a
    // 32-bit column's native type overflows silently once the domain
    // exceeds ~2^21, producing negative buckets and a garbage curve
    // (results stay correct — the stats are stamped from real values —
    // but the pruning the layout sells collapses with no diagnostics).
    def unitSql(c: String): String = {
      statExpr(pinned.schema, c) // type gate: fails loudly on others
      if (pinned.schema(c).dataType ==
          org.apache.spark.sql.types.TimestampType) s"unix_micros(`$c`)"
      else s"CAST(`$c` AS BIGINT)"
    }
    val units = cols.map(unitSql)
    val mmAggs = units.flatMap(u => Seq(
      min(expr(u)).cast("long"), max(expr(u)).cast("long")))
    val mm = pinned.agg(mmAggs.head, mmAggs.tail: _*).head()
    require(!mm.anyNull,
      s"cannot z-order $root on all-null ${cols.mkString("/")}")
    val buckets = units.zipWithIndex.map { case (u, i) =>
      val (lo, hi) = (mm.getLong(2 * i), mm.getLong(2 * i + 1))
      expr(ZOrderLayout.zBucketSql(u, lo.toString,
        (hi - lo + 1).toString, "DIV"))
    }
    val zv = ZOrderLayout.zValueN(buckets)
    compact(spark, base, pinned, zv, targetFiles, grown(base.statsCols, cols),
      "optimizeZOrder")
  }

  /** The table's declared CHECK constraints, name → SQL expression. */
  def constraintsOf(spark: SparkSession, root: String)
      : Map[String, String] =
    resolveOption(spark, root).map(_.constraints).getOrElse(Map.empty)

  /** A row violates only when the expression is FALSE (SQL-standard
    * CHECK semantics: NULL passes). One `take(1)` job per constraint —
    * delta-sized for append/merge inputs, table-sized only in
    * [[addConstraint]]'s declaration scan. */
  private def validateConstraints(df: DataFrame,
                                  cs: Map[String, String],
                                  what: String): Unit =
    cs.foreach { case (name, sql) =>
      val bad = df.where(!coalesce(expr(sql), lit(true))).take(1)
      require(bad.isEmpty,
        s"$what violates CHECK constraint $name ($sql): " +
          s"e.g. ${bad.headOption.map(_.toString).getOrElse("")}")
    }

  /** Declare a CHECK constraint (see [[ConstraintPrefix]]): scans the
    * EXISTING table first — a constraint can never be declared over
    * violating data — then commits the header (entry lines verbatim,
    * zero data IO). */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    exprSql: String): Int = {
    requireTxnId(name) // same identifier alphabet
    require(!exprSql.contains('\n') && !exprSql.contains('\t'),
      "constraint expression must be a single line (header format)")
    val s = resolve(spark, root)
    validateConstraints(s.read(spark), Map(name -> exprSql),
      s"existing data of $root")
    commitHeaders(spark, s,
      s.headers + ((ConstraintPrefix + name) -> exprSql), "addConstraint")
  }

  /** Drop a CHECK constraint — header-only commit, zero data IO. */
  def dropConstraint(spark: SparkSession, root: String,
                     name: String): Int = {
    val s = resolve(spark, root)
    require(s.constraints.contains(name),
      s"no constraint named $name on $root")
    commitHeaders(spark, s, s.headers - (ConstraintPrefix + name),
      "dropConstraint")
  }

  /** ADD-COLUMN SCHEMA EVOLUTION AS A HEADER-ONLY COMMIT (`ALTER TABLE
    * ... ADD COLUMN` — the DDL twin of [[append]]'s evolution-on-
    * write): the new manifest lists the SAME files and widens only the
    * committed `#schema=` header — zero data IO; old files read the
    * additions as null, exactly the state an evolving append leaves
    * them in. New columns are forced NULLABLE (no existing row carries
    * them). Name collisions — including case-insensitive ones, which
    * SQL resolution would conflate — and empty additions reject
    * loudly; rename / drop ride field ids
    * ([[renameColumn]]/[[dropColumn]]) and retyping is sound only as
    * a lossless widening ([[widenColumn]]). */
  def addColumns(spark: SparkSession, root: String,
                 cols: Seq[StructField]): Int = {
    require(cols.nonEmpty, s"addColumns to $root needs a column")
    require(cols.map(_.name.toLowerCase).distinct.size == cols.size,
      s"addColumns to $root: duplicate new column names " +
        cols.map(_.name).mkString(", "))
    val s = resolve(spark, root)
    val stored = s.schema
    val clash = cols.map(_.name).filter(n =>
      stored.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty,
      s"addColumns to $root: column(s) ${clash.mkString(", ")} " +
        "already exist (rename/retype is not supported — evolution " +
        "is add-only)")
    // the additions get FRESH ids off the high-water mark (never a
    // reused id — a re-added name must not resurface the dropped
    // column's old values)
    val mx = s.maxFieldId
    val added = cols.zipWithIndex.map { case (f, i) =>
      withFieldId(f.copy(nullable = true), mx + i + 1L) }
    val widened = asNullable(StructType(stored.fields ++ added))
    commitHeaders(spark, s, s.headers +
      (MaxFieldIdKey -> (mx + cols.length).toString) +
      (SchemaKey -> widened.json), "addColumns")
  }

  /** The shared gate for header-only schema evolution: the column must
    * exist and hold no pruning/delete ROLE (those headers attribute by
    * NAME), and no CHECK constraint may reference it (constraint
    * expressions are SQL text — a silent rewrite could change
    * semantics). RENAME/DROP additionally require the session to
    * resolve by id (`needIds` — a renamed column would silently null
    * under by-name resolution); WIDENING does not (the name never
    * changes, so by-name resolution of the narrow physical column
    * under the wide requested type stays sound). */
  private def requireIdEvolvable(spark: SparkSession, s: Snapshot,
                                 colName: String, what: String,
                                 needIds: Boolean = true): StructType = {
    val root = s.root
    val stored = s.schema
    if (needIds)
      require(spark.conf.get("spark.sql.parquet.fieldId.read.enabled",
          "false").equalsIgnoreCase("true"),
        s"$what needs spark.sql.parquet.fieldId.read.enabled=true (set " +
          "by GraftSession) — without id resolution a renamed column " +
          "reads as null")
    require(stored.fieldNames.contains(colName),
      s"$what on $root: no column named $colName " +
        s"(have ${stored.fieldNames.mkString(", ")})")
    Seq("a stats column" -> s.statsCols,
      "a bloom column" -> s.bloomCols,
      "a delete column" -> s.deleteCols).foreach { case (role, cols) =>
      if (cols.contains(colName)) throw new UnsupportedOperationException(
        s"$what on $root: $colName is $role — pruning/delete headers " +
          "attribute by name; retire the role first (an overwrite " +
          "re-declares them), then evolve")
    }
    val token = ("(?i)(?<![A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(colName) + "(?![A-Za-z0-9_])").r
    s.constraints.foreach { case (name, sql) =>
      if (token.findFirstIn(sql).isDefined)
        throw new UnsupportedOperationException(
          s"$what on $root: column $colName is referenced by CHECK " +
            s"constraint $name ('$sql') — " +
            "drop the constraint, evolve, then re-declare it")
    }
    stored
  }

  /** RENAME AS A HEADER-ONLY COMMIT: the committed schema changes the
    * field's NAME, its field id keeps pointing at the same physical
    * column in every existing file (Iceberg's rename semantics on
    * parquet's field-id mechanism) — zero data IO; files written after
    * the rename carry the new name under the SAME id, so a history
    * mixing both namings reads uniformly at every version. */
  def renameColumn(spark: SparkSession, root: String,
                   from: String, to: String): Int = {
    require(to.nonEmpty && !to.exists(c => c == '\n' || c == '\t'),
      s"renameColumn: invalid target name '$to'")
    val s = resolve(spark, root)
    val stored = requireIdEvolvable(spark, s, from, "renameColumn")
    require(from == to ||
      !stored.fieldNames.exists(n => n.equalsIgnoreCase(to) && n != from),
      s"renameColumn on $root: a column named $to already exists")
    val renamed = StructType(stored.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    commitHeaders(spark, s, s.headers + (SchemaKey -> renamed.json),
      "renameColumn")
  }

  /** DROP AS A PROJECTION MASK: the field leaves the committed schema
    * (header-only, zero data IO) — every read projects it away; its id
    * is RETIRED, never reused (the `#maxfieldid=` high-water mark), so
    * a later re-ADD of the same name gets a fresh id and the dropped
    * column's old values never resurface. Time travel to pre-drop
    * versions still serves the column (each version reads with its own
    * committed schema). */
  def dropColumn(spark: SparkSession, root: String,
                 name: String): Int = {
    val s = resolve(spark, root)
    val stored = requireIdEvolvable(spark, s, name, "dropColumn")
    require(stored.fields.length > 1,
      s"dropColumn on $root: cannot drop the last column")
    val masked = StructType(stored.fields.filterNot(_.name == name))
    commitHeaders(spark, s, s.headers + (SchemaKey -> masked.json),
      "dropColumn")
  }

  /** The sound header-only type changes: parquet's physical encodings
    * let the reader serve a NARROW stored column under a WIDER
    * requested type losslessly (byte/short/int are all INT32 on disk;
    * int64 and double strictly contain them) — Spark 4's vectorized
    * reader upcasts these natively, which [[widenColumn]]'s spec pins
    * empirically. Anything else (narrowing, cross-family, decimal,
    * string) has no lossless header-only story and rejects. */
  private val Widenable: Map[org.apache.spark.sql.types.DataType,
      Set[org.apache.spark.sql.types.DataType]] = {
    import org.apache.spark.sql.types._
    Map(
      ByteType -> Set(ShortType, IntegerType, LongType),
      ShortType -> Set(IntegerType, LongType),
      IntegerType -> Set(LongType),
      FloatType -> Set(DoubleType))
  }

  /** TYPE WIDENING AS A HEADER-ONLY COMMIT (Iceberg/Delta's
    * type-widening shape): the committed schema changes the field's
    * TYPE to a strictly wider one — same name, same field id, zero
    * data IO. Old files keep the narrow physical column and every
    * read upcasts it losslessly (the requested-schema read path);
    * files written after the widening carry the wide type under the
    * SAME id, so a mixed-width history reads uniformly at every
    * version, and time travel to pre-widening versions serves the
    * narrow type (each version reads with its own committed schema).
    * Shares [[requireIdEvolvable]]'s role/constraint gate with
    * rename/drop — pruning-role (bounds/stats/bloom/delete) and
    * constraint-referenced columns reject (bloom sidecars hash the
    * PHYSICAL values), so retire the role (an overwrite) before
    * widening — but does NOT require id resolution: the name never
    * changes, so by-name resolution of the narrow physical column
    * under the wide requested type stays sound (spec-pinned). Appends
    * after the widening must send the WIDE type (the schema contract
    * is exact — SQL INSERT casts automatically; Scala callers cast
    * explicitly). */
  def widenColumn(spark: SparkSession, root: String, name: String,
                  to: org.apache.spark.sql.types.DataType): Int = {
    val s = resolve(spark, root)
    val stored = requireIdEvolvable(spark, s, name, "widenColumn",
      needIds = false)
    val from = stored(name).dataType
    if (from == to) return s.version // idempotent no-op, no empty commit
    if (!Widenable.get(from).exists(_.contains(to)))
      throw new UnsupportedOperationException(
        s"widenColumn on $root: $name: ${from.simpleString} -> " +
          s"${to.simpleString} is not a lossless widening (supported: " +
          "byte/short/int up the integral chain to bigint, float -> " +
          "double) — narrowing or cross-family retyping needs a " +
          "rewrite: CREATE a new table from a cast SELECT")
    val widened = StructType(stored.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    commitHeaders(spark, s, s.headers + (SchemaKey -> widened.json),
      "widenColumn")
  }

  // -------------------------------------------------------------------
  // WRITABLE BRANCHES — write-audit-publish (see [[BranchPrefix]])
  // -------------------------------------------------------------------

  private def requireBranchName(name: String): Unit =
    require(name.nonEmpty && !name.forall(_.isDigit) &&
      name.forall(c => c.isLetterOrDigit || c == '_'),
      s"branch name must be [A-Za-z0-9_]+ with a non-digit, got '$name'")

  private def branchManifestPath(root: String, name: String, v: Int) =
    new Path(manifestDir(root), f"branch-$name-v$v%08d.manifest")

  private val BranchManifestName =
    """branch-([A-Za-z0-9_]+)-v(\d{8})\.manifest""".r

  private def branchVersionsIn(names: Seq[String], name: String): Seq[Int] =
    names.collect { case BranchManifestName(n, d) if n == name => d.toInt }
      .sorted

  /** Best-effort delete of branch `name`'s manifests in `s`'s listing;
    * returns their paths (vacuum sweeps aged stragglers). */
  private def deleteBranchManifests(spark: SparkSession, s: Snapshot,
                                    name: String): Seq[Path] = {
    val fs = fsOf(spark, new Path(s.root))
    branchVersionsIn(s.listing, name).map { bv =>
      val p = branchManifestPath(s.root, name, bv)
      scala.util.Try(fs.delete(p, false))
      p
    }
  }

  /** The base version branch `name` forked at; None = no such branch. */
  def branchBase(spark: SparkSession, root: String,
                 name: String): Option[Int] =
    resolveOption(spark, root).flatMap(_.branches.get(name))

  /** [[resolve]]'s twin for branch heads. */
  private def resolveBranch(spark: SparkSession, root: String,
                            name: String): Snapshot =
    branchHead(spark, resolve(spark, root), name)

  /** The head of branch `name`, from the main head's pointer and
    * listing: its newest own commit, or (for a just-created branch) the
    * base version's manifest. */
  private def branchHead(spark: SparkSession, main: Snapshot,
                         name: String): Snapshot = {
    val root = main.root
    val base = main.branches.getOrElse(name,
      throw new IllegalArgumentException(s"no branch named $name on $root"))
    branchVersionsIn(main.listing, name).filter(_ > base).lastOption match {
      case Some(v) => load(spark, root, main.listing, v,
        branchManifestPath(root, name, v), Some(name))
      case None =>
        require(main.listedVersions.contains(base),
          s"branch $name's base version $base of $root is gone")
        load(spark, root, main.listing, base, manifestPath(root, base),
          Some(name))
    }
  }

  /** Fork a branch at the current (or a retained) version — one
    * header-only main commit declaring the pointer. */
  def createBranch(spark: SparkSession, root: String, name: String,
                   atVersion: Option[Int] = None): Int = {
    requireBranchName(name)
    val s = resolve(spark, root)
    require(!s.headers.contains(BranchPrefix + name),
      s"branch $name already exists on $root")
    require(!s.headers.contains(TagPrefix + name),
      s"cannot create branch $name on $root: a TAG of that name " +
        "exists — 'VERSION AS OF' resolution must stay unambiguous")
    // stale manifests from a previously dropped/published same-named
    // branch (best-effort cleanup can fail on a flaky store) would be
    // picked up as the NEW branch's head — clean them, and refuse to
    // fork until none survive
    val fs = fsOf(spark, new Path(root))
    require(!deleteBranchManifests(spark, s, name).exists(fs.exists),
      s"stale branch-$name manifests survive under $root and could " +
        "not be deleted — remove them (vacuum) before re-creating " +
        "the branch")
    val target = atVersion.getOrElse(s.version)
    require(s.listedVersions.contains(target),
      s"cannot branch $root at $target — not a retained version")
    commitHeaders(spark, s,
      s.headers + ((BranchPrefix + name) -> target.toString), "createBranch")
  }

  /** Abandon a branch: remove the pointer (header-only commit), then
    * best-effort delete its manifests (vacuum sweeps aged stragglers —
    * their files stop being referenced the moment the pointer dies). */
  def dropBranch(spark: SparkSession, root: String, name: String): Int = {
    val s = resolve(spark, root)
    require(s.headers.contains(BranchPrefix + name),
      s"no branch named $name on $root")
    val v = commitHeaders(spark, s, s.headers - (BranchPrefix + name),
      "dropBranch")
    deleteBranchManifests(spark, s, name)
    v
  }

  /** The branch head as a DataFrame — the AUDIT read (`VERSION AS OF
    * '<branch>'` through the SQL catalog resolves here too). */
  def readBranch(spark: SparkSession, root: String,
                 name: String): DataFrame =
    resolveBranch(spark, root, name).read(spark)

  /** Append to a BRANCH: stages data files in the shared `data/` dir
    * (publish carries lines, never copies bytes) and commits a branch
    * manifest. Exact-schema appends only — branch-side evolution would
    * force publish to reconcile schemas against a moved main, so it
    * rejects loudly (evolve on main, re-branch). The resurrection
    * guard and CHECK constraints hold exactly as on main. */
  def appendToBranch(spark: SparkSession, root: String, name: String,
                     df: DataFrame): Int = {
    val head = resolveBranch(spark, root, name)
    val stored = head.schema
    require(stored.fieldNames.toSeq == df.schema.fieldNames.toSeq &&
      stored.fields.map(_.dataType).toSeq ==
        df.schema.fields.map(_.dataType).toSeq,
      s"append to branch $name of $root must match the table " +
        s"schema exactly (${stored.fieldNames.mkString(", ")}) — " +
        "branch-side evolution is not supported; evolve on main " +
        "and re-branch")
    validateConstraints(df, head.constraints,
      s"append to branch $name of $root")
    val staged = stage(spark, root, alignToSchema(df, stored),
      statsCols = head.statsCols, bloomCols = head.bloomCols)
    staged.orDiscard(spark)(head.requireNoDeletedKeys(spark,
      staged.entries, stored,
      s"append to branch $name of $root would resurrect " +
        s"equality-deleted (${head.deleteCols.mkString(", ")}) tuples"))
    commitNext(spark, head, head.entryLines ++ staged.lines,
      head.headers + (KindKey -> "append"),
      s"append to branch $name of $root")
  }

  /** PUBLISH (the write-audit-publish promotion): the branch's net
    * file-level change — lines it removed from its base, lines it
    * added — lands on the CURRENT main head as ONE commit, so main
    * appends that raced the branch's life are CARRIED, never lost
    * (file-granularity rebase; a main append's rows survive even if
    * they hold keys the branch merged — audit-then-publish workflows
    * gate ingest elsewhere, stated honestly). Sound exactly when main
    * only ADDED manifest lines since the base (appends, metadata,
    * delete commits) — proven directly from the base and main
    * manifests, so vacuumed intermediates never block: any rewrite
    * that moved a base file, a schema change, or a constraint change
    * rejects loudly — rebase by re-branching. The branch pointer dies
    * with the publish commit. */
  def publishBranch(spark: SparkSession, root: String,
                    name: String): Int = {
    val mMain = resolve(spark, root)
    val base = mMain.branches.getOrElse(name,
      throw new IllegalArgumentException(s"no branch named $name on $root"))
    val mBase = mMain.at(spark, base)
    // SOUNDNESS PROOF, from base + main alone (vacuumed intermediate
    // manifests never block an otherwise-sound publish): main may only
    // have ADDED lines since the base — appends, metadata commits, and
    // delete commits add lines and never remove one, while ANY rewrite
    // that touched a base file removed its line and conflicts with the
    // branch's diff against that same base.
    val mainLines = mMain.entryLines.toSet
    val movedAway = mBase.entryLines.filterNot(mainLines.contains)
    require(movedAway.isEmpty,
      s"publish of branch $name on $root: main rewrote or removed " +
        s"${movedAway.size} of the branch base's file(s) since the " +
        "fork (a compact/merge/rowdelete/restore moved the base out " +
        "from under the staged diff) — re-branch from the new head " +
        "and re-apply")
    val mHead = branchHead(spark, mMain, name)
    require(mHead.version > base,
      s"branch $name of $root has no commits to publish")
    require(mMain.headers.get(SchemaKey) == mBase.headers.get(SchemaKey),
      s"publish of branch $name on $root: the main schema changed " +
        "since the base — re-branch and re-apply")
    require(mMain.constraints == mBase.constraints,
      s"publish of branch $name on $root: constraints changed since " +
        "the base — the branch's rows were never validated against " +
        "them; re-branch and re-apply")
    require(mMain.headers.get(DeleteKey) == mBase.headers.get(DeleteKey),
      s"publish of branch $name on $root: the main delete declaration " +
        "changed since the base; re-branch")
    // the stats list attributes the lines' [lo, hi] pairs by
    // position: a branch whose list grew (a merge keyed on an unlisted
    // column) stamped its lines for a list main does not declare
    require(mHead.statsCols == mBase.statsCols,
      s"publish of branch $name on $root: the branch changed the " +
        "bounds/stats list (a merge keyed on an unlisted column) — its " +
        "lines cannot splice under main's header; re-cluster on main " +
        "after a bounds-compatible re-branch")
    val baseLines = mBase.entryLines.toSet
    val headLines = mHead.entryLines.toSet
    // the branch's net diff against its base; base ⊆ main was proven
    // above, so every branch-removed line is guaranteed still on main
    val removed = baseLines -- headLines
    val added = mHead.entryLines.filterNot(baseLines.contains)
    val outLines = mMain.entryLines.filterNot(removed.contains) ++ added
    // the published delete DECLARATION must match the published delete
    // LINES: the branch may have consolidated or cleared ITS deletes,
    // but main may have added delete files since the fork (same
    // column-set — the equality check above) whose lines survive in
    // outLines; dropping the header then would brick every read
    // (applyDeletes fails loudly on undeclared delete files). Keep the
    // header iff any delete line remains, from whichever side declares
    // it.
    val outHasDeletes = outLines.exists(l =>
      parseEntry(l).exists(_.isDelete))
    val deleteHdr: Map[String, String] =
      if (!outHasDeletes) Map.empty
      else Map(DeleteKey -> mMain.headers.get(DeleteKey)
        .orElse(mHead.headers.get(DeleteKey))
        .getOrElse(throw new IllegalStateException(
          s"publish of branch $name on $root: delete files in the " +
            "published manifest but neither side declares #deletecol")))
    val cleaned = (mMain.headers - (BranchPrefix + name) - DeleteKey) ++
      deleteHdr + (KindKey -> "publish")
    val v = commitNext(spark, mMain, outLines, cleaned,
      s"publish of branch $name on $root")
    deleteBranchManifests(spark, mMain, name)
    v
  }

  /** One committed version's summary: when it landed (its MONOTONIZED
    * commit instant — see [[history]]), what it lists, and its metadata
    * row count when stats allow. */
  case class CommitInfo(version: Int, timestampMs: Long,
                        dataFiles: Int, deleteFiles: Int,
                        rows: Option[Long],
                        kind: Option[String] = None)

  /** DESCRIBE HISTORY: every retained version, oldest first. O(versions)
    * manifest reads, zero data IO. Commit instants start from the
    * manifest files' mtimes (the atomic rename IS the commit) but are
    * MONOTONIZED Delta-style — effective instant =
    * `max(previous instant + 1, mtime)` — because raw mtimes can
    * collide (coarse-mtime filesystems, or two metadata-only commits
    * inside one tick) or invert (clock skew, relocated tables), and a
    * shared or inverted instant would make [[readAtTimestamp]] at the
    * earlier commit's own instant resolve to the later version. With
    * strictly increasing instants, every version has a timestamp that
    * resolves to exactly itself. */
  def history(spark: SparkSession, root: String): Seq[CommitInfo] = {
    val fs = fsOf(spark, new Path(root))
    val names = listing(spark, root)
    var prevTs = Long.MinValue
    mainVersions(names).map { v =>
      val s = load(spark, root, names, v, manifestPath(root, v))
      val mtime = fs.getFileStatus(manifestPath(root, v))
        .getModificationTime
      val eff = if (prevTs == Long.MinValue) mtime
                else math.max(prevTs + 1, mtime)
      prevTs = eff
      CommitInfo(v, eff, s.files.size, s.deleteFiles.size, s.rowCount,
        s.headers.get(KindKey))
    }
  }

  /** TIME TRAVEL BY TIMESTAMP (Delta's `timestampAsOf`): the newest
    * version committed at or before `tsMs` — resolved from the
    * MONOTONIZED commit instants [[history]] computes, so each
    * version's own instant resolves to exactly that version even when
    * raw mtimes collide or invert. Fails loudly for a timestamp before
    * the first retained commit (the data may be vacuumed; silently
    * serving a LATER version would be wrong). */
  def readAtTimestamp(spark: SparkSession, root: String,
                      tsMs: Long): DataFrame =
    readAt(spark, root, versionAtTimestamp(spark, root, tsMs))

  /** The version `tsMs` resolves to — shared by [[readAtTimestamp]]
    * and the SQL catalog's `TIMESTAMP AS OF` (one resolution rule,
    * two surfaces). */
  def versionAtTimestamp(spark: SparkSession, root: String,
                         tsMs: Long): Int = {
    val h = history(spark, root)
    require(h.nonEmpty, s"no committed version under $root")
    h.filter(_.timestampMs <= tsMs).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"$tsMs predates the earliest retained commit of $root " +
          s"(${h.map(_.timestampMs).min}); earlier versions are " +
          "vacuumed")).version
  }

  /** The table's named tags, name → version (see [[TagPrefix]]). */
  def tags(spark: SparkSession, root: String): Map[String, Int] =
    resolveOption(spark, root).map(_.tags).getOrElse(Map.empty)

  /** The table's live branches as declared on the CURRENT version:
    * (name, base version, staged branch commits) — O(headers) + one
    * manifest-dir listing, zero data IO (the `db.t.branches` metadata
    * table's source; a restore may roll a pointer off the head, which
    * correctly drops the branch from this listing until restored
    * back). */
  def branches(spark: SparkSession,
               root: String): Seq[(String, Int, Int)] =
    resolveOption(spark, root).toSeq.flatMap(s => s.branches.toSeq.map {
      case (name, b) => (name, b, branchVersionsIn(s.listing, name).size)
    }).sortBy(_._1)

  /** Tag `version` as `name` — a header-only commit (entry lines
    * verbatim, zero data IO). The tagged version becomes a vacuum
    * retention floor until [[removeTag]]. Re-tagging an existing name
    * moves it (the newest declaration wins). */
  def addTag(spark: SparkSession, root: String, name: String,
             version: Int): Int = {
    requireTxnId(name) // same identifier alphabet as writer markers
    // a digit-only tag would be silently shadowed by the integer
    // version of the same spelling in the SQL catalog's VERSION AS OF
    // resolution (an integer literal wins) — reject at declaration
    // rather than resolve ambiguously at read time
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — VERSION AS OF would resolve " +
        "it as a version number, never the tag; pick a non-numeric name")
    val s = resolve(spark, root)
    require(s.listedVersions.contains(version),
      s"cannot tag version $version of $root " +
        s"(have ${s.listedVersions.mkString(",")}) — vacuumed or never " +
        "committed")
    commitHeaders(spark, s,
      s.headers + ((TagPrefix + name) -> version.toString), "addTag")
  }

  /** Drop tag `name` — header-only commit; the tagged version becomes
    * vacuum-collectable again. */
  def removeTag(spark: SparkSession, root: String, name: String): Int = {
    val s = resolve(spark, root)
    require(s.headers.contains(TagPrefix + name),
      s"no tag named $name on $root")
    commitHeaders(spark, s, s.headers - (TagPrefix + name), "removeTag")
  }

  /** The table exactly as of the version tag `name` pins. */
  def readAtTag(spark: SparkSession, root: String,
                name: String): DataFrame = {
    val s = resolve(spark, root)
    require(s.tags.contains(name),
      s"no tag named $name on $root " +
        s"(have ${s.tags.keys.toSeq.sorted.mkString(", ")})")
    s.at(spark, s.tags(name)).read(spark)
  }

  /** The newest committed version marker of writer `appId` (see
    * [[TxnPrefix]]); None = this application never committed here. */
  def lastTxnVersion(spark: SparkSession, root: String,
                     appId: String): Option[Long] =
    resolveOption(spark, root)
      .flatMap(_.headers.get(TxnPrefix + appId)).flatMap(_.toLongOption)

  private def requireTxnId(appId: String): Unit =
    require(appId.nonEmpty && appId.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"txn appId must be [A-Za-z0-9_.-]+, got '$appId'")

  /** COPY-ON-WRITE MERGE — the `MERGE INTO` shape the public table
    * formats put behind their commit: apply row-level deletes and
    * upserts keyed on `keyCol` by rewriting ONLY the data files that
    * contain a changed key; every other file is carried VERBATIM into
    * the new manifest (same path, zero IO). Affected files are found
    * from the MANIFEST's per-file key bounds when the stats list names
    * `keyCol`: a delta-sized distributed interval
    * stabbing against the O(files) broadcast bounds — no snapshot scan
    * at all, the same plan Delta/Iceberg run off their file statistics.
    * Entries without bounds (an unlisted key, lines written before it
    * was listed, or an all-null key) fall back to one key-column-only
    * scan of just those files tagged with `input_file_name`. New keys
    * (pure inserts) need no affected file; they land in the rewrite
    * commit's fresh files, and an integral key joins the stats list,
    * so the NEXT merge prunes too.
    * Readers keep snapshot isolation throughout: the merge is one
    * manifest rename, old versions stay readable, and a concurrent
    * commit aborts this merge (stale base) instead of losing either
    * side's rows.
    *
    * `removeKeys` is a 1-column (`keyCol`) relation; `upserts` carries
    * full rows (an update = its key in neither/either — upsert rows
    * REPLACE any existing row with the same key) and must carry EXACTLY
    * the table's columns — an extra column is rejected (schema widens
    * via [[append]]/[[overwrite]], never silently dropped here), a
    * missing one fails resolution. Returns
    * (newVersion, filesCarried, filesRewritten). */
  def mergeCoW(spark: SparkSession, root: String, keyCol: String,
               removeKeys: DataFrame, upserts: DataFrame,
               txn: Option[(String, Long)] = None): (Int, Int, Int) =
    mergeCoWKeys(spark, root, Seq(keyCol), removeKeys, upserts, txn)

  /** Where [[mergeCoWKeys]]' pruning-degradation diagnostic goes when
    * the caller doesn't inject a sink: the library's logger — visible
    * in executor/driver logs without any wiring. */
  private def logDiagnostic(msg: String): Unit =
    org.slf4j.LoggerFactory.getLogger("graft.ManifestTable").warn(msg)

  /** The TUPLE-KEYED merge (the [[mergeCoW]] contract with a composite
    * key): rows are removed/replaced when their WHOLE `keyCols` tuple
    * matches — the merge twin of [[deleteWhereKeysIn]]'s composite
    * equality deletes, and the resurrection path for composite-delete
    * tables (delete sequencing reconciles tuple-for-tuple when
    * `keyCols` equals the table's delete column-set exactly). File
    * pruning uses the FIRST key column's stored bounds (file stats are
    * per-column [lo, hi]; stabbing on the leading column is a sound
    * superset — a file holding a changed tuple always contains its
    * leading value), so cluster composite-keyed tables on
    * `keyCols.head`; a table that ISN'T (heavily-overlapping per-file
    * leading-key ranges while pruning keeps >90% of files) raises a
    * named diagnostic through `onDiagnostic` (default: the library
    * logger) recommending exactly that. `removeKeys` is a
    * keyCols-relation; `upserts` carries full rows. */
  def mergeCoWKeys(spark: SparkSession, root: String,
                   keyCols: Seq[String],
                   removeKeys: DataFrame, upserts: DataFrame,
                   txn: Option[(String, Long)] = None,
                   onDiagnostic: String => Unit = logDiagnostic,
                   branch: Option[String] = None)
      : (Int, Int, Int) = {
    import spark.implicits._
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"mergeCoW needs distinct key columns, got ${keyCols.mkString(", ")}")
    require(branch.isEmpty || txn.isEmpty,
      "txn markers are a main-chain cursor; a staged branch merge " +
        "takes its marker at publish time")
    val fs = fsOf(spark, new Path(root))
    // on a BRANCH the merge reads and commits against the branch head
    // (write-audit-publish: invisible to main until publishBranch)
    val m = branch.fold(resolve(spark, root))(resolveBranch(spark, root, _))
    // DELETE SEQUENCING (the Iceberg per-snapshot-sequencing shape): a
    // merge over outstanding merge-on-read deletes is sound exactly
    // when the delete column-SET is the merge key-set — then (a)
    // rewritten files read THROUGH the delete set (suppressed rows
    // drop physically), (b) carried files keep their suppressed rows
    // but the delete set carries forward to keep suppressing them, and
    // (c) every CHANGED tuple leaves the delete set (an upsert
    // resurrects-and-replaces; a remove makes its delete moot),
    // consolidated into one fresh delta-sized delete file. A merge
    // keyed on a DIFFERENT column-set cannot reconcile the two key
    // spaces and is still rejected.
    require(m.deleteFiles.isEmpty || m.deleteCols == keyCols,
      s"$root carries outstanding equality deletes on " +
        s"(${m.deleteCols.mkString(", ")}); a copy-on-write merge " +
        s"keyed on (${keyCols.mkString(", ")}) cannot sequence them — " +
        "merge on exactly the delete column-set, or run optimize first")
    // the stab reads the LEADING key column's listed pairs — an
    // unlisted key has none, and its files fall back to the scan
    val lead = keyCols.head
    val data = m.dataEntries
    require(data.nonEmpty,
      s"version ${m.version} of $root lists no data files; " +
        "use overwrite to (re)populate an emptied table")
    val tableSchema = m.schema
    // not distinct: every reader is a semi/anti join or a set. The
    // LAZY checkpoint is filled by the first job that scans it (the
    // stab), so a computed frame is evaluated once.
    val changedKeys = removeKeys.select(keyCols.map(col): _*)
      .unionByName(upserts.select(keyCols.map(col): _*))
      .localCheckpoint(eager = false)
    // delete sequencing: the outstanding delete keys (delta-sized) for
    // the stab, the rewrite filter and the consolidation
    val delKeys: Option[DataFrame] =
      if (m.deleteFiles.isEmpty) None else Some(m.deleteKeys(spark))
    def nullKeyError(): Nothing = throw new IllegalArgumentException(
      s"mergeCoW: null (${keyCols.mkString(", ")}) in removeKeys/" +
        "upserts is unsupported (an upsert of a null key could never " +
        "replace its row)")
    // (1) THE STAB: ONE pass over the changed keys, no shuffle, answers
    // three questions — every merge commit in the engine pays it, so
    // one job here is one job per commit, suite-wide:
    //  - a null key? Unsupported: the anti-join would never match it
    //    (SQL null semantics), silently appending duplicates;
    //  - is a changed key an outstanding delete key? The changed keys
    //    are left-outer joined to the (broadcast) delete keys;
    //  - which bounded entries hold a changed key? Interval stabbing of
    //    each key, in its stats unit (epoch MICROS for a timestamp),
    //    against the broadcast [lo, hi] file bounds — delta-sized work,
    //    zero data-file IO. Files sorted by lo; ranges may overlap
    //    (appends), so the backward walk stops on the PREFIX-MAX of hi.
    val keyed = data.map(e => e -> m.boundsOf(e, lead))
    val unbounded = keyed.collect { case (e, None) => e }
    val sorted = keyed.collect { case (e, Some(b)) => (e.rel, b) }
      .sortBy(_._2._1)
    val spans = sorted.map(_._2)
    val bcLo = spark.sparkContext.broadcast(spans.map(_._1).toArray)
    val bcHi = spark.sparkContext.broadcast(spans.map(_._2).toArray)
    val bcPm = spark.sparkContext.broadcast(
      spans.map(_._2).scanLeft(Long.MinValue)(math.max).drop(1).toArray)
    val bcRel = spark.sparkContext.broadcast(sorted.map(_._1).toArray)
    // "\t" and "\t\t" can never be a staged rel (UUID alphabet) — safe
    // sentinels for "a null key / a delete key was seen in this
    // partition"
    val nullMark = "\t"; val deleteMark = "\t\t"
    val deleted = "__graft_deleted" // no collision with table cols
    val probed = delKeys.fold(changedKeys.withColumn(deleted, lit(false)))(
      dk => changedKeys.join(dk.withColumn(deleted, lit(true)), keyCols,
        "left_outer"))
    // each partition emits its SET of hit rels and marks; the driver's
    // toSet merges them. The count of changed keys sizes the broadcasts
    // below: the plan's estimate of a computed frame (a join's output,
    // say) can be off by orders of magnitude
    val changedRows = spark.sparkContext.longAccumulator
    val stabbed = probed.select(
        keyCols.map(col(_).isNull).reduce(_ || _).as("_n"),
        coalesce(col(deleted), lit(false)).as("_d"),
        (if (sorted.isEmpty) lit(0L)
         else if (changedKeys.schema(lead).dataType == TimestampType)
           unix_micros(col(lead))
         else col(lead).cast("long")).as("_k"))
      .mapPartitions { it =>
        val lo = bcLo.value; val hi = bcHi.value
        val pm = bcPm.value; val rel = bcRel.value
        val hit = scala.collection.mutable.HashSet.empty[String]
        var n = 0L
        it.foreach { row =>
          n += 1
          if (row.getBoolean(0)) hit += nullMark
          else {
            if (row.getBoolean(1)) hit += deleteMark
            val k = row.getLong(2)
            // last file with lo <= k, then walk back while any earlier
            // file can still reach k (prefix-max hi >= k)
            if (lo.nonEmpty && lo(0) <= k) {
              var a = 0; var b = lo.length - 1
              while (a < b) {
                val mid = (a + b + 1) >>> 1
                if (lo(mid) <= k) a = mid else b = mid - 1
              }
              var i = a
              while (i >= 0 && pm(i) >= k) {
                if (hi(i) >= k) hit += rel(i)
                i -= 1
              }
            }
          }
        }
        changedRows.add(n)
        hit.iterator
      }.collect().toSet
    if (stabbed.contains(nullMark)) nullKeyError()
    val touchesDeletes = stabbed.contains(deleteMark)
    val boundedAffected = stabbed - nullMark - deleteMark
    // (2) unbounded entries: key-column-only scan of just those files
    val unboundedAffected: Set[String] = if (unbounded.isEmpty) Set.empty
    else {
      val qToRel = unbounded.map(e =>
        fs.makeQualified(new Path(root, e.rel)).toString -> e.rel).toMap
      readFiles(spark, unbounded.map(e =>
          new Path(root, e.rel).toString), tableSchema)
        .select(keyCols.map(col): _*)
        .withColumn("_f", input_file_name())
        .join(changedKeys, keyCols, "left_semi")
        .select("_f").distinct()
        .collect().flatMap(r =>
          qToRel.get(fs.makeQualified(new Path(r.getString(0))).toString))
        .toSet
    }
    val affectedRels = boundedAffected ++ unboundedAffected
    // PRUNING-DEGRADATION DIAGNOSTIC: keeping >90% of a multi-file
    // table's bounded entries is only a MISCONFIGURATION when the
    // per-file leading-key ranges overlap heavily (each file spans
    // most of the domain — the table is clustered on something other
    // than keyCols.head, so the interval stab can't prune). A
    // correctly-clustered table whose changed keys genuinely span the
    // domain (q191's shape: near-disjoint file ranges, all rewritten)
    // stays silent — that rewrite is the work requested, not a layout
    // problem.
    if (sorted.size >= 4 &&
        boundedAffected.size * 10 > sorted.size * 9) {
      val domain = math.max(spans.map(_._2).max - spans.map(_._1).min + 1, 1L)
      val avgSpan = spans.map { case (lo, hi) => hi - lo + 1 }.sum
        .toDouble / sorted.size
      if (avgSpan * 2 > domain.toDouble)
        onDiagnostic(
          s"mergeCoWKeys on $root: bounded pruning kept " +
            s"${boundedAffected.size} of ${sorted.size} files and the " +
            s"per-file $lead ranges overlap heavily (avg " +
            f"span ${100 * avgSpan / domain}%.0f%% of the domain) — " +
            s"the table is not clustered on the leading merge key; " +
            s"cluster on $lead (optimize / repartitionByRange" +
            s" + overwrite) to restore file pruning")
    }
    // carried lines stay VERBATIM: the list only grows, so their pairs
    // keep their positions
    val (rewriteE, carryE) = data.partition(e => affectedRels.contains(e.rel))
    // align the upserts to the table's column order — and REJECT an
    // upsert that carries columns the table lacks: silently dropping
    // them would lose data (widen the schema via append/overwrite first)
    val tableCols = tableSchema.fieldNames.toSeq
    val extraCols = upserts.columns.filterNot(tableCols.contains)
    require(extraCols.isEmpty,
      s"mergeCoW upserts carry columns the table lacks: " +
        s"${extraCols.mkString(", ")} — merge never drops data silently; " +
        "widen the table schema first (append supports add-column " +
        "evolution) or drop the columns explicitly")
    val up = upserts.select(tableCols.map(col): _*)
    // CHECK constraints gate the upserts BEFORE any rewrite is staged
    validateConstraints(up, m.constraints, s"mergeCoW upserts into $root")
    // key sets of `rows` rows under the auto-broadcast threshold, at
    // Spark's per-row size estimate, are broadcast explicitly: planned
    // as a sort-merge join instead, every affected row is shuffled
    // before the adaptive planner sees how small the key side is
    val keyRowBytes = 8 + keyCols.map(tableSchema(_).dataType.defaultSize).sum
    def broadcastIfSmall(keys: DataFrame, rows: Long): DataFrame =
      if (rows * keyRowBytes <= spark.sessionState.conf
          .autoBroadcastJoinThreshold) broadcast(keys) else keys
    // surviving rows of the affected files — neither suppressed by an
    // outstanding delete, nor removed, nor about to be replaced by an
    // upsert of the same key: ONE anti-join against the union of the
    // delete keys and the changed keys — plus the upsert rows
    val rewritten =
      if (rewriteE.nonEmpty)
        readFiles(spark, rewriteE.map(e =>
            new Path(root, e.rel).toString), tableSchema)
          .join(broadcastIfSmall(
              delKeys.fold(changedKeys)(_.unionByName(changedKeys)),
              changedRows.value + m.deleteEntries.map(_.rows).sum),
            keyCols, "left_anti")
          .unionByName(up)
      else up
    // a pure delete can stage zero rows — the new manifest is then the
    // carried files alone. An integral leading key joins the stats list
    // and the rewrite stamps the whole list, so the next merge on this
    // table prunes from the manifest alone.
    val stats = grown(m.statsCols,
      Seq(lead).filter(c => isIntegral(tableSchema(c).dataType)))
    // bloom sidecars are attributed by COLUMN NAME in their commit dir
    // (not by line position), so carried files keep theirs; the
    // rewrite stamps fresh ones. Staged files must carry the committed
    // schema's field ids — upsert frames come from user DataFrames
    // with no id metadata
    val staged = stage(spark, root, alignToSchema(rewritten, tableSchema),
      allowEmpty = true, statsCols = stats, bloomCols = m.bloomCols).lines
    // delete sequencing, write side: changed keys leave the delete set
    // — carry the delete lines VERBATIM when the stab saw none of their
    // keys change (zero IO), else write the surviving keys, once each,
    // into one fresh delta-sized delete file (the old files stay on
    // disk for time travel until vacuumed). No survivor: no delete line
    // — the zero-row file is dropped, not listed.
    val deleteLines: Seq[String] = delKeys match {
      case Some(dk) if touchesDeletes =>
        val survivors = stage(spark, root,
          dk.join(broadcastIfSmall(changedKeys, changedRows.value),
            keyCols, "left_anti").coalesce(1).distinct(),
          allowEmpty = true, statsCols = stats, relPrefix = "deletes")
        val kept = survivors.entries.filter(_.rows > 0).map(_.line)
        if (kept.isEmpty) survivors.discard(spark)
        kept
      case _ => m.deleteEntries.map(_.line)
    }
    // a merge that would empty the table entirely (full-table delete
    // whose rewrite staged zero files) must not brick it with a
    // zero-entry manifest — truncation is overwrite's job
    require(carryE.nonEmpty || staged.nonEmpty,
      s"merge would leave $root with no data files; " +
        "use overwrite to truncate a table")
    val outLines = carryE.map(_.line) ++ staged ++ deleteLines
    val headers = colsHeader(StatsKey, stats) ++
      // the delete declaration survives exactly as long as delete
      // files remain outstanding
      (if (deleteLines.nonEmpty)
         m.headers.get(DeleteKey).map(DeleteKey -> _).toMap
       else Map.empty[String, String]) ++
      // the bloom declaration ALWAYS survives (name-attributed sidecars)
      m.headers.get(BloomKey).map(BloomKey -> _).toMap ++
      // writer markers + constraints survive every merge; this commit
      // may set its own marker
      carriedHeaders(m.headers) ++
      txn.map { case (app, ver) =>
        requireTxnId(app); (TxnPrefix + app) -> ver.toString }.toMap +
      (SchemaKey -> tableSchema.json) + (KindKey -> "merge")
    (commitNext(spark, m, outLines, headers, s"merge into $root" +
      branch.map(b => s" (branch $b)").getOrElse("")),
      carryE.size, staged.size)
  }

  /** ROW-LEVEL COPY-ON-WRITE DELETE (`DELETE FROM t WHERE p` — the
    * predicate flavor, vs [[deleteWhereKeyIn]]'s O(delta) key flavor
    * and [[mergeCoW]]'s keyed remove): rewrite ONLY the files holding
    * at least one matching row, dropping the matches (SQL semantics: a
    * row is deleted when the predicate is TRUE; NULL keeps); every
    * other file carries verbatim. Affected files are found from one
    * read-through-snapshot scan tagged `input_file_name` (outstanding
    * equality deletes applied first, so suppressed rows never force a
    * rewrite); at 100 TB pair the predicate with a clustered layout so
    * parquet row-group stats prune the probe scan. Returns
    * (newVersion, filesCarried, filesRewritten); a no-match delete
    * commits NOTHING and returns the current version. */
  def deleteWhere(spark: SparkSession, root: String,
                  predicate: org.apache.spark.sql.Column)
      : (Int, Int, Int) =
    rewriteWhere(spark, root, predicate,
      affected => affected.where(!coalesce(predicate, lit(false))),
      validateCheck = false, kind = "rowdelete")

  /** ROW-LEVEL COPY-ON-WRITE UPDATE (`UPDATE t SET c = e WHERE p` —
    * the redaction/correction shape a takedown pipeline needs):
    * rewrite only the files holding matching rows, applying each
    * assignment to the matching rows (others pass through bit-
    * identical); CHECK constraints are validated on the rewritten
    * output BEFORE staging (affected-files-sized, documented — the
    * updated values must not sneak a violation in). Assignment columns
    * must exist; the schema never changes here (add columns via
    * [[append]] evolution). */
  def updateWhere(spark: SparkSession, root: String,
                  predicate: org.apache.spark.sql.Column,
                  assignments: Seq[(String, org.apache.spark.sql.Column)])
      : (Int, Int, Int) = {
    require(assignments.nonEmpty, "updateWhere needs at least one " +
      "SET assignment")
    require(assignments.map(_._1).distinct.size == assignments.size,
      "updateWhere: duplicate SET columns " +
        assignments.map(_._1).mkString(", "))
    rewriteWhere(spark, root, predicate,
      affected => {
        assignments.foreach { case (c, _) =>
          require(affected.schema.fieldNames.contains(c),
            s"updateWhere: no column $c in $root — the schema never " +
              "changes here (add columns via append evolution)") }
        // SQL UPDATE semantics: the predicate AND every SET expression
        // evaluate against the ORIGINAL row — one select resolves all
        // of them over the input frame at once (a sequential
        // withColumn fold would re-resolve the predicate and later
        // assignments against already-updated columns: `SET a = b,
        // b = a` would lose a, and a predicate on an assigned column
        // would un-match its own matches)
        val matched = coalesce(predicate, lit(false))
        val asg = assignments.toMap
        affected.select(affected.schema.fieldNames.toSeq.map { c =>
          asg.get(c)
            .map(e => when(matched, e.cast(affected.schema(c).dataType))
              .otherwise(col(c)).as(c))
            .getOrElse(col(c))
        }: _*)
      },
      validateCheck = true, kind = "rowupdate",
      assignedCols = assignments.map(_._1))
  }

  /** Shared CoW row-rewrite: probe for affected files, transform their
    * (delete-applied) rows, carry everything else verbatim — headers,
    * schema, outstanding delete files, writer markers all unchanged;
    * fresh files stamp the table's stats list and blooms. */
  private def rewriteWhere(spark: SparkSession, root: String,
                           predicate: org.apache.spark.sql.Column,
                           transform: DataFrame => DataFrame,
                           validateCheck: Boolean, kind: String,
                           assignedCols: Seq[String] = Seq.empty)
      : (Int, Int, Int) = {
    val s = resolve(spark, root)
    val fs = fsOf(spark, new Path(root))
    val data = s.dataEntries
    require(data.nonEmpty,
      s"version ${s.version} of $root lists no data files")
    val qToRel = data.map(e =>
      fs.makeQualified(new Path(root, e.rel)).toString -> e.rel).toMap
    // tag the file name AT THE SCAN, before the delete anti-join: an
    // exchange in that join (delete set above the broadcast threshold)
    // would evaluate input_file_name() on post-shuffle rows — empty
    // strings, not file names (the same ordering mergeCoW's unbounded
    // probe uses)
    val fileTag = "__graft_input_file" // no collision with table cols
    val snap = s.applyDeletes(spark,
      readFiles(spark, data.map(s.pathOf), s.schema)
        .withColumn(fileTag, input_file_name()), data)
    val affectedRels = snap.where(predicate)
      .select(fileTag).distinct()
      .collect().flatMap(r => // O(files) rows — bounded collect
        qToRel.get(fs.makeQualified(new Path(r.getString(0))).toString))
      .toSet
    if (affectedRels.isEmpty)
      return (s.version, data.size, 0)
    val (rewriteE, carryE) =
      data.partition(e => affectedRels.contains(e.rel))
    val rewritten =
      transform(s.scan(spark, e => affectedRels.contains(e.rel), None))
    if (validateCheck)
      validateConstraints(rewritten, s.constraints, s"rewrite of $root")
    // re-align to the committed schema: the transform's replaced
    // columns lost their field-id metadata (and the file tag is
    // dropped here too)
    val staged = stage(spark, root, alignToSchema(rewritten, s.schema),
      allowEmpty = true, statsCols = s.statsCols, bloomCols = s.bloomCols)
    // RESURRECTION GUARD, rewrite-side: an assignment that SETs a
    // delete-key column can write a suppressed key INTO the rewritten
    // rows — they would silently vanish from every read (the delete
    // files carry verbatim below). The same guard append runs on its
    // staged files, run on the staged rewrite exactly when an
    // assignment targets a delete-key column (delta×affected-sized).
    if (assignedCols.exists(s.deleteCols.contains))
      staged.orDiscard(spark)(s.requireNoDeletedKeys(spark,
        staged.entries, s.schema,
        s"rewrite of $root would SET (${s.deleteCols.mkString(", ")}) " +
          "to equality-deleted key(s) — the rewritten rows would be " +
          "suppressed by the outstanding delete set on every read; " +
          "run optimize first, or assign a non-deleted key"))
    require(carryE.nonEmpty || staged.lines.nonEmpty,
      s"the rewrite would leave $root with no data files; " +
        "use overwrite to truncate a table")
    val outLines = carryE.map(_.line) ++ staged.lines ++
      s.deleteEntries.map(_.line)
    (commitNext(spark, s, outLines, s.headers + (KindKey -> kind),
      s"rewrite of $root"), carryE.size, staged.lines.size)
  }

  /** An unreferenced data file younger than this may be an IN-FLIGHT
    * append's staging (stage happens before the manifest rename), not a
    * crash orphan — vacuum must not delete it, or the append commits a
    * manifest pointing at deleted files. Same reason Delta's VACUUM has
    * a retention window. */
  val DefaultOrphanRetentionMs: Long = 24L * 60 * 60 * 1000

  /** Retire history: keep the newest `retain` manifests, delete older
    * manifest files, then delete data files in two classes —
    * (a) files referenced only by DROPPED manifests (committed history;
    * no in-flight writer can re-reference them, since append always
    * re-reads the newest manifest at commit time), deleted immediately;
    * (b) files referenced by NO manifest at all, deleted only when
    * older than `orphanRetentionMs` — a young never-referenced file may
    * be a concurrent append's staging (stage happens BEFORE the
    * manifest rename), and deleting it would let that append commit a
    * manifest pointing at deleted files. Stale `.tmp-*` manifests from
    * crashed commits are swept under the same retention window (a young
    * one may be a commit between its write and rename). Returns the
    * number of data files deleted. Time travel below the retained
    * window fails loudly in [[snapshot]] afterwards. */
  def vacuum(spark: SparkSession, root: String, retain: Int = 1,
             orphanRetentionMs: Long = DefaultOrphanRetentionMs): Int = {
    require(retain >= 1, "must retain at least the newest version")
    val fs = fsOf(spark, new Path(root))
    // ONE listing (statuses: the sweeps below need mtimes) and one parse
    // per manifest, retained or dropped
    val mdir = manifestDir(root)
    val listed = if (fs.exists(mdir)) fs.listStatus(mdir).toSeq else Seq.empty
    val names = listed.map(_.getPath.getName)
    val head = resolveIn(spark, root, names, None)
    val vs = head.listedVersions
    val snaps = vs.map(v => if (v == head.version) head else head.at(spark, v))
    // named tags are a retention FLOOR (Iceberg's ref-retention shape):
    // a tagged version's manifest and files survive whatever `retain`
    // says — a tag must never dangle
    val tagged = head.tags.values.toSet
    // LIVE branches pin like tags: the base version is a retention
    // floor (publish diffs against it) and every file a branch
    // manifest lists stays referenced. Pointers are read from EVERY
    // retained version's headers, not just the newest: a restore to a
    // pre-fork version rolls the pointer off the head (headers
    // replicate verbatim — the tag doctrine), and reaping the staged
    // branch work in the SAME breath would turn a recovery action
    // into silent data loss; the branch stays protected for as long
    // as any retained manifest still references it, and cleanup
    // converges as those versions retire.
    val liveBranches = snaps.flatMap(_.branches).distinct
    val keepSet = vs.takeRight(retain).toSet ++
      tagged.filter(vs.contains) ++
      liveBranches.map(_._2).filter(vs.contains)
    val (drop, keep) = snaps.partition(s => !keepSet.contains(s.version))
    // compare fully-QUALIFIED paths: listStatus returns scheme-qualified
    // paths (file:/..., hdfs://...) while manifests store root-relative
    // ones — an unqualified comparison would see every file as
    // unreferenced and delete live data
    def qualified(s: Snapshot): Set[String] = s.entries
      .map(e => fs.makeQualified(new Path(root, e.rel)).toString).toSet
    val branchManifests = listed.flatMap(st => st.getPath.getName match {
      case BranchManifestName(n, d) => Some((n, d.toInt, st))
      case _ => None
    })
    val liveNames = liveBranches.map(_._1).toSet
    val branchReferenced = branchManifests.collect {
      case (n, bv, st) if liveNames.contains(n) =>
        qualified(load(spark, root, names, bv, st.getPath, Some(n)))
    }.fold(Set.empty[String])(_ ++ _)
    val referenced = keep.flatMap(qualified).toSet ++ branchReferenced
    val retired = drop.flatMap(qualified).toSet -- referenced
    val cutoff = System.currentTimeMillis() - math.max(0L, orphanRetentionMs)
    // ORPHANED branch manifests (pointer dropped/published but the
    // best-effort cleanup died): sweep once aged — their files stop
    // being referenced here and age out through the same cutoff
    branchManifests.foreach { case (n, _, st) =>
      if (!liveNames.contains(n) && st.getModificationTime < cutoff)
        fs.delete(st.getPath, false)
    }
    drop.foreach(s => fs.delete(manifestPath(root, s.version), false))
    // crashed-commit manifest temps: never referenced by anything, but a
    // YOUNG one may be a tryCommit between create and rename
    listed
      .filter(s => s.isFile && s.getPath.getName.startsWith(".tmp-") &&
        s.getModificationTime < cutoff)
      .foreach(s => fs.delete(s.getPath, false))
    var deleted = 0
    // data files AND equality-delete files (format v6) retire the same
    // way: unreferenced by any retained manifest → collectable
    for (sub <- Seq("data", "deletes");
         dataDir = new Path(root, sub) if fs.exists(dataDir)) {
      fs.listStatus(dataDir).toSeq.filter(_.isDirectory).foreach { cd =>
        val files = fs.listStatus(cd.getPath).toSeq.filter(_.isFile)
        files.foreach { f =>
          val q = fs.makeQualified(f.getPath).toString
          val marker = f.getPath.getName.startsWith("_")
          val removable = !marker && !referenced.contains(q) &&
            (retired.contains(q) || f.getModificationTime < cutoff)
          if (removable) {
            fs.delete(f.getPath, false)
            deleted += 1
          }
        }
        val left = fs.listStatus(cd.getPath).toSeq
        if (left.forall(s => s.isFile && s.getPath.getName.startsWith("_")))
          fs.delete(cd.getPath, true) // only markers remain
      }
    }
    deleted
  }
}
