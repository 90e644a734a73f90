package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException,
  NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo,
  RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo,
  SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Minimal v2 `TableCatalog` backing the declarative DML surface —
  * the piece that lets a user type the ANSI statements
  * (`CREATE TABLE graft.t …`, `INSERT INTO graft.t …`,
  * `MERGE INTO graft.t USING src ON … WHEN MATCHED …`) instead of
  * calling the operator API: Spark's analyzer resolves the catalog,
  * and its own `RewriteMergeIntoTable` rule rewrites MERGE into the
  * group-based `ReplaceData` plan against
  * [[GraftMemTable.newRowLevelOperationBuilder]] — the engine
  * supplies only the storage contract (scan all rows, replace the
  * scanned group on commit), the MERGE semantics (matched/
  * not-matched clauses, cardinality check) stay Catalyst's, exactly
  * as they would on a real lakehouse format.
  *
  * Storage: the working copy is in-memory (driver-held UnsafeRow
  * buffers); with the optional `path` catalog option
  * (`spark.sql.catalog.<name>.path`) every committed write is ALSO
  * persisted as a parquet snapshot under `<path>/<ns>/<table>/` via
  * the two-rename swap ([[graft.streaming.StreamOps.cdcSnapshot]]'s
  * crash-safety pattern: write to `data.tmp`, swap in, delete old),
  * and [[loadTable]] reconstructs a table from its on-disk snapshot
  * after a session restart — so ANSI `MERGE INTO` / `INSERT
  * OVERWRITE` run against durable on-disk data. The snapshot write
  * itself is a distributed Spark job over the table's own scan (no
  * driver-side serialization loop). The working copy stays
  * driver-bounded by design: this catalog is the declarative DML
  * planning surface; the unbounded-scale row-level path remains
  * parquet + [[graft.operators.Cdc.mergeLatest]] (q162), whose
  * result the MERGE spec pins as semantically equal. Single-writer
  * contract: two live catalog instances over one `path` would each
  * trust their own working copy — run one writer per path, as with
  * any snapshot-swapped directory ([[graft.operators.Compaction]]).
  * Whole-table = one replacement group (the constant `_group`
  * metadata column), which is the degenerate-but-correct form of
  * Iceberg's file-granular copy-on-write.
  *
  * Registered by [[graft.Tables.configure]] as
  * `spark.sql.catalog.graft` (in-memory; add a `.path` conf for a
  * persisted catalog instance).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName = "graft"
  private var root: Option[String] = None
  private var retain = 3
  private val tables = new ConcurrentHashMap[Identifier, GraftMemTable]()

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("path")).filter(_.nonEmpty)
    // how many RETIRED snapshots each table keeps for time travel
    // (current + retainVersions history); prune happens at commit
    retain = Option(options.get("retainVersions"))
      .map(_.toInt).getOrElse(3)
    require(retain >= 0, "retainVersions must be >= 0")
  }
  override def name(): String = catalogName

  private def dirFor(ident: Identifier): Option[String] =
    root.map(r =>
      (r +: ident.namespace().toSeq :+ ident.name()).mkString("/"))

  override def listTables(ns: Array[String]): Array[Identifier] =
    tables.keySet().asScala
      .filter(_.namespace().sameElements(ns)).toArray

  override def loadTable(ident: Identifier): Table = {
    val t = tables.get(ident)
    // cross-instance staleness: another catalog instance (a cloned
    // session — foreachBatch runs in one — or another process under
    // the single-writer contract) may have swapped a newer snapshot
    // under this path; the data-dir fingerprint detects it and this
    // instance reloads rather than serving its stale working copy
    if (t != null && !t.isStaleOnDisk) return t
    // restart / staleness path: reconstruct from the parquet snapshot
    dirFor(ident)
      .flatMap(GraftMemTable.loadPersisted(ident, _, catalogName, retain))
      .map { loaded =>
        if (t == null) {
          val prior = tables.putIfAbsent(ident, loaded)
          if (prior != null) prior else loaded
        } else { tables.put(ident, loaded); loaded }
      }
      .getOrElse(
        if (t != null) t else throw new NoSuchTableException(ident))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft catalog tables are unpartitioned (whole-table " +
        "replacement group)")
    val t = new GraftMemTable(ident.toString, schema,
      persistDir = dirFor(ident),
      qualifiedName = s"$catalogName.${ident.toString}",
      retainVersions = retain)
    if (tables.putIfAbsent(ident, t) != null)
      throw new TableAlreadyExistsException(ident)
    t.persistSchema()
    // adopt whatever snapshot is on disk RIGHT NOW as this working
    // copy's base (legacy-adopt path) — the commit-time OCC check
    // then aborts only on commits that land AFTER creation
    t.syncDiskFp()
    t
  }

  /** `VERSION AS OF <k>` — time-travel read against the retained
    * snapshot chain a persisted catalog accumulates (every commit
    * retires the previous `data` dir into `versions/v<k>` and logs
    * (version, ts) in `commits.json`; see [[GraftMemTable]]). The
    * returned table is READ-ONLY — a write to a historical version
    * would fork the single-writer history. Reads go straight to
    * disk, so they see other-process commits without any staleness
    * window, and work identically after a session restart (the
    * lakehouse pin: a training run records `VERSION AS OF 7` and
    * reproduces its dataset forever — within the retention
    * horizon). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirFor(ident).getOrElse(throw new
        UnsupportedOperationException("graft catalog: time travel " +
          "needs a persisted catalog (set spark.sql.catalog." +
          s"$catalogName.path) — the in-memory working copy keeps " +
          "no history"))
    val v = version.toLongOption.getOrElse(throw new
        IllegalArgumentException(
          s"graft catalog: VERSION AS OF expects an integer commit " +
            s"version, got '$version'"))
    GraftMemTable.loadVersion(ident, dir, catalogName, v)
      .getOrElse(throw new NoSuchTableException(ident))
  }

  /** `TIMESTAMP AS OF <t>` — resolves to the LAST commit at-or-
    * before `timestampMicros` (Spark hands micros since epoch) and
    * delegates to the version read. */
  override def loadTable(ident: Identifier,
      timestampMicros: Long): Table = {
    val dir = dirFor(ident).getOrElse(throw new
        UnsupportedOperationException("graft catalog: time travel " +
          "needs a persisted catalog (set spark.sql.catalog." +
          s"$catalogName.path) — the in-memory working copy keeps " +
          "no history"))
    val spark = org.apache.spark.sql.SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val commits = GraftMemTable.readCommits(fs, dir)
    val at = commits.filter(_.tsMs * 1000L <= timestampMicros)
    if (at.isEmpty)
      throw new IllegalArgumentException(
        s"graft catalog: no commit of $ident at or before " +
          s"timestamp ${timestampMicros}us" +
          commits.headOption.map(c =>
            s" (earliest commit: version ${c.version} at " +
              s"${c.tsMs}ms)").getOrElse(" (no commits)"))
    GraftMemTable.loadVersion(ident, dir, catalogName,
        at.last.version)
      .getOrElse(throw new NoSuchTableException(ident))
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "graft catalog: ALTER TABLE not supported")

  override def dropTable(ident: Identifier): Boolean = {
    val hadMem = tables.remove(ident) != null
    val hadDisk = dirFor(ident).exists(GraftMemTable.deletePersisted)
    hadMem || hadDisk
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    require(root.isEmpty,
      "graft catalog: RENAME not supported on a persisted catalog " +
        "(the table's qualified name is baked into its snapshot " +
        "writer) — CREATE + INSERT + DROP instead")
    val t = tables.remove(from)
    if (t == null) throw new NoSuchTableException(from)
    if (tables.putIfAbsent(to, t) != null)
      throw new TableAlreadyExistsException(to)
  }

  // single implicit namespace layer: any namespace "exists" so
  // both `graft.t` and `graft.ns.t` resolve
  override def listNamespaces(): Array[Array[String]] =
    tables.keySet().asScala.map(_.namespace().toSeq).toSet
      .map((s: Seq[String]) => s.toArray).toArray
  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    Array.empty
  override def namespaceExists(ns: Array[String]): Boolean = true
  override def loadNamespaceMetadata(
      ns: Array[String]): util.Map[String, String] =
    util.Collections.emptyMap()
  override def createNamespace(ns: Array[String],
      meta: util.Map[String, String]): Unit = ()
  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: ALTER NAMESPACE not supported")
  override def dropNamespace(ns: Array[String],
      cascade: Boolean): Boolean = true
}

object GraftCatalog {
  /** Commit history of a persisted table — the `DESCRIBE HISTORY`
    * analogue a reproducible-dataset pin needs before choosing a
    * `VERSION AS OF`: one row per logged commit with its wall-clock
    * ms and whether the snapshot is still readable (false once
    * retention pruned it). `table` is the dotted identifier as
    * written in SQL (`ns.t` or `t`). */
  def history(spark: org.apache.spark.sql.SparkSession,
      catalog: String, table: String): org.apache.spark.sql.DataFrame = {
    val root = spark.conf.getOption(s"spark.sql.catalog.$catalog.path")
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"catalog $catalog has no path — in-memory catalogs keep " +
          "no history"))
    val dir = (root +: table.split('.').toSeq).mkString("/")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val commits = GraftMemTable.readCommits(fs, dir)
    val cur = commits.lastOption.map(_.version)
    import spark.implicits._
    commits.map(c => (c.version, c.tsMs,
        cur.contains(c.version) ||
          fs.exists(GraftMemTable.versionPath(dir, c.version)),
        cur.contains(c.version)))
      .toDF("version", "ts_ms", "available", "is_current")
  }

  /** Change feed between two retained versions — Delta's
    * `table_changes` analogue, composed from the time-travel reads
    * and [[graft.operators.Cdc.snapshotDiff]]: rows inserted,
    * deleted, or updated (postimage) going `fromVersion` →
    * `toVersion`, tagged `_change_type`. Both versions must still be
    * within the retention horizon; keys must be unique per snapshot.
    * The incremental-retraining primitive: diff two dataset pins and
    * feed only the delta downstream. */
  def tableChanges(spark: org.apache.spark.sql.SparkSession,
      catalog: String, table: String, keyCols: Seq[String],
      fromVersion: Long, toVersion: Long)
      : org.apache.spark.sql.DataFrame = {
    def at(v: Long) = spark.sql(
      s"SELECT * FROM $catalog.$table VERSION AS OF $v")
    graft.operators.Cdc.snapshotDiff(
      at(fromVersion), at(toVersion), keyCols)
  }
}

/** In-memory unpartitioned table: BATCH_READ + BATCH_WRITE (+
  * TRUNCATE for INSERT OVERWRITE) + row-level operations with the
  * whole table as the single replacement group. Rows are held as
  * copied UnsafeRows; reads fan them out over a fixed number of
  * input partitions so the DML plans still exercise real
  * distributed operators.
  *
  * The `_group` metadata column (constant 0 — one group) exists so
  * Spark's group-based rewrite carries a metadata projection:
  * `ReplaceDataExec` applies its data/metadata ordinal projections
  * only on that path (`DataAndMetadataWritingSparkTask`), and
  * without it the writer would receive the raw rewrite output with
  * the `__row_operation` column still attached. This mirrors real
  * lakehouse connectors, whose group metadata (file, partition) is
  * never empty. */
class GraftMemTable(tableName: String, tableSchema: StructType,
    persistDir: Option[String] = None,
    qualifiedName: String = "",
    retainVersions: Int = 3,
    readOnly: Boolean = false) extends Table with SupportsRead
    with SupportsWrite with SupportsRowLevelOperations
    with SupportsMetadataColumns {
  require(!tableSchema.fieldNames.contains(GraftMemTable.GroupCol),
    s"column name ${GraftMemTable.GroupCol} is reserved")

  @volatile private var rows: Array[InternalRow] = Array.empty
  // fingerprint of the data dir this working copy corresponds to —
  // set by persistData (what we wrote) and loadPersisted (what we
  // read); a mismatch with the live listing means another catalog
  // instance swapped a newer snapshot in
  @volatile private var diskFp: String = ""

  def currentRows: Array[InternalRow] = rows
  private[sources] def replaceAll(rs: Array[InternalRow]): Unit =
    synchronized { rows = rs; persistData() }
  private[sources] def appendAll(rs: Array[InternalRow]): Unit =
    synchronized { rows = rows ++ rs; persistData() }
  private[sources] def loadRows(rs: Array[InternalRow]): Unit =
    synchronized { rows = rs; diskFp = computeDiskFp() }

  private def computeDiskFp(): String = persistDir.fold("")(dir =>
    graft.Tables.listingFingerprint(
      org.apache.spark.sql.SparkSession.active, s"$dir/data"))

  private[sources] def isStaleOnDisk: Boolean =
    persistDir.isDefined && diskFp != computeDiskFp()

  /** Re-base this working copy on the CURRENT on-disk snapshot
    * fingerprint (creation-time adopt; see createTable). */
  private[sources] def syncDiskFp(): Unit = { diskFp = computeDiskFp() }

  /** Write `<dir>/schema.json` so [[GraftMemTable.loadPersisted]]
    * can reconstruct the table after a restart. No-op when the
    * catalog has no `path`. */
  private[sources] def persistSchema(): Unit = persistDir.foreach {
    dir =>
      val spark = org.apache.spark.sql.SparkSession.active
      val p = new org.apache.hadoop.fs.Path(dir, "schema.json")
      val fs =
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(tableSchema.json.getBytes("UTF-8"))
      finally out.close()
  }

  /** Snapshot the committed rows to `<dir>/data` via the two-rename
    * swap (write to `data.tmp`, swap in): readers of the persisted
    * dir never see a half-written snapshot, and a crash mid-write
    * leaves the previous snapshot intact. The write is a distributed
    * job over this table's own scan — the driver orchestrates,
    * executors serialize.
    *
    * VERSIONING (time travel): instead of deleting the previous
    * snapshot, each commit RETIRES it — `data` is renamed to
    * `versions/v<k-1>` (a rename, no second copy) before the new
    * snapshot swaps in as version k, and `(k, wall-ms)` is appended
    * to `commits.json`. `VERSION AS OF k` / `TIMESTAMP AS OF t`
    * resolve through that log ([[GraftCatalog.loadTable]]). The
    * last `retainVersions` retired snapshots are kept; older dirs
    * are pruned at commit time (their log entries remain, so a read
    * of a pruned version fails loudly with the available range
    * instead of NoSuchTable). Crash windows: after the retire
    * rename but before the swap, `data` is briefly absent — readers
    * fall back to the newest `versions/` dir (a consistent,
    * one-commit-stale view); after the swap but before the log
    * append, the log is one entry short and the next commit
    * re-derives the version counter from the `versions/` listing,
    * so the chain cannot fork. Single-writer contract, ENFORCED
    * since r15 (was prose): commit-time optimistic concurrency —
    * the data-dir fingerprint this working copy last synced to
    * (the same machinery [[isStaleOnDisk]] uses on the read path)
    * is re-checked against the live listing before the distributed
    * snapshot write AND again immediately before the retire/swap
    * renames. A second instance that committed in between makes
    * the loser throw a named ConcurrentModificationException
    * instead of silently retiring the winner's snapshot; a loser
    * that slips past both checks (sub-rename window) still dies on
    * the guarded rename pair. */
  private def persistData(): Unit = persistDir.foreach { dir =>
    val spark = org.apache.spark.sql.SparkSession.active
    import org.apache.hadoop.fs.Path
    val tmp = new Path(dir, "data.tmp")
    val dst = new Path(dir, "data")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def occCheck(): Unit = {
      val live = computeDiskFp()
      if (live != diskFp)
        throw new java.util.ConcurrentModificationException(
          s"graft catalog: concurrent commit detected at $dir — " +
            "another catalog instance swapped in a newer snapshot " +
            "since this working copy last synced (single-writer " +
            "contract). Reload the table (loadTable re-reads a " +
            "stale working copy from disk) and re-apply the write.")
    }
    occCheck()
    fs.delete(tmp, true)
    fs.delete(new Path(dir, "data.old"), true) // pre-versioning layout
    spark.table(qualifiedName).write
      .mode("overwrite").parquet(tmp.toString)
    val commits0 = GraftMemTable.readCommits(fs, dir)
    // legacy (pre-versioning) layout: a data dir with no log — adopt
    // it as version 0 (ts = its mtime) so its history starts here
    val commits =
      if (commits0.isEmpty && fs.exists(dst) &&
          GraftMemTable.maxRetired(fs, dir).isEmpty)
        Seq(GraftMemTable.Commit(0L,
          fs.getFileStatus(dst).getModificationTime))
      else commits0
    val newVer = math.max(
      commits.lastOption.map(_.version + 1).getOrElse(0L),
      GraftMemTable.maxRetired(fs, dir).map(_ + 2).getOrElse(0L))
    occCheck() // re-check after the (slow) distributed write
    if (fs.exists(dst)) {
      val retired = GraftMemTable.versionPath(dir, newVer - 1)
      fs.mkdirs(retired.getParent)
      fs.delete(retired, true) // re-commit after a log-append crash
      require(fs.rename(dst, retired), s"rename $dst -> $retired failed")
    }
    require(fs.rename(tmp, dst), s"rename $tmp -> $dst failed")
    val log = (commits.filter(_.version < newVer) :+
      GraftMemTable.Commit(newVer, System.currentTimeMillis()))
    GraftMemTable.writeCommits(fs, dir, log)
    // prune beyond the retention horizon (entries stay in the log).
    // One versions/ listing, deletes only for dirs that exist below
    // the horizon — NOT a 0..horizon loop, which issues O(total
    // history) delete RPCs per commit on an ever-growing table,
    // almost all against already-pruned dirs.
    val horizon = newVer - retainVersions
    if (horizon > 0) {
      val vd = new Path(dir, "versions")
      if (fs.exists(vd)) fs.listStatus(vd).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("v"))
          n.drop(1).toLongOption.foreach { v =>
            if (v < horizon) fs.delete(st.getPath, true)
          }
      }
    }
    diskFp = computeDiskFp()
  }

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    if (readOnly) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name(): String = GraftMemTable.GroupCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.IntegerType
      override def isNullable: Boolean = false
    })

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftMemScanBuilder(tableSchema, rows)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!readOnly, s"$tableName is a time-travel snapshot — " +
      "writing to a historical version would fork the single-writer " +
      "history; write to the current table instead")
    new GraftMemWriteBuilder(this, info.schema(), replace = false)
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(!readOnly, s"$tableName is a time-travel snapshot — " +
      "row-level DML against a historical version would fork the " +
      "single-writer history")
    () => new GraftRowLevelOperation(this, info.command())
  }
}

object GraftMemTable {
  val GroupCol = "_group"

  /** One committed snapshot: monotone version + wall-clock ms. */
  private[sources] final case class Commit(version: Long, tsMs: Long)

  private[sources] def versionPath(dir: String, v: Long)
      : org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dir, f"versions/v$v%08d")

  /** Largest retired version on disk, from the `versions/` listing —
    * the log-independent recovery source for the version counter. */
  private[sources] def maxRetired(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[Long] = {
    val vd = new org.apache.hadoop.fs.Path(dir, "versions")
    if (!fs.exists(vd)) None
    else fs.listStatus(vd).toSeq
      .map(_.getPath.getName).filter(_.startsWith("v"))
      .flatMap(n => n.drop(1).toLongOption)
      .maxOption
  }

  /** Read `<dir>/commits.json` (one `{"version":k,"ts_ms":t}` per
    * line, version-ascending). Missing/corrupt log → empty (the
    * version counter re-derives from the `versions/` listing). */
  private[sources] def readCommits(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[Commit] = {
    val p = new org.apache.hadoop.fs.Path(dir, "commits.json")
    if (!fs.exists(p)) return Seq.empty
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val Line = """\{"version":(\d+),"ts_ms":(\d+)\}""".r
    text.linesIterator.flatMap {
      case Line(v, t) => Some(Commit(v.toLong, t.toLong))
      case _ => None
    }.toSeq.sortBy(_.version)
  }

  /** Rewrite the commit log via tmp + rename (small file; the crash
    * window between delete and rename only loses the LOG, which the
    * next commit rebuilds from the `versions/` listing). */
  private[sources] def writeCommits(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, commits: Seq[Commit]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "commits.json")
    val tmp = new org.apache.hadoop.fs.Path(dir, "commits.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(commits.sortBy(_.version)
      .map(c => s"""{"version":${c.version},"ts_ms":${c.tsMs}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(p, false)
    require(fs.rename(tmp, p), s"rename $tmp -> $p failed")
  }

  /** Load one historical version as a READ-ONLY table. The current
    * version (log tail) reads `data`; retired versions read their
    * `versions/v<k>` dir; a pruned or unknown version fails with
    * the available range. */
  private[sources] def loadVersion(ident: Identifier, dir: String,
      catalogName: String, version: Long): Option[GraftMemTable] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val schemaPath = new org.apache.hadoop.fs.Path(dir, "schema.json")
    if (!fs.exists(schemaPath)) return None
    val commits = readCommits(fs, dir)
    val current = commits.lastOption.map(_.version)
    // Crash window between the data swap and the commit-log append:
    // the log tail still says k-1 is current while `data` already
    // holds version k's rows — resolving the tail through `data`
    // would be a silently WRONG historical read until the next
    // commit re-derives the counter. But in exactly that window the
    // retire rename has already landed versions/v<k-1>, so the
    // retired dir (never present for a healthily-current version)
    // is the true copy — prefer it.
    val readFrom = {
      val retired = versionPath(dir, version)
      if (current.contains(version) && !fs.exists(retired))
        new org.apache.hadoop.fs.Path(dir, "data")
      else retired
    }
    if (!fs.exists(readFrom)) {
      val have = commits.map(_.version)
        .filter(v => current.contains(v) ||
          fs.exists(versionPath(dir, v)))
      throw new IllegalArgumentException(
        s"graft catalog: version $version of $ident is not " +
          s"available (pruned or never committed); available: " +
          s"${have.mkString(", ")} — raise retainVersions to keep " +
          "deeper history")
    }
    val in = fs.open(schemaPath)
    val json =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val schema = org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[StructType]
    val t = new GraftMemTable(s"${ident.toString}@v$version", schema,
      persistDir = None,
      qualifiedName = s"$catalogName.${ident.toString}",
      readOnly = true)
    t.loadRows(spark.read.schema(schema).parquet(readFrom.toString)
      .queryExecution.toRdd.map(_.copy()).collect())
    Some(t)
  }

  /** Reconstruct a persisted table from `<dir>/schema.json` +
    * `<dir>/data` (the restart path). Returns None when no snapshot
    * exists at `dir`. The row load is a distributed parquet scan
    * collected to the driver-bounded working copy — same bound as
    * every other write to this catalog. */
  private[sources] def loadPersisted(ident: Identifier, dir: String,
      catalogName: String, retainVersions: Int = 3)
      : Option[GraftMemTable] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val schemaPath = new org.apache.hadoop.fs.Path(dir, "schema.json")
    val fs = schemaPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(schemaPath)) return None
    val in = fs.open(schemaPath)
    val json =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val schema = org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[StructType]
    val t = new GraftMemTable(ident.toString, schema,
      persistDir = Some(dir),
      qualifiedName = s"$catalogName.${ident.toString}",
      retainVersions = retainVersions)
    // during the writer's retire/swap renames the main data dir
    // briefly doesn't exist; fall back to the newest RETIRED
    // version (a consistent, one-commit-stale view — the
    // cdcSnapshot contract) instead of silently loading an empty
    // table. `data.old` is the same fallback for pre-versioning
    // layouts.
    val dataDir = new org.apache.hadoop.fs.Path(dir, "data")
    val oldDir = new org.apache.hadoop.fs.Path(dir, "data.old")
    val readFrom =
      if (fs.exists(dataDir)) Some(dataDir)
      else maxRetired(fs, dir).map(v => versionPath(dir, v))
        .filter(fs.exists)
        .orElse(if (fs.exists(oldDir)) Some(oldDir) else None)
    readFrom.foreach(p =>
      t.loadRows(spark.read.schema(schema)
        .parquet(p.toString)
        .queryExecution.toRdd.map(_.copy()).collect()))
    Some(t)
  }

  private[sources] def deletePersisted(dir: String): Boolean = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    fs.exists(p) && fs.delete(p, true)
  }
}

/** Group-based row-level operation: scan = the whole table, write =
  * replace the whole table (the one group the scan produced) with
  * the rewritten rows Catalyst computes for MERGE/UPDATE/DELETE. */
class GraftRowLevelOperation(table: GraftMemTable,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {
  override def command(): RowLevelOperation.Command = cmd
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftMemWriteBuilder(table, info.schema(), replace = true)
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftMemTable.GroupCol))
  override def description(): String =
    s"GraftRowLevel($cmd, whole-table group)"
}

class GraftMemScanBuilder(tableSchema: StructType,
    rows: Array[InternalRow]) extends ScanBuilder
    with SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema
  override def pruneColumns(r: StructType): Unit = required = r
  override def build(): Scan =
    new GraftMemScan(tableSchema, required, rows)
}

class GraftMemScan(tableSchema: StructType, required: StructType,
    rows: Array[InternalRow]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = "graft-mem-scan"
  override def planInputPartitions(): Array[InputPartition] = {
    val slices = math.max(1, math.min(8, rows.length))
    (0 until slices).map { i =>
      GraftMemPartition(rows.zipWithIndex
        .filter(_._2 % slices == i).map(_._1))
        .asInstanceOf[InputPartition]
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftMemReaderFactory(tableSchema, required)
}

case class GraftMemPartition(rows: Array[InternalRow])
  extends InputPartition

/** Projects stored full-schema rows down to the pruned read schema;
  * the `_group` metadata column evaluates to the constant 0 (one
  * replacement group). */
class GraftMemReaderFactory(tableSchema: StructType,
    required: StructType) extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference,
      Literal}
    val proj = UnsafeProjection.create(required.fields.toSeq.map { f =>
      if (f.name == GraftMemTable.GroupCol)
        Literal(0, org.apache.spark.sql.types.IntegerType)
      else {
        val i = tableSchema.fieldIndex(f.name)
        BoundReference(i, tableSchema(i).dataType,
          tableSchema(i).nullable)
      }
    })
    val rs = p.asInstanceOf[GraftMemPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rs.length }
      override def get(): InternalRow = proj(rs(i))
      override def close(): Unit = ()
    }
  }
}

class GraftMemWriteBuilder(table: GraftMemTable, schema: StructType,
    replace: Boolean) extends WriteBuilder with SupportsTruncate {
  private var doReplace = replace
  override def truncate(): WriteBuilder = { doReplace = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(
          info: PhysicalWriteInfo): DataWriterFactory =
        new GraftMemWriterFactory(schema)
      override def commit(msgs: Array[WriterCommitMessage]): Unit = {
        val written = msgs.flatMap {
          case GraftRowsCommit(rs) => rs
          case _ => Array.empty[InternalRow]
        }
        if (doReplace) table.replaceAll(written)
        else table.appendAll(written)
      }
      override def abort(msgs: Array[WriterCommitMessage]): Unit = ()
    }
    override def description(): String =
      s"graft-mem-write(replace=$doReplace)"
  }
}

case class GraftRowsCommit(rows: Array[InternalRow])
  extends WriterCommitMessage

class GraftMemWriterFactory(schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val proj = UnsafeProjection.create(schema)
      private val buf =
        scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      override def write(r: InternalRow): Unit = buf += proj(r).copy()
      override def write(meta: InternalRow, r: InternalRow): Unit =
        write(r) // whole-table group: the metadata row carries no
                 // placement information worth keeping
      override def commit(): WriterCommitMessage =
        GraftRowsCommit(buf.toArray)
      override def abort(): Unit = buf.clear()
      override def close(): Unit = ()
    }
}
