package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import graft.Cdc
import graft.core._
import graft.delta.{ColumnMapping, DeletionVector, DeltaLogReader, DvDescriptor, DvScan}
import graft.functions.BatchConst
import graft.util.Jsons
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Where a brand-new Delta checkpoint starts
  * (reference `checkpoints/delta.py:577-628`; names match delta-spark's
  * `startingVersion`/`startingTimestamp` options). */
sealed trait DeltaStartOffset
object DeltaStartOffset {
  /** Initial snapshot of the current version, then tail the log. */
  case object Snapshot extends DeltaStartOffset
  /** Only commits after the current latest version. */
  case object Latest extends DeltaStartOffset
  /** Tail the log from version 0 (no snapshot). */
  case object Earliest extends DeltaStartOffset
  case class StartingVersion(version: Long) extends DeltaStartOffset
  case class StartingTimestamp(epochMs: Long) extends DeltaStartOffset

  def name(o: DeltaStartOffset): String = o match {
    case Snapshot => "snapshot"
    case Latest => "latest"
    case Earliest => "earliest"
    case StartingVersion(_) => "starting_version"
    case StartingTimestamp(_) => "starting_timestamp"
  }
}

case class DeltaSourceOptions(
    startOffset: DeltaStartOffset = DeltaStartOffset.Snapshot,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    ignoreDeletes: Boolean = false,
    ignoreChanges: Boolean = false,
    readChangeFeed: Boolean = false)

/** A planned entry: file + how to interpret it. Kinds: `cdc` (a
  * writer-emitted change file), `insert` (an add served as inserts — a
  * plain tail's and a snapshot page's every entry; `newDv` is the add's
  * deletion vector, applied at read), `dv_delete` (a deletion-vector
  * update — the deltas are the rows in `newDv` minus `oldDv`),
  * `dv_delete_full` (a file fully deleted via DVs — every row surviving
  * `oldDv` is a delta). */
private[sources] case class CdfEntry(path: String, size: Long, kind: String,
    version: Long, tsMs: Long,
    oldDv: Option[DvDescriptor] = None, newDv: Option[DvDescriptor] = None)

/** Incremental Delta-table planner: initial-snapshot paging, then one
  * tail walk over the log, for plain tailing (the `ignoreDeletes`/
  * `ignoreChanges`/`dataChange=false` matrix) and Change-Data-Feed alike
  * — a re-implementation of delta-spark's streaming `DeltaSource` offsets
  * (`reservoirVersion`/`index`/`isStartingVersion`), following reference
  * `checkpoints/delta.py:634-1040`. Snapshot pages and tail batches take
  * entries under the one [[Admission]] rule the file source uses.
  *
  * Offset model (stored per batch in the WAL): position AFTER the batch —
  * `(table_id, version, index, is_initial)`; `index = -1` means the version
  * is fully consumed; for snapshot batches `index` points into the sorted
  * active-file list.
  */
class DeltaTableCheckpoint(val checkpointDir: String, val conf: Configuration) {
  val wal = new WriteAheadLog(checkpointDir, conf)
  val log = new DeltaLogReader(conf)

  private case class Position(version: Long, index: Long, isInitial: Boolean)

  private def positionFromJson(n: JsonNode): Position =
    Position(n.get("version").asLong(), n.get("index").asLong(),
      Jsons.optBool(n, "is_initial").getOrElse(false))

  private def offsetJson(tableId: String, p: Position,
      cdf: Seq[CdfEntry], dvs: Seq[(String, DvDescriptor)]): JsonNode = {
    val o = Jsons.obj()
    o.put("source", "delta")
    o.put("table_id", tableId)
    o.put("version", p.version)
    o.put("index", p.index)
    o.put("is_initial", p.isInitial)
    if (cdf.nonEmpty) {
      val arr = Jsons.arr()
      cdf.foreach { e =>
        val eo = Jsons.obj()
        eo.put("path", e.path); eo.put("size", e.size); eo.put("kind", e.kind)
        eo.put("version", e.version); eo.put("ts_ms", e.tsMs)
        e.oldDv.foreach(d =>
          eo.set[JsonNode]("old_dv", DeltaTableCheckpoint.dvToJson(d)))
        // an insert's vector is read from `dv_files`
        e.newDv.filter(_ => e.kind != "insert").foreach(d =>
          eo.set[JsonNode]("new_dv", DeltaTableCheckpoint.dvToJson(d)))
        arr.add(eo)
      }
      o.set[JsonNode]("cdf_entries", arr)
    }
    if (dvs.nonEmpty) o.set[JsonNode]("dv_files", DeltaTableCheckpoint.dvsToJson(dvs))
    o
  }

  /** Deletion vectors of this batch's files, planned into the offset so
    * [[DeltaSource.readBatch]] can apply them — descriptors only, the
    * bitmap bytes load lazily on executors ([[graft.delta.DvScan]]). */
  private[sources] def dvFilesOf(offset: JsonNode): Seq[(String, DvDescriptor)] =
    Jsons.optField(offset, "dv_files").map(DeltaTableCheckpoint.dvsFromJson)
      .getOrElse(Seq.empty)

  private[sources] def cdfEntriesOf(offset: JsonNode): Seq[CdfEntry] =
    Jsons.optField(offset, "cdf_entries").map(arr =>
      Jsons.elems(arr).map(e => CdfEntry(
        e.get("path").asText(), e.get("size").asLong(), e.get("kind").asText(),
        e.get("version").asLong(), e.get("ts_ms").asLong(),
        oldDv = Jsons.optField(e, "old_dv").map(DeltaTableCheckpoint.dvFromJson),
        newDv = Jsons.optField(e, "new_dv").map(DeltaTableCheckpoint.dvFromJson)))
        .toSeq
    ).getOrElse(Seq.empty)

  // ---- table identity (reference delta.py:302-344) -----------------------

  private def verifyTableId(tablePath: String): String = {
    // a log no snapshot can be built from (pruned below its oldest commit
    // with no checkpoint) has no knowable id: tailing it stands or falls
    // on its own pruning check
    val current =
      try log.latestSnapshot(tablePath).flatMap(_.meta).map(_.id).getOrElse("")
      catch { case _: PlanningError => "" }
    wal.readMetadata().flatMap(m => Jsons.optStr(m, "table_id")) match {
      case Some(stored) if stored.nonEmpty && current.nonEmpty && stored != current =>
        throw new PlanningError(
          s"delta table id changed: checkpoint has $stored, table has $current " +
          "(table was replaced); reset the checkpoint to continue")
      case Some(stored) => if (stored.nonEmpty) stored else current
      case None =>
        val tid = Jsons.obj().textNode(current)
        wal.updateMetadata("table_id", tid)
        current
    }
  }

  // ---- start offset (first-run-wins, reference delta.py:302-344,577-628) -

  private def resolveStart(tablePath: String, opts: DeltaSourceOptions): Option[Position] = {
    wal.readMetadata().flatMap(m => Jsons.optField(m, "start_position")) match {
      case Some(sp) => Some(positionFromJson(sp))
      case None =>
        val latest = log.latestVersion(tablePath)
        val resolved: Option[Position] = opts.startOffset match {
          case DeltaStartOffset.Snapshot =>
            latest.map(v => Position(v, 0, isInitial = true))
          case DeltaStartOffset.Latest =>
            Some(Position(latest.getOrElse(-1L), -1, isInitial = false))
          case DeltaStartOffset.Earliest =>
            Some(Position(-1L, -1, isInitial = false))
          case DeltaStartOffset.StartingVersion(v) =>
            Some(Position(v - 1, -1, isInitial = false))
          case DeltaStartOffset.StartingTimestamp(ts) =>
            val v = log.versionForTimestamp(tablePath, ts)
              .getOrElse(latest.map(_ + 1).getOrElse(0L))
            Some(Position(v - 1, -1, isInitial = false))
        }
        resolved.foreach { p =>
          val o = Jsons.obj()
          o.put("kind", DeltaStartOffset.name(opts.startOffset))
          o.put("version", p.version); o.put("index", p.index)
          o.put("is_initial", p.isInitial)
          wal.updateMetadata("start_position", o)
        }
        resolved
    }
  }

  /** Position after the last committed batch, if any. */
  private def lastCommittedPosition(): Option[Position] =
    wal.latestCommitId().map(id => positionFromJson(wal.readOffset(id).offset))

  // ---- planning ----------------------------------------------------------

  def planBatch(tablePath: String, opts: DeltaSourceOptions): Option[BatchInfo] = {
    wal.pendingBatchIds().headOption.foreach { id => return Some(wal.readOffset(id)) }
    val tableId = verifyTableId(tablePath)
    val position = lastCommittedPosition().orElse(resolveStart(tablePath, opts)) match {
      case None => return None // empty table with snapshot start: nothing yet
      case Some(p) => p
    }
    val planned =
      if (position.isInitial) planSnapshot(tablePath, tableId, position, opts)
      else planTail(tablePath, tableId, position, opts)
    planned.map { b => wal.writeOffset(b); b }
  }

  /** Initial snapshot paging (reference delta.py:634-695,992-1022): the
    * snapshot's files, served as `insert` entries at the snapshot version
    * — under `readChangeFeed` the initial state flows through the CDF
    * reader as `change_type='insert'` rows (reference delta.py:964,1003;
    * delta-spark does the same) instead of being dropped. */
  private def planSnapshot(tablePath: String, tableId: String, pos: Position,
      opts: DeltaSourceOptions): Option[BatchInfo] = {
    // every page reads the files and their deletion vectors from one
    // snapshot of the frozen version (a cache hit while no newer version
    // of the table has been read)
    val snap = log.snapshot(tablePath, pos.version)
    val remaining = snap.adds.drop(pos.index.toInt)
    if (remaining.isEmpty) // snapshot finished -> tail after its version
      return planTail(tablePath, tableId, Position(pos.version, -1, isInitial = false), opts)
    // a snapshot based on a checkpoint AT this version has not read the commit
    val ts = snap.commitTs.get(pos.version).orElse(
      if (log.commitExists(tablePath, pos.version))
        log.readCommit(tablePath, pos.version).timestampMs
      else None).getOrElse(0L)
    val page = Admission.admit[CdfEntry](remaining.map(a =>
        CdfEntry(a.path, a.size, "insert", pos.version, ts, newDv = a.deletionVector)),
      _.size, opts.maxFilesPerTrigger, opts.maxBytesPerTrigger)
    Some(batchOf(tablePath, tableId,
      Position(pos.version, pos.index + page.size, isInitial = true), page, opts))
  }

  /** The one tail walk, plain and change-feed alike (reference
    * delta.py:697-896): lists `_delta_log` once, then takes the entries
    * [[commitEntries]] gives for each listed version that follows `pos`
    * without a gap, until the admission caps stop it — mid-version, the
    * position records how many of that version's entries were taken. */
  private def planTail(tablePath: String, tableId: String, pos: Position,
      opts: DeltaSourceOptions): Option[BatchInfo] = {
    val listed = log.listVersions(tablePath).toSet
    var v = if (pos.index == -1) pos.version + 1 else pos.version
    var skip = if (pos.index == -1) 0L else pos.index
    val taken = Seq.newBuilder[CdfEntry]
    var nFiles = 0
    var bytes = 0L
    var end = pos
    var stop = false
    while (!stop && listed(v)) {
      val fresh = commitEntries(tablePath, v, opts).drop(skip.toInt)
      val admitted = Admission.admit[CdfEntry](fresh, _.size,
        opts.maxFilesPerTrigger, opts.maxBytesPerTrigger, nFiles, bytes)
      admitted.foreach { e => taken += e; nFiles += 1; bytes += e.size }
      if (admitted.size < fresh.size) {
        end = Position(v, skip + admitted.size, isInitial = false)
        stop = true
      } else {
        end = Position(v, -1, isInitial = false)
        v += 1
        skip = 0
        stop = opts.maxFilesPerTrigger.exists(nFiles >= _)
      }
    }
    val entries = taken.result()
    if (entries.nonEmpty) Some(batchOf(tablePath, tableId, end, entries, opts))
    else if (!listed(v) && listed.exists(_ > v)) {
      // Nothing taken and the next version is missing while NEWER commits
      // survive: the log was PRUNED past our position (e.g. `earliest`
      // start on a checkpointed table, or a consumer that fell behind the
      // table's log retention). Idling silently would skip data forever.
      throw new PlanningError(
        s"delta log at $tablePath no longer has version $v " +
        s"(earliest surviving commit: ${listed.filter(_ > v).min}); the consumer " +
        "fell behind the table's log retention. Reset the checkpoint (or start " +
        "from snapshot) to continue — resuming here would silently skip data")
    } else None // caught up
  }

  /** What commit `v` contributes to a tail batch (reference
    * delta.py:697-787,811-896,501-546). Plain tailing: its dataChange
    * adds, behind the `ignoreDeletes`/`ignoreChanges` checks. Change feed:
    * its `cdc` files when it has any; else a DELETE reconstructed from its
    * deletion vectors and removes; else its adds as inserts; a commit that
    * updates data any other way is an error. */
  private def commitEntries(tablePath: String, v: Long,
      opts: DeltaSourceOptions): Seq[CdfEntry] = {
    val commit = log.readCommit(tablePath, v)
    val ts = commit.timestampMs.getOrElse(0L)
    val adds = commit.adds.filter(_.dataChange)
    val removes = commit.removes.filter(_.dataChange)
    // insert adds may carry DVs (a DELETE-with-DV re-add under
    // ignoreChanges, RESTORE re-adding a DV'd file): they stream their
    // SURVIVING rows — delta-spark's contract: ignoreChanges re-emits
    // updated files, never deleted rows
    def inserts = adds.map(a => CdfEntry(a.path, a.size, "insert", v, ts, newDv = a.deletionVector))
    if (!opts.readChangeFeed) {
      // a DELETE-with-DV commit is a remove + re-add of the same path: like
      // any update it needs ignoreChanges
      if (removes.nonEmpty && !opts.ignoreChanges && !(adds.isEmpty && opts.ignoreDeletes))
        throw new PlanningError(
          s"detected ${if (adds.isEmpty) "deleted data" else "a data update"} " +
          s"in commit version $v of $tablePath; set " +
          s"${if (adds.isEmpty) "ignore_deletes" else "ignore_changes"} to proceed")
      inserts
    }
    else if (commit.cdcs.nonEmpty) commit.cdcs.map(c => CdfEntry(c.path, c.size, "cdc", v, ts))
    else if (removes.isEmpty) inserts
    else {
      val removePaths = removes.map(_.path).toSet
      if (!adds.forall(a => a.deletionVector.isDefined && removePaths(a.path)))
        throw new ChangeDataFeedError(
          s"commit version $v of $tablePath updates data but has no cdc files; " +
          "cannot serve Change Data Feed")
      // a DELETE commit, reconstructible WITHOUT cdc files per the delta
      // protocol's CDF section: either the deletion-vector shape (every
      // add re-adds a removed path with a widened vector — the deltas are
      // new DV minus old DV) or a plain remove-only commit / fully-deleted
      // file (all prior survivors of the removed file are the deltas).
      // delta-spark serves CDF for DV deletes the same way. Rewrite-style
      // updates (plain adds + removes) stay refusals above — rewritten
      // files would double-emit carried rows as churn.
      val prior = log.snapshot(tablePath, v - 1).files
      val addPaths = adds.map(_.path).toSet
      adds.map(a => CdfEntry(a.path, a.size, "dv_delete", v, ts,
        oldDv = prior.get(a.path).flatMap(_.deletionVector), newDv = a.deletionVector)) ++
      removes.filterNot(r => addPaths(r.path)).flatMap(r => prior.get(r.path)).map(pa =>
        CdfEntry(pa.path, pa.size, "dv_delete_full", v, ts, oldDv = pa.deletionVector))
    }
  }

  /** The batch that takes `entries` and ends at `end`, for snapshot pages
    * and tail batches alike: each file carries its commit timestamp; the
    * offset holds the CDF entries (change feed only) and, as `dv_files`,
    * the deletion vectors of the taken insert entries. */
  private def batchOf(tablePath: String, tableId: String, end: Position,
      entries: Seq[CdfEntry], opts: DeltaSourceOptions): BatchInfo =
    BatchInfo(wal.nextBatchId(),
      entries.map(e => FileEntry(log.resolvePath(tablePath, e.path), e.size, e.tsMs)),
      offsetJson(tableId, end, if (opts.readChangeFeed) entries else Seq.empty,
        entries.filter(_.kind == "insert").flatMap(e => e.newDv.map(e.path -> _))))

  def commitBatch(batch: BatchInfo, metadata: Map[String, String]): Unit =
    wal.commit(batch.batchId, metadata)
}

object DeltaTableCheckpoint {
  /** One descriptor <-> offset-JSON object. */
  private[sources] def dvToJson(d: DvDescriptor): JsonNode = {
    val o = Jsons.obj()
    o.put("storage_type", d.storageType)
    o.put("path_or_inline_dv", d.pathOrInlineDv)
    d.offset.foreach(v => o.put("offset", v))
    o.put("size_in_bytes", d.sizeInBytes)
    o.put("cardinality", d.cardinality)
    o
  }

  private[sources] def dvFromJson(o: JsonNode): DvDescriptor =
    DvDescriptor(
      o.get("storage_type").asText(),
      o.get("path_or_inline_dv").asText(),
      Jsons.optLong(o, "offset"),
      o.get("size_in_bytes").asLong(),
      o.get("cardinality").asLong())

  /** (addPath, descriptor) list <-> the offset JSON's `dv_files` array. */
  private[sources] def dvsToJson(dvs: Seq[(String, DvDescriptor)]): JsonNode = {
    val arr = Jsons.arr()
    dvs.foreach { case (p, d) =>
      val o = dvToJson(d).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      o.put("path", p)
      arr.add(o)
    }
    arr
  }

  private[sources] def dvsFromJson(n: JsonNode): Seq[(String, DvDescriptor)] =
    Jsons.elems(n).map(o => o.get("path").asText() -> dvFromJson(o)).toSeq
}

/** Source facade for Delta tables: planning via [[DeltaTableCheckpoint]],
  * reads via plain parquet scans of the planned files, CDF reads with
  * `_change_type`/`_commit_version`/`_commit_timestamp` injection
  * (reference `sources/delta.py:14-32`). */
class DeltaSource(
    val tablePath: String,
    val checkpoint: DeltaTableCheckpoint,
    val options: DeltaSourceOptions = DeltaSourceOptions()) extends Source {

  def checkpointDir: String = checkpoint.checkpointDir
  def conf: Configuration = checkpoint.conf

  def planBatch(): Option[BatchInfo] = checkpoint.planBatch(tablePath, options)

  def readBatch(spark: SparkSession, batch: BatchInfo): DataFrame =
    if (options.readChangeFeed) readCdfBatch(spark, batch)
    else if (batch.files.isEmpty) spark.emptyDataFrame
    else scanSurviving(spark, batch.paths, dvsOf(batch))

  /** A table file's key in a deletion-vector map: its normalized
    * absolute path, as [[graft.delta.DvScan]] addresses files. */
  private def dvKey(path: String): String =
    DeletionVector.normUri(checkpoint.log.resolvePath(tablePath, path))

  /** The batch's planned deletion vectors (offset `dv_files`). */
  private def dvsOf(batch: BatchInfo): Map[String, DvDescriptor] =
    checkpoint.dvFilesOf(batch.offset).map { case (p, d) => dvKey(p) -> d }.toMap

  /** Read `paths` so a DV-bearing file streams only its SURVIVING rows —
    * descriptors broadcast, bitmaps lazy-load on executors
    * ([[graft.delta.DvScan]]); delta-spark streams DV tables the same way.
    * The filter sits directly on the scan (hidden `_metadata` columns do
    * not resolve through a union); mapped tables keep `_metadata` through
    * their projection (`readFiles` keepMeta) and drop it afterwards. */
  private def scanSurviving(spark: SparkSession, paths: Seq[String],
      dvs: Map[String, DvDescriptor]): DataFrame = {
    val mine = paths.map(dvKey).flatMap(k => dvs.get(k).map(k -> _)).toMap
    val scan = ColumnMapping.readFiles(spark, checkpoint.log, tablePath, paths,
      keepMeta = mine.nonEmpty)
    if (mine.isEmpty) scan
    else DvScan.filterDeleted(spark, tablePath, mine, scan, conf).drop("_metadata")
  }

  /** CDF read: cdc files already carry `_change_type`; insert and delete
    * entries get it injected; all get commit version/timestamp columns. */
  private def readCdfBatch(spark: SparkSession, batch: BatchInfo): DataFrame = {
    val entries = checkpoint.cdfEntriesOf(batch.offset)
    if (entries.isEmpty) return spark.emptyDataFrame
    val dvs = dvsOf(batch)
    val groups = entries.groupBy(e => (e.kind, e.version, e.tsMs)).toSeq
      .sortBy { case ((_, v, _), _) => v }
    val frames = groups.map { case ((kind, version, ts), es) =>
      val paths = es.map(e => checkpoint.log.resolvePath(tablePath, e.path))
      val rows = kind match {
        // cdc files never carry DVs, and store `_change_type` under its
        // literal (unmapped) name — on a column-mapped table the logical
        // projection must pass it through or every change row loses its type
        case "cdc" => ColumnMapping.readFiles(spark, checkpoint.log, tablePath, paths,
          passthrough = Seq(org.apache.spark.sql.types.StructField(Cdc.ChangeTypeCol,
            org.apache.spark.sql.types.StringType)))
        case "dv_delete" | "dv_delete_full" =>
          // the DELETED rows of a DV commit: new vector minus old vector
          // (no new vector = whole file removed, all survivors deleted)
          def byKey(dv: CdfEntry => Option[DvDescriptor]) =
            es.flatMap(e => dv(e).map(dvKey(e.path) -> _)).toMap
          DvScan.filterToDeltas(spark, tablePath, byKey(_.newDv), byKey(_.oldDv),
            ColumnMapping.readFiles(spark, checkpoint.log, tablePath, paths, keepMeta = true),
            conf).drop("_metadata").withColumn(Cdc.ChangeTypeCol, lit("delete"))
        case _ => scanSurviving(spark, paths, dvs).withColumn(Cdc.ChangeTypeCol, lit("insert"))
      }
      // bound by reference, not as literals: a literal's value lands in
      // the generated source, so every batch would recompile its stages
      rows
        .withColumn(Cdc.CommitVersionCol, BatchConst.long(version))
        .withColumn(Cdc.CommitTimestampCol, BatchConst.timestampMs(ts))
    }
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  def commitBatch(batch: BatchInfo, metadata: Map[String, String]): Unit =
    checkpoint.commitBatch(batch, metadata)
}
