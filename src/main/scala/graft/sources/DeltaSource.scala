package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import graft.Cdc
import graft.core._
import graft.delta.{ColumnMapping, DeltaAction, DeltaLogReader, DvDescriptor, DvScan}
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

/** A planned CDF entry: file + how to interpret it. Kinds: `cdc` (a
  * writer-emitted change file), `insert` (an add served as inserts),
  * `dv_delete` (a deletion-vector update — the deltas are the rows in
  * `newDv` minus `oldDv`), `dv_delete_full` (a file fully deleted via
  * DVs — every row surviving `oldDv` is a delta). */
private[sources] case class CdfEntry(path: String, size: Long, kind: String,
    version: Long, tsMs: Long,
    oldDv: Option[DvDescriptor] = None, newDv: Option[DvDescriptor] = None)

/** Incremental Delta-table planner: initial-snapshot paging, log tailing
  * with the `ignoreDeletes`/`ignoreChanges`/`dataChange=false` matrix, and
  * Change-Data-Feed planning — a re-implementation of delta-spark's
  * streaming `DeltaSource` offsets (`reservoirVersion`/`index`/
  * `isStartingVersion`), following reference
  * `checkpoints/delta.py:634-1040`.
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
      cdf: Seq[CdfEntry], dvs: Seq[(String, DvDescriptor)] = Seq.empty): JsonNode = {
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
        e.newDv.foreach(d =>
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

  // ---- admission ---------------------------------------------------------

  /** Cap (files, bytes); an oversized first file is always admitted
    * (reference delta.py:663-667). Returns (admitted, truncated). */
  private def admit[T](candidates: Seq[T], size: T => Long,
      opts: DeltaSourceOptions, alreadyFiles: Int, alreadyBytes: Long): (Seq[T], Boolean) = {
    var files = alreadyFiles
    var bytes = alreadyBytes
    val out = Seq.newBuilder[T]
    var truncated = false
    candidates.foreach { c =>
      val overFiles = opts.maxFilesPerTrigger.exists(m => files + 1 > m)
      val overBytes = opts.maxBytesPerTrigger.exists(m => bytes + size(c) > m) &&
        (files > 0) // first file always admitted
      if (truncated || overFiles || overBytes) truncated = true
      else { out += c; files += 1; bytes += size(c) }
    }
    (out.result(), truncated)
  }

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
      else if (opts.readChangeFeed) planCdf(tablePath, tableId, position, opts)
      else planLog(tablePath, tableId, position, opts)
    planned.map { b => wal.writeOffset(b); b }
  }

  /** Initial snapshot paging (reference delta.py:634-695,992-1022).
    * Under `readChangeFeed` the snapshot files are served as
    * `change_type='insert'` entries at the snapshot version (reference
    * delta.py:964,1003; delta-spark does the same), so the initial state
    * flows through the CDF reader instead of being dropped. */
  private def planSnapshot(tablePath: String, tableId: String, pos: Position,
      opts: DeltaSourceOptions): Option[BatchInfo] = {
    // every page reads the files and their deletion vectors from one
    // snapshot of the frozen version (a cache hit while no newer version
    // of the table has been read)
    val files = log.snapshot(tablePath, pos.version).adds
    if (pos.index >= files.size) {
      // snapshot finished -> switch to tailing after the snapshot version
      val after = Position(pos.version, -1, isInitial = false)
      return if (opts.readChangeFeed) planCdf(tablePath, tableId, after, opts)
      else planLog(tablePath, tableId, after, opts)
    }
    val remaining = files.drop(pos.index.toInt)
    val (admitted, _) = admit[DeltaAction.AddFile](remaining, _.size, opts, 0, 0L)
    val taken = if (admitted.isEmpty) remaining.take(1) else admitted
    val newIndex = pos.index + taken.size
    val entries = taken.map(a => FileEntry(log.resolvePath(tablePath, a.path), a.size, 0L))
    val cdf =
      if (!opts.readChangeFeed) Seq.empty[CdfEntry]
      else {
        val ts = if (log.commitExists(tablePath, pos.version))
          log.readCommit(tablePath, pos.version).timestampMs.getOrElse(0L)
        else 0L
        taken.map(a => CdfEntry(a.path, a.size, "insert", pos.version, ts))
      }
    Some(BatchInfo(wal.nextBatchId(), entries,
      offsetJson(tableId, Position(pos.version, newIndex, isInitial = true), cdf,
        taken.flatMap(a => a.deletionVector.map(a.path -> _)))))
  }

  /** Log tailing (reference delta.py:697-787). */
  private def planLog(tablePath: String, tableId: String, pos: Position,
      opts: DeltaSourceOptions): Option[BatchInfo] = {
    var v = if (pos.index == -1) pos.version + 1 else pos.version
    var skipInVersion = if (pos.index == -1) 0L else pos.index
    val collected = Seq.newBuilder[DeltaAction.AddFile]
    var nFiles = 0
    var bytes = 0L
    var endPos = pos
    var stop = false
    while (!stop && log.commitExists(tablePath, v)) {
      val commit = log.readCommit(tablePath, v)
      val adds = commit.adds.filter(_.dataChange)
      val removes = commit.removes.filter(_.dataChange)
      // a DELETE-with-DV commit is a remove + re-add of the same path: like
      // any update it needs ignoreChanges, and the re-served file then
      // streams its SURVIVING rows (vector applied at read) — delta-spark's
      // contract: ignoreChanges re-emits updated files, never deleted rows
      if (removes.nonEmpty && !opts.ignoreChanges) {
        if (adds.isEmpty && opts.ignoreDeletes) {
          // delete-only commit, explicitly ignored
        } else {
          throw new PlanningError(
            s"detected ${if (adds.isEmpty) "deleted data" else "a data update"} " +
            s"in commit version $v of $tablePath; set " +
            s"${if (adds.isEmpty) "ignore_deletes" else "ignore_changes"} to proceed")
        }
      }
      val fresh = adds.drop(skipInVersion.toInt)
      val (admitted, truncated) = admit[DeltaAction.AddFile](fresh, _.size, opts, nFiles, bytes)
      val taken =
        if (admitted.isEmpty && fresh.nonEmpty && nFiles == 0) fresh.take(1)
        else admitted
      taken.foreach { a => collected += a; nFiles += 1; bytes += a.size }
      if ((truncated || (taken.size < fresh.size)) && fresh.nonEmpty) {
        endPos = Position(v, skipInVersion + taken.size, isInitial = false)
        stop = true
      } else {
        endPos = Position(v, -1, isInitial = false)
        v += 1
        skipInVersion = 0
        if (opts.maxFilesPerTrigger.exists(nFiles >= _)) stop = true
      }
    }
    val files = collected.result()
    if (files.isEmpty) {
      // Nothing read and the next version is missing: either we're caught
      // up (no newer commits — normal idle) or the log was PRUNED past our
      // position (commits newer than v survive but v itself is gone —
      // e.g. `earliest` start on a checkpointed table, or a consumer that
      // fell behind the table's log retention). Idling silently on the
      // second case would skip data forever.
      requireNotPruned(tablePath, v)
      None
    } else Some(BatchInfo(wal.nextBatchId(),
      files.map(a => FileEntry(log.resolvePath(tablePath, a.path), a.size, 0L)),
      offsetJson(tableId, endPos, Seq.empty,
        files.flatMap(a => a.deletionVector.map(a.path -> _)))))
  }

  /** Throws when `nextVersion` is missing from the log while NEWER commits
    * survive — the tail position was pruned away and tailing can't resume
    * without losing data. */
  private def requireNotPruned(tablePath: String, nextVersion: Long): Unit = {
    val surviving = log.listVersions(tablePath)
    if (surviving.exists(_ > nextVersion) && !surviving.contains(nextVersion)) {
      val earliest = surviving.filter(_ > nextVersion).min
      throw new PlanningError(
        s"delta log at $tablePath no longer has version $nextVersion " +
        s"(earliest surviving commit: $earliest); the consumer fell behind " +
        "the table's log retention. Reset the checkpoint (or start from " +
        "snapshot) to continue — resuming here would silently skip data")
    }
  }

  /** CDF planning: prefer `cdc` actions; fall back to treating `add`s as
    * inserts; a commit with removes but no cdc files is an error
    * (reference delta.py:811-896,501-546). */
  private def planCdf(tablePath: String, tableId: String, pos: Position,
      opts: DeltaSourceOptions): Option[BatchInfo] = {
    var v = if (pos.index == -1) pos.version + 1 else pos.version
    var skipInVersion = if (pos.index == -1) 0L else pos.index
    val collected = Seq.newBuilder[CdfEntry]
    val dvs = scala.collection.mutable.LinkedHashMap.empty[String, DvDescriptor]
    var nFiles = 0
    var bytes = 0L
    var endPos = pos
    var stop = false
    while (!stop && log.commitExists(tablePath, v)) {
      val commit = log.readCommit(tablePath, v)
      val ts = commit.timestampMs.getOrElse(0L)
      val entries: Seq[CdfEntry] =
        if (commit.cdcs.nonEmpty)
          commit.cdcs.map(c => CdfEntry(c.path, c.size, "cdc", v, ts))
        else {
          val adds = commit.adds.filter(_.dataChange)
          val removes = commit.removes.filter(_.dataChange)
          val removePaths = removes.map(_.path).toSet
          if (removes.nonEmpty &&
              adds.forall(a => a.deletionVector.isDefined && removePaths(a.path))) {
            // a DELETE commit, reconstructible WITHOUT cdc files per the
            // delta protocol's CDF section: either the deletion-vector
            // shape (every add re-adds a removed path with a widened
            // vector — the deltas are new DV minus old DV) or a plain
            // remove-only commit / fully-deleted file (all prior
            // survivors of the removed file are the deltas). delta-spark
            // serves CDF for DV deletes the same way. Rewrite-style
            // updates (plain adds + removes) stay refusals below —
            // rewritten files would double-emit carried rows as churn.
            val prior = graft.delta.DeltaStats
              .activeAdds(log, tablePath, v - 1).map(a => a.path -> a).toMap
            val addPaths = adds.map(_.path).toSet
            adds.map(a => CdfEntry(a.path, a.size, "dv_delete", v, ts,
              oldDv = prior.get(a.path).flatMap(_.deletionVector),
              newDv = a.deletionVector)) ++
            removes.filterNot(r => addPaths(r.path))
              .flatMap(r => prior.get(r.path)).map(pa =>
                CdfEntry(pa.path, pa.size, "dv_delete_full", v, ts,
                  oldDv = pa.deletionVector))
          }
          else if (removes.nonEmpty)
            throw new ChangeDataFeedError(
              s"commit version $v of $tablePath updates data but has no cdc files; " +
              "cannot serve Change Data Feed")
          else {
            // insert-fallback adds may carry DVs (e.g. RESTORE re-adding a
            // DV'd file): serve the surviving rows. Keyed by path, newest
            // version wins — our own commits never reuse a data-file path
            adds.foreach(a => a.deletionVector.foreach(d => dvs.put(a.path, d)))
            adds.map(a => CdfEntry(a.path, a.size, "insert", v, ts))
          }
        }
      val fresh = entries.drop(skipInVersion.toInt)
      val (admitted, truncated) = admit[CdfEntry](fresh, _.size, opts, nFiles, bytes)
      val taken =
        if (admitted.isEmpty && fresh.nonEmpty && nFiles == 0) fresh.take(1)
        else admitted
      taken.foreach { e => collected += e; nFiles += 1; bytes += e.size }
      if ((truncated || taken.size < fresh.size) && fresh.nonEmpty) {
        endPos = Position(v, skipInVersion + taken.size, isInitial = false)
        stop = true
      } else {
        endPos = Position(v, -1, isInitial = false)
        v += 1
        skipInVersion = 0
        if (opts.maxFilesPerTrigger.exists(nFiles >= _)) stop = true
      }
    }
    val entries = collected.result()
    if (entries.isEmpty) {
      requireNotPruned(tablePath, v) // same silent-skip hazard as planLog
      None
    } else {
      val takenPaths = entries.map(_.path).toSet
      Some(BatchInfo(wal.nextBatchId(),
        entries.map(e => FileEntry(log.resolvePath(tablePath, e.path), e.size, e.tsMs)),
        offsetJson(tableId, endPos, entries,
          dvs.toSeq.filter { case (p, _) => takenPaths(p) })))
    }
  }

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

  def readBatch(spark: SparkSession, batch: BatchInfo): DataFrame = {
    if (options.readChangeFeed) return readCdfBatch(spark, batch)
    if (batch.files.isEmpty) spark.emptyDataFrame
    else {
      val hasDvs = checkpoint.dvFilesOf(batch.offset).nonEmpty
      applyDvs(spark, batch, ColumnMapping.readFiles(spark, checkpoint.log, tablePath,
        batch.paths, keepMeta = hasDvs))
    }
  }

  /** Apply the batch's planned deletion vectors (offset `dv_files`) so a
    * DV-bearing add streams its SURVIVING rows — descriptors broadcast,
    * bitmaps lazy-load on executors ([[graft.delta.DvScan]]). delta-spark
    * streams DV tables the same way. Mapped tables keep `_metadata`
    * through their projection (`readFiles` keepMeta) so the filter can
    * resolve provenance; the helper column is dropped afterwards. */
  private def applyDvs(spark: SparkSession, batch: BatchInfo,
      df: DataFrame): DataFrame = {
    val dvs = checkpoint.dvFilesOf(batch.offset)
    if (dvs.isEmpty) return df
    val byPath = dvs.map { case (p, d) =>
      graft.delta.DeletionVector.normUri(
        checkpoint.log.resolvePath(tablePath, p)) -> d }.toMap
    graft.delta.DvScan.filterDeleted(spark, tablePath, byPath, df, conf)
      .drop("_metadata")
  }

  /** CDF read: cdc files already carry `_change_type`; insert-fallback adds
    * get it injected; both get commit version/timestamp columns. */
  private def readCdfBatch(spark: SparkSession, batch: BatchInfo): DataFrame = {
    val entries = checkpoint.cdfEntriesOf(batch.offset)
    if (entries.isEmpty) return spark.emptyDataFrame
    // DV filtering must sit directly on each group's scan: hidden
    // _metadata columns do not resolve through the union below
    val dvByPath = checkpoint.dvFilesOf(batch.offset).map { case (p, d) =>
      graft.delta.DeletionVector.normUri(
        checkpoint.log.resolvePath(tablePath, p)) -> d }.toMap
    val groups = entries.groupBy(e => (e.kind, e.version, e.tsMs)).toSeq
      .sortBy { case ((_, v, _), _) => v }
    val frames = groups.map { case ((kind, version, ts), es) =>
      def norm(p: String) = graft.delta.DeletionVector.normUri(
        checkpoint.log.resolvePath(tablePath, p))
      val paths = es.map(e => checkpoint.log.resolvePath(tablePath, e.path))
      // cdc files store `_change_type` under its literal (unmapped) name —
      // on a column-mapped table the logical projection must pass it
      // through or every change row loses its type; DV-filtered kinds keep
      // `_metadata` through the mapped projection for row provenance
      val scan =
        if (kind == "cdc") ColumnMapping.readFiles(spark, checkpoint.log, tablePath, paths,
          passthrough = Seq(org.apache.spark.sql.types.StructField(Cdc.ChangeTypeCol,
            org.apache.spark.sql.types.StringType)))
        else ColumnMapping.readFiles(spark, checkpoint.log, tablePath, paths, keepMeta = true)
      val base = (kind match {
        case "cdc" => scan // cdc files never carry DVs
        case "dv_delete" | "dv_delete_full" =>
          // the DELETED rows of a DV commit: new vector minus old vector
          // (no new vector = whole file removed, all survivors deleted)
          graft.delta.DvScan.filterToDeltas(spark, tablePath,
            es.flatMap(e => e.newDv.map(d => norm(e.path) -> d)).toMap,
            es.flatMap(e => e.oldDv.map(d => norm(e.path) -> d)).toMap,
            scan, conf)
        case _ => graft.delta.DvScan.filterDeleted(spark, tablePath,
          dvByPath.view.filterKeys(paths.map(
            graft.delta.DeletionVector.normUri).toSet).toMap, scan, conf)
      }).drop("_metadata")
      val withType = kind match {
        case "cdc" => base
        case "dv_delete" | "dv_delete_full" =>
          base.withColumn(Cdc.ChangeTypeCol, lit("delete"))
        case _ => base.withColumn(Cdc.ChangeTypeCol, lit("insert"))
      }
      // bound by reference, not as literals: a literal's value lands in
      // the generated source, so every batch would recompile its stages
      withType
        .withColumn(Cdc.CommitVersionCol, BatchConst.long(version))
        .withColumn(Cdc.CommitTimestampCol, BatchConst.timestampMs(ts))
    }
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  def commitBatch(batch: BatchInfo, metadata: Map[String, String]): Unit =
    checkpoint.commitBatch(batch, metadata)
}
