package graft.delta

import com.fasterxml.jackson.databind.JsonNode
import graft.core.PlanningError
import graft.util.{Fs, Jsons}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import scala.collection.immutable.TreeMap

/** Delta-protocol actions we understand — a superset of what the
  * reference's from-scratch `_delta_log` parser handles
  * (reference `src/polars_incremental/checkpoints/delta.py:346-390`:
  * commitInfo/metaData/add/remove/cdc; it ignores protocol/txn, which we
  * parse for the capability guard and idempotent-writer watermarks). */
sealed trait DeltaAction
object DeltaAction {
  case class CommitInfo(timestampMs: Option[Long]) extends DeltaAction
  /** `partitionColumns` are the protocol's LOGICAL partition column
    * names — the fallback record of the hive layout when a table has no
    * active add files left to infer it from (a de-partitioning silent
    * data reshape otherwise). */
  case class MetaData(id: String, schemaString: Option[String],
      configurationJson: Option[String] = None,
      partitionColumns: Seq[String] = Seq.empty) extends DeltaAction
  /** `stats` is the delta-protocol per-file statistics JSON string
    * (`{"numRecords":N,"minValues":{..},"maxValues":{..}}`) — present when
    * the writer collected parquet footer stats; readers use it for file
    * skipping ([[DeltaStats]]). `partitionValues` is the protocol's
    * per-file partition map (hive-layout column -> string value) — exact
    * partition pruning without touching any footer. */
  case class AddFile(path: String, size: Long, dataChange: Boolean,
      stats: Option[String] = None,
      partitionValues: Map[String, String] = Map.empty,
      deletionVector: Option[DvDescriptor] = None) extends DeltaAction
  case class RemoveFile(path: String, dataChange: Boolean) extends DeltaAction
  case class CdcFile(path: String, size: Long) extends DeltaAction
  /** SetTransaction — the protocol's idempotent-writer watermark: the
    * newest `version` a writer identified by `appId` has committed. A
    * sink that stamps every commit with its (appId, batchId) and skips
    * batches at-or-below its watermark ([[DeltaSnapshot.txns]]) gets
    * exactly-once output from an at-least-once pipeline (delta-spark's
    * `txnAppId`/`txnVersion` idempotent writes). */
  case class Txn(appId: String, version: Long) extends DeltaAction
  /** The table's protocol requirements. Parsed so reads can REFUSE tables
    * whose semantics we cannot honor — a reader that ignores
    * `minReaderVersion`/`readerFeatures` and scans a deletion-vector table
    * silently RESURFACES deleted rows (every add's parquet is read whole);
    * wrong answers, not an error. */
  case class Protocol(minReaderVersion: Int,
      readerFeatures: Seq[String] = Seq.empty,
      minWriterVersion: Int = 2,
      writerFeatures: Seq[String] = Seq.empty) extends DeltaAction
  /** The protocol's `domainMetadata` action — an opaque per-domain
    * configuration blob other writers (delta-spark clustering, sharing
    * metadata, ...) attach to the table. We never interpret it, but the
    * writer feature's obligation is PRESERVATION: the newest action per
    * domain (tombstones included — `removed=true` must keep overriding
    * older live entries) has to survive our checkpoints, or `expireLogs`
    * silently erases another writer's state. */
  case class DomainMetadata(domain: String, configurationJson: String,
      removed: Boolean) extends DeltaAction
}

/** One parsed commit. */
case class DeltaCommit(version: Long, actions: Seq[DeltaAction]) {
  import DeltaAction._
  def timestampMs: Option[Long] =
    actions.collectFirst { case CommitInfo(Some(ts)) => ts }
  def metaId: Option[String] = actions.collectFirst { case m: MetaData => m.id }
  def adds: Seq[AddFile] = actions.collect { case a: AddFile => a }
  def removes: Seq[RemoveFile] = actions.collect { case r: RemoveFile => r }
  def cdcs: Seq[CdcFile] = actions.collect { case c: CdcFile => c }
  def txns: Seq[Txn] = actions.collect { case t: Txn => t }
}

/** A parquet checkpoint of the log at `version` (delta-spark writes one
  * every ~10 commits, then prunes aged JSON commits). `parts` is Some(n)
  * for multi-part checkpoints (`v.checkpoint.i.n.parquet`), None for
  * single-file (`v.checkpoint.parquet`). */
case class CheckpointInstance(version: Long, parts: Option[Int])

/** A table's metaData as a snapshot folded it. */
case class TableMeta(id: String, schemaString: Option[String],
    configurationJson: Option[String] = None)

/** The table as of `version`, from ONE fold of its log
  * ([[DeltaLogReader.snapshot]], the only replay there is — every
  * question asked of the table reads a field here): the active adds
  * (stats, partition values and deletion vectors kept, keyed and sorted
  * by path), the newest metaData and protocol, the metaData's LOGICAL
  * `partitionColumns`, the newest SetTransaction version per appId (the
  * idempotent-writer watermarks), the newest `domainMetadata` per domain
  * (tombstones kept: a checkpoint that drops one lets a surviving older
  * commit resurrect the removed domain) and the commit timestamps of the
  * JSON commits the fold read. A write plans from one snapshot and
  * commits against its version, so every question it asks of the table
  * (files, schema, layout, properties, protocol) costs no further log
  * read. */
case class DeltaSnapshot(tablePath: String, version: Long,
    files: TreeMap[String, DeltaAction.AddFile], meta: Option[TableMeta],
    protocol: Option[DeltaAction.Protocol], partitionColumns: Seq[String],
    txns: Map[String, Long], domains: Map[String, DeltaAction.DomainMetadata],
    commitTs: Map[Long, Long]) {
  /** Active adds, sorted by path. */
  lazy val adds: Seq[DeltaAction.AddFile] = files.values.toVector
  lazy val schema: Option[org.apache.spark.sql.types.StructType] =
    meta.flatMap(_.schemaString).map(s => org.apache.spark.sql.types.DataType
      .fromJson(s).asInstanceOf[org.apache.spark.sql.types.StructType])
  def configurationJson: Option[String] = meta.flatMap(_.configurationJson)

  /** This snapshot with the actions of version `v` (a JSON commit, or a
    * checkpoint's rows) folded on top — removes before adds, so a
    * deletion-vector re-add of the same path survives. The active adds
    * are an immutable map, so a fold costs O(actions of `v`), not
    * O(active files). */
  private[delta] def fold(v: Long, actions: Seq[DeltaAction]): DeltaSnapshot = {
    import DeltaAction._
    var fs = files; var m = meta; var p = protocol; var pc = partitionColumns
    var tx = txns; var dm = domains; var ts = commitTs
    actions.foreach {
      case r: RemoveFile => fs -= r.path
      case md: MetaData =>
        m = Some(TableMeta(md.id, md.schemaString.orElse(m.flatMap(_.schemaString)),
          md.configurationJson.orElse(m.flatMap(_.configurationJson))))
        pc = md.partitionColumns
      case pr: Protocol => p = Some(pr)
      case t: Txn => tx += t.appId -> t.version
      case d: DomainMetadata => dm += d.domain -> d
      case CommitInfo(Some(t)) => ts += v -> t
      case _ =>
    }
    actions.foreach { case a: AddFile => fs += a.path -> a; case _ => }
    DeltaSnapshot(tablePath, v, fs, m, p, pc, tx, dm, ts)
  }
}

object DeltaSnapshot {
  /** The table before its first version. */
  private[delta] def empty(tablePath: String): DeltaSnapshot =
    DeltaSnapshot(tablePath, -1L, TreeMap.empty, None, None, Seq.empty, Map.empty,
      Map.empty, Map.empty)
}

object DeltaLogReader {
  /** Log files (JSON commits and checkpoint parts) parsed by every reader
    * since JVM start — test instrumentation for "a write replays its log
    * once", where the writer's own reader is out of reach. */
  val filesRead = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Tables whose newest snapshot the process keeps. */
  private val CachedTables = 16

  /** A snapshot and the log files it was folded from — its base
    * checkpoint's parts and the JSON commits above them — by name, with
    * the (length, modification time) each had when it was read. */
  private case class Cached(snap: DeltaSnapshot, sources: Map[String, (Long, Long)])

  /** The newest snapshot asked of each table, keyed by qualified log
    * path, least recently used evicted first. Process-wide because
    * readers and writers are built per operation (a CDC merge builds a
    * new [[DeltaWriter]] per batch): only a shared cache lets the next
    * one skip the replay. Threads share it (a DV merge's two concurrent
    * halves both read the table); the snapshots are immutable. */
  private val cache = new java.util.LinkedHashMap[String, Cached](32, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Cached]): Boolean =
      size() > CachedTables
  }

  private def cached(key: String): Option[Cached] = cache.synchronized(Option(cache.get(key)))

  /** Keep `c` unless the entry there now is newer and was not found
    * `stale` (a time-travel read leaves the newest snapshot in place). */
  private def remember(key: String, c: Cached, stale: Option[Cached]): Unit =
    cache.synchronized {
      val cur = cache.get(key)
      if (cur == null || stale.exists(_ eq cur) || cur.snap.version <= c.snap.version)
        cache.put(key, c)
    }
}

/** Reader for a Delta table's `_delta_log`: version listing, JSON-lines
  * action parsing, parquet-checkpoint interop, and the one log replay,
  * [[snapshot]].
  *
  * Re-implements (no delta-spark jars on this classpath) the log-replay
  * core of delta-spark's `Snapshot`, following the reference's design
  * (`checkpoints/delta.py:425-499`): fold actions in version order onto
  * a replay base, the newest parquet checkpoint at or below the target
  * version (written by [[CheckpointWriter]] every 10 commits, or by
  * delta-spark, which prunes aged JSON commits after checkpointing — a
  * foreign table usually has no version-0 commit). A pruned log with no
  * usable checkpoint, or a gap in the JSON commits, is an error, never a
  * silent partial file set.
  *
  * The replay is incremental, as delta-spark's `SnapshotManagement.update`
  * is: the process keeps the newest snapshot asked of each table (see
  * the companion), and a read lists `_delta_log` once, reuses the kept
  * snapshot while every file it was folded from is still listed with the
  * same length and modification time, and folds only the JSON commits
  * between it and the requested version. Anything else — a replaced or
  * rewritten log, a gap, a request below the kept version — replays from
  * the checkpoint. Log expiry deletes only JSON commits below the newest
  * checkpoint, so it resets a kept snapshot only when the snapshot was
  * folded from them. The commit's put-if-absent conflict check stays the
  * authority on what is committed; the cache only speeds up reads.
  *
  * Checkpoint parquet is read driver-side with parquet-mr's Group API
  * (no SparkSession needed — this is planning metadata, and the state it
  * feeds is already a driver-side map; at extreme table sizes the same
  * file could be read distributed, but then the whole snapshot-state
  * design would shift to DataFrames).
  *
  * All of this is driver-side planning metadata (file lists, not data);
  * executors only ever see the resolved parquet paths.
  */
class DeltaLogReader(conf: Configuration) {
  import DeltaAction._

  /** Commit-file reads since construction — instrumentation for tests
    * asserting the amortized (non-O(versions)) metadata path. */
  @volatile var commitReadCount: Long = 0L

  def logDir(tablePath: String): Path = new Path(tablePath, "_delta_log")

  def isDeltaTable(tablePath: String): Boolean = Fs.exists(logDir(tablePath), conf)

  private def versionOf(name: String): Option[Long] =
    if (name.endsWith(".json") && name.stripSuffix(".json").forall(_.isDigit))
      Some(name.stripSuffix(".json").toLong)
    else None

  def listVersions(tablePath: String): Seq[Long] =
    Fs.list(logDir(tablePath), conf)
      .flatMap(s => versionOf(s.getPath.getName)).sorted

  def latestVersion(tablePath: String): Option[Long] = listVersions(tablePath).lastOption

  def commitPath(tablePath: String, version: Long): Path =
    new Path(logDir(tablePath), f"$version%020d.json")

  def commitExists(tablePath: String, version: Long): Boolean =
    Fs.exists(commitPath(tablePath, version), conf)

  /** Parse one commit file (JSON lines, one action per line). */
  def readCommit(tablePath: String, version: Long): DeltaCommit = {
    commitReadCount += 1
    DeltaLogReader.filesRead.incrementAndGet()
    val p = commitPath(tablePath, version)
    val fs = Fs.fs(p, conf)
    val reader = new BufferedReader(
      new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try {
      val actions = Iterator.continually(reader.readLine())
        .takeWhile(_ != null)
        .filter(_.trim.nonEmpty)
        .flatMap(line => parseAction(Jsons.parse(line)))
        .toSeq
      val commit = DeltaCommit(version, actions)
      // refuse unreadable protocols at PARSE time so every consumer —
      // snapshot replay, stats, tailing, CDF — inherits the guard
      actions.collect { case p: Protocol => p }.foreach(checkProtocol(tablePath, _))
      commit
    } finally reader.close()
  }

  private def parseAction(n: JsonNode): Option[DeltaAction] = {
    Jsons.optField(n, "commitInfo").map(ci =>
      CommitInfo(Jsons.optLong(ci, "timestamp"))
    ).orElse(Jsons.optField(n, "metaData").map(md =>
      MetaData(Jsons.optStr(md, "id").getOrElse(""), Jsons.optStr(md, "schemaString"),
        // table properties (CDF, appendOnly, columnMapping.mode, ...) must
        // survive OUR commits' metaData re-emission — carry the raw node.
        // An explicitly EMPTY {} is kept as Some("{}"): metaData actions
        // REPLACE configuration wholesale, so a foreign UNSET of every
        // property must not resurrect the older config; only a truly
        // ABSENT field falls back (our pre-r7 commits omitted it)
        Jsons.optField(md, "configuration").map(Jsons.render),
        Jsons.optField(md, "partitionColumns").map(pc =>
          Jsons.elems(pc).map(_.asText()).toSeq).getOrElse(Seq.empty))
    )).orElse(Jsons.optField(n, "add").map { a =>
      AddFile(a.get("path").asText(), Jsons.optLong(a, "size").getOrElse(0L),
        Jsons.optBool(a, "dataChange").getOrElse(true), Jsons.optStr(a, "stats"),
        Jsons.optField(a, "partitionValues").map(pv =>
          Jsons.fields(pv).map { case (k, v) => k -> v.asText() }.toMap)
          .getOrElse(Map.empty),
        parseDv(a))
    }).orElse(Jsons.optField(n, "remove").map(r =>
      RemoveFile(r.get("path").asText(), Jsons.optBool(r, "dataChange").getOrElse(true))
    )).orElse(Jsons.optField(n, "cdc").map(c =>
      CdcFile(c.get("path").asText(), Jsons.optLong(c, "size").getOrElse(0L))
    )).orElse(Jsons.optField(n, "txn").map(t =>
      Txn(Jsons.optStr(t, "appId").getOrElse(""),
        Jsons.optLong(t, "version").getOrElse(-1L))
    )).orElse(Jsons.optField(n, "protocol").map(p =>
      Protocol(Jsons.optLong(p, "minReaderVersion").getOrElse(1L).toInt,
        Jsons.optField(p, "readerFeatures").map(rf =>
          Jsons.elems(rf).map(_.asText()).toSeq).getOrElse(Seq.empty),
        Jsons.optLong(p, "minWriterVersion").getOrElse(2L).toInt,
        Jsons.optField(p, "writerFeatures").map(wf =>
          Jsons.elems(wf).map(_.asText()).toSeq).getOrElse(Seq.empty))
    )).orElse(Jsons.optField(n, "domainMetadata").map(dm =>
      DomainMetadata(Jsons.optStr(dm, "domain").getOrElse(""),
        Jsons.optStr(dm, "configuration").getOrElse(""),
        Jsons.optBool(dm, "removed").getOrElse(false))))
  }

  private def parseDv(a: JsonNode): Option[DvDescriptor] =
    Jsons.optField(a, "deletionVector").filterNot(_.isNull).map(parseDvNode)

  private def parseDvNode(dv: JsonNode): DvDescriptor =
    DvDescriptor(
      Jsons.optStr(dv, "storageType").getOrElse(
        throw new PlanningError("deletionVector without storageType")),
      Jsons.optStr(dv, "pathOrInlineDv").getOrElse(
        throw new PlanningError("deletionVector without pathOrInlineDv")),
      Jsons.optLong(dv, "offset"),
      Jsons.optLong(dv, "sizeInBytes").getOrElse(0L),
      Jsons.optLong(dv, "cardinality").getOrElse(0L))

  /** The features this reader actually implements. Protocol v3 tables
    * list `readerFeatures` explicitly; any feature outside this set must
    * fail the read — see [[DeltaAction.Protocol]]. v2 (= column mapping,
    * implicit) is readable: [[DeltaWriter]] resolves flat name-mapped
    * schemas via field-metadata physical names. */
  private val SupportedReaderFeatures =
    Set("timestampNtz", "vacuumProtocolCheck", "v2Checkpoint", "columnMapping",
      "deletionVectors")

  private def checkProtocol(tablePath: String, p: Protocol): Unit = {
    val unsupported =
      if (p.minReaderVersion == 3) p.readerFeatures.filterNot(SupportedReaderFeatures)
      else if (p.minReaderVersion > 3) Seq(s"minReaderVersion=${p.minReaderVersion}")
      else Seq.empty
    if (unsupported.nonEmpty)
      throw new PlanningError(
        s"delta table $tablePath requires reader capabilities this engine " +
        s"does not implement (${unsupported.mkString(", ")}); refusing to " +
        "read rather than return wrong rows (e.g. deletion-vector tables " +
        "would resurface deleted data)")
  }

  /** The writer features whose protocol obligations this engine actually
    * discharges — the spec forbids writing to a table whose features we
    * would silently violate, the same way [[SupportedReaderFeatures]]
    * forbids reading one. How each obligation is met:
    * enforcement (`appendOnly`/`invariants`/`checkConstraints`/
    * `generatedColumns` — [[DeltaWriter]] validates or computes on every
    * data write), implementation (`columnMapping`/`deletionVectors`/
    * `changeDataFeed`/`timestampNtz`/`vacuumProtocolCheck`), or
    * preservation (`domainMetadata` — the newest action per domain rides
    * our checkpoints; `identityColumns` — allowed only while the schema
    * carries no `delta.identity.*` column, since we don't maintain the
    * high watermark a live identity column requires). Absent from the
    * set: `rowTracking` (every new add needs a baseRowId we can't
    * assign), `icebergCompatV1/V2` (parallel Iceberg metadata we don't
    * write). */
  private val SupportedWriterFeatures =
    Set("appendOnly", "invariants", "checkConstraints", "generatedColumns",
      "changeDataFeed", "columnMapping", "deletionVectors", "identityColumns",
      "timestampNtz", "vacuumProtocolCheck", "v2Checkpoint", "domainMetadata")

  /** Refuse to COMMIT to a table whose writer protocol this engine cannot
    * honor — the write-side twin of [[checkProtocol]]. A writer that
    * ignores `minWriterVersion`/`writerFeatures` corrupts invariants
    * other writers rely on (e.g. appends rows a CHECK constraint forbids,
    * or breaks row tracking by adding files without baseRowIds); the spec
    * requires refusal, not best-effort. Identity columns gate on the
    * SCHEMA, not just the feature flag: the feature is harmless until a
    * column actually carries `delta.identity.*` metadata, at which point
    * any append must maintain its high watermark. No-op on a path with
    * no log yet (first write defines the protocol). */
  def checkWriteProtocol(tablePath: String): Unit =
    latestSnapshot(tablePath).foreach { snap =>
      snap.protocol.foreach { p =>
        val unsupported =
          if (p.minWriterVersion == 7) p.writerFeatures.filterNot(SupportedWriterFeatures)
          else if (p.minWriterVersion > 7) Seq(s"minWriterVersion=${p.minWriterVersion}")
          else Seq.empty
        if (unsupported.nonEmpty)
          throw new PlanningError(
            s"delta table $tablePath requires writer capabilities this " +
            s"engine does not implement (${unsupported.mkString(", ")}); " +
            "refusing to write rather than corrupt invariants other " +
            "writers rely on")
        val identityPossible = p.minWriterVersion == 6 ||
          (p.minWriterVersion == 7 && p.writerFeatures.contains("identityColumns"))
        if (identityPossible &&
            snap.schema.exists(_.fields.exists(_.metadata.json.contains("delta.identity."))))
          throw new PlanningError(
            s"delta table $tablePath has identity columns; this engine " +
            "does not maintain identity high watermarks — refusing to " +
            "write rather than mint colliding identity values")
      }
    }

  // ---- parquet checkpoints (delta protocol `_last_checkpoint`) -----------

  private val SinglePartRe = """(\d{20})\.checkpoint\.parquet""".r
  private val MultiPartRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r

  def lastCheckpointPath(tablePath: String): Path =
    new Path(logDir(tablePath), "_last_checkpoint")

  /** The `_last_checkpoint` pointer, validated against the files it names
    * (the protocol treats it as a hint; [[snapshot]] finds checkpoints in
    * its own listing, so a stale pointer misleads no replay). */
  def lastCheckpoint(tablePath: String): Option[CheckpointInstance] = {
    val p = lastCheckpointPath(tablePath)
    if (!Fs.exists(p, conf)) return None
    val n = Fs.readJson(p, conf)
    val inst = CheckpointInstance(
      n.get("version").asLong(),
      Jsons.optLong(n, "parts").map(_.toInt))
    if (checkpointFiles(tablePath, inst).forall(Fs.exists(_, conf))) Some(inst)
    else None
  }

  /** All complete checkpoint instances found by scanning the log dir
    * (multi-part instances count only when every part is present). */
  def listCheckpoints(tablePath: String): Seq[CheckpointInstance] =
    completeCheckpoints(Fs.list(logDir(tablePath), conf).map(_.getPath.getName))

  private def completeCheckpoints(names: Seq[String]): Seq[CheckpointInstance] = {
    val singles = names.collect { case SinglePartRe(v) =>
      CheckpointInstance(v.toLong, None) }
    val multis = names.collect { case MultiPartRe(v, part, total) =>
      (v.toLong, part.toInt, total.toInt) }
      .groupBy { case (v, _, total) => (v, total) }
      .collect { case ((v, total), parts)
          if parts.map(_._2).toSet == (1 to total).toSet =>
        CheckpointInstance(v, Some(total)) }
    (singles ++ multis).sortBy(_.version)
  }

  def checkpointFiles(tablePath: String, cp: CheckpointInstance): Seq[Path] =
    cp.parts match {
      case None => Seq(new Path(logDir(tablePath), f"${cp.version}%020d.checkpoint.parquet"))
      case Some(n) => (1 to n).map(i =>
        new Path(logDir(tablePath), f"${cp.version}%020d.checkpoint.$i%010d.$n%010d.parquet"))
    }

  private def grpField(g: Group, f: String): Option[Group] =
    if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
      Some(g.getGroup(f, 0)) else None
  private def strField(g: Group, f: String): Option[String] =
    if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
      Some(g.getString(f, 0)) else None
  private def longField(g: Group, f: String): Option[Long] =
    if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
      Some(g.getLong(f, 0)) else None
  private def boolField(g: Group, f: String): Option[Boolean] =
    if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
      Some(g.getBoolean(f, 0)) else None
  private def intField(g: Group, f: String): Option[Int] =
    if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
      scala.util.Try(g.getInteger(f, 0)).toOption
        .orElse(scala.util.Try(g.getLong(f, 0).toInt).toOption)
    else None
  /** A parquet MAP<string,string> column (repeated `key_value` groups —
    * how delta-spark checkpoints store metaData `configuration` and add
    * `partitionValues`, and how ours do since round 8). A present-but-
    * empty map reads as Some(empty) — "explicitly cleared" is distinct
    * from "field absent". */
  private def mapField(g: Group, f: String): Option[Map[String, String]] =
    if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
      scala.util.Try {
        val m = g.getGroup(f, 0)
        val kv = if (m.getType.containsField("key_value")) "key_value" else "map"
        (0 until m.getFieldRepetitionCount(kv)).map { i =>
          val e = m.getGroup(kv, i)
          e.getString("key", 0) ->
            (if (e.getFieldRepetitionCount("value") > 0) e.getString("value", 0)
             else "")
        }.toMap
      }.toOption
    else None

  /** A parquet LIST<string> column (3-level `list`/`element` layout —
    * how delta-spark checkpoints store protocol reader/writerFeatures,
    * and how ours do since round 9). None when absent or unparseable —
    * the caller decides whether unparseable features are fatal. */
  private def listStrField(g: Group, f: String): Option[Seq[String]] =
    if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
      scala.util.Try {
        val lg = g.getGroup(f, 0)
        val rep = if (lg.getType.containsField("list")) "list" else "array"
        (0 until lg.getFieldRepetitionCount(rep)).map { i =>
          val e = lg.getGroup(rep, i)
          e.getString("element", 0)
        }.toSeq
      }.toOption
    else None

  /** The protocol's checkpoint deletionVector struct (offset and
    * sizeInBytes are int32 in the checkpoint schema). */
  private def parseDvGroup(g: Group): Option[DvDescriptor] =
    for {
      st <- strField(g, "storageType")
      p <- strField(g, "pathOrInlineDv")
    } yield DvDescriptor(st, p,
      intField(g, "offset").map(_.toLong),
      intField(g, "sizeInBytes").map(_.toLong).getOrElse(0L),
      longField(g, "cardinality").getOrElse(0L))

  /** Read the add/remove/metaData actions out of a checkpoint's parquet
    * part files (one row per action, each action kind a nullable struct
    * column — delta-spark's checkpoint schema). */
  def readCheckpointActions(tablePath: String, cp: CheckpointInstance): Seq[DeltaAction] = {
    val out = Seq.newBuilder[DeltaAction]
    checkpointFiles(tablePath, cp).foreach { file =>
      DeltaLogReader.filesRead.incrementAndGet()
      val reader = ParquetReader.builder(new GroupReadSupport(), file)
        .withConf(conf).build()
      try {
        Iterator.continually(reader.read()).takeWhile(_ != null).foreach { rec =>
          grpField(rec, "add").foreach { a =>
            strField(a, "path").foreach(p => out += AddFile(p,
              longField(a, "size").getOrElse(0L),
              boolField(a, "dataChange").getOrElse(true),
              strField(a, "stats"),
              // protocol MAP column (ours since round 8 + delta-spark);
              // legacy JSON-string column from our older checkpoints
              mapField(a, "partitionValues")
                .orElse(strField(a, "partitionValuesJson").map(j =>
                  Jsons.fields(Jsons.parse(j))
                    .map { case (k, v) => k -> v.asText() }.toMap))
                .getOrElse(Map.empty),
              // protocol struct column, then the legacy JSON string
              grpField(a, "deletionVector").flatMap(parseDvGroup)
                .orElse(strField(a, "deletionVectorJson")
                  .map(j => parseDvNode(Jsons.parse(j))))))
          }
          grpField(rec, "remove").foreach { r =>
            strField(r, "path").foreach(p => out += RemoveFile(p,
              boolField(r, "dataChange").getOrElse(true)))
          }
          grpField(rec, "metaData").foreach { md =>
            strField(md, "id").foreach { id =>
              // the protocol MAP (delta-spark + ours since round 8), then
              // the legacy JSON string from our older checkpoints; an
              // EMPTY map stays Some("{}") — explicitly cleared properties
              val config = mapField(md, "configuration").map { m =>
                  val o = Jsons.obj()
                  m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
                  Jsons.render(o)
                }
                .orElse(strField(md, "configurationJson"))
              out += MetaData(id, strField(md, "schemaString"), config,
                listStrField(md, "partitionColumns").getOrElse(Seq.empty))
            }
          }
          grpField(rec, "txn").foreach { t =>
            strField(t, "appId").foreach(app =>
              out += Txn(app, longField(t, "version").getOrElse(-1L)))
          }
          grpField(rec, "domainMetadata").foreach { dm =>
            strField(dm, "domain").foreach(d =>
              out += DomainMetadata(d,
                strField(dm, "configuration").getOrElse(""),
                boolField(dm, "removed").getOrElse(false)))
          }
          grpField(rec, "protocol").foreach { p =>
            val v = intField(p, "minReaderVersion").getOrElse(1)
            // 3-level LIST features parse via listStrField (delta-spark's
            // layout + ours since round 9); a v3 protocol whose feature
            // list is ABSENT or unparseable stays conservatively
            // unreadable (v2 = column mapping, resolved at scan time)
            val rf = listStrField(p, "readerFeatures")
            val parsed = Protocol(v,
              rf.getOrElse(
                if (v > 2) Seq(s"checkpoint-declared v$v, features unreadable")
                else Seq.empty),
              intField(p, "minWriterVersion").getOrElse(2),
              listStrField(p, "writerFeatures").getOrElse(Seq.empty))
            if (v > 2) checkProtocol(tablePath, parsed)
            out += parsed
          }
        }
      } finally reader.close()
    }
    out.result()
  }

  // ---- the one replay ------------------------------------------------------

  /** The table at `version`: the kept snapshot folded forward when it is
    * still valid and at or below `version` (see the class doc), else the
    * newest checkpoint at or below `version` with every JSON commit above
    * it folded on top. Throws [[PlanningError]] when `version` is past
    * the log's newest, or when the log is pruned below the replay start
    * with no covering checkpoint or has a gap. */
  def snapshot(tablePath: String, version: Long): DeltaSnapshot =
    replay(tablePath, Some(version)).getOrElse(
      throw new PlanningError(s"no delta log versions <= $version at $tablePath"))

  /** The table at its newest version — the newest JSON commit's, or the
    * newest checkpoint's when every JSON commit expired. None = no log. */
  def latestSnapshot(tablePath: String): Option[DeltaSnapshot] = replay(tablePath, None)

  private def replay(tablePath: String, at: Option[Long]): Option[DeltaSnapshot] = {
    import DeltaLogReader.Cached
    val dir = logDir(tablePath)
    val key = Fs.fs(dir, conf).makeQualified(dir).toString
    // the one listing this read makes
    val listed = Fs.list(dir, conf).map(s => s.getPath.getName -> s).toMap
    val jsons = listed.values.flatMap(s => versionOf(s.getPath.getName).map(_ -> s)).toMap
    val ckpts = completeCheckpoints(listed.keys.toSeq)
    val latest = (jsons.keys ++ ckpts.map(_.version)).maxOption.getOrElse(return None)
    val version = at.getOrElse(latest)
    if (version > latest)
      throw new PlanningError(
        s"delta log at $tablePath has no version $version (latest is $latest)")
    def stamp(s: org.apache.hadoop.fs.FileStatus) = (s.getLen, s.getModificationTime)
    def extend(c: Cached, versions: Seq[Long]): Cached =
      versions.foldLeft(c) { (acc, v) =>
        Cached(acc.snap.fold(v, readCommit(tablePath, v).actions),
          acc.sources + (jsons(v).getPath.getName -> stamp(jsons(v))))
      }
    val hit = DeltaLogReader.cached(key)
    val valid = hit.filter(_.sources.forall { case (name, st) =>
      listed.get(name).exists(stamp(_) == st) })
    val reusable = valid.filter(c => c.snap.version <= version &&
      (c.snap.version + 1 to version).forall(jsons.contains))
    val result = reusable match {
      case Some(c) if c.snap.version == version => return Some(c.snap)
      case Some(c) => extend(c, c.snap.version + 1 to version)
      case None =>
        val cp = ckpts.filter(_.version <= version).lastOption
        val start = cp.fold(0L)(_.version + 1)
        (start to version).find(v => !jsons.contains(v)).foreach { v =>
          if (v == start)
            throw new PlanningError(
              s"delta log at $tablePath is pruned: replay needs version $start " +
              s"but it is gone and no parquet checkpoint at or below $version " +
              "covers it; cannot reconstruct a complete snapshot")
          throw new PlanningError(
            s"delta log at $tablePath has a gap: version $v is missing; " +
            "cannot reconstruct a complete snapshot")
        }
        // a checkpoint's remove rows are tombstones of older versions,
        // never of its own adds
        val base = cp.fold(Cached(DeltaSnapshot.empty(tablePath), Map.empty)) { c =>
          Cached(DeltaSnapshot.empty(tablePath).fold(c.version,
              readCheckpointActions(tablePath, c).filterNot(_.isInstanceOf[RemoveFile])),
            checkpointFiles(tablePath, c).map(f => f.getName -> stamp(listed(f.getName))).toMap)
        }
        extend(base, start to version)
    }
    DeltaLogReader.remember(key, result, if (valid.isEmpty) hit else None)
    Some(result.snap)
  }

  /** First version whose commit timestamp is >= tsMs
    * (reference `delta.py:560-575`). */
  def versionForTimestamp(tablePath: String, tsMs: Long): Option[Long] =
    commitTimes(tablePath).collectFirst { case (v, Some(ts)) if ts >= tsMs => v }

  /** Newest version whose commit timestamp is <= tsMs — delta-spark's
    * `timestampAsOf` time-travel semantics (read the table as it was AT
    * that moment). */
  def versionAtOrBeforeTimestamp(tablePath: String, tsMs: Long): Option[Long] =
    commitTimes(tablePath).collect { case (v, Some(ts)) if ts <= tsMs => v }
      .foldLeft(Option.empty[Long])((_, v) => Some(v))

  /** (version, commit timestamp) of every surviving JSON commit, oldest
    * first, lazily: the newest snapshot's timestamps for the commits it
    * folded, a read of the commit for the older ones (below its
    * checkpoint). A log no snapshot can be built from (pruned, gapped)
    * still answers from its commits. */
  private def commitTimes(tablePath: String): Iterator[(Long, Option[Long])] = {
    val known =
      try latestSnapshot(tablePath).map(_.commitTs).getOrElse(Map.empty[Long, Long])
      catch { case _: PlanningError => Map.empty[Long, Long] }
    listVersions(tablePath).iterator.map(v =>
      v -> known.get(v).orElse(readCommit(tablePath, v).timestampMs))
  }

  /** Resolve a (possibly relative) action path against the table root. */
  def resolvePath(tablePath: String, actionPath: String): String =
    if (actionPath.startsWith("/") || actionPath.contains("://")) actionPath
    else new Path(tablePath, actionPath).toString
}
