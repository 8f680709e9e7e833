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
import scala.collection.concurrent.TrieMap

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
    * batches at-or-below [[DeltaLogReader.lastTxnVersion]] gets
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

/** Latest-known table metadata; `atVersion` is the newest log version the
  * resolution scan covered (the meta is current as of it). */
case class TableMeta(id: String, schemaString: Option[String], atVersion: Long,
    configurationJson: Option[String] = None)

/** The table as of `version`, from ONE replay of its log
  * ([[DeltaLogReader.snapshot]]): the active adds (stats, partition
  * values and deletion vectors kept, sorted by path), the newest metaData
  * and protocol, and the metaData's LOGICAL `partitionColumns`. A write
  * plans from one snapshot and commits against its version, so every
  * question it asks of the table (files, schema, layout, properties)
  * costs no further log read. */
case class DeltaSnapshot(tablePath: String, version: Long,
    adds: Seq[DeltaAction.AddFile], meta: Option[TableMeta],
    protocol: Option[DeltaAction.Protocol], partitionColumns: Seq[String]) {
  lazy val schema: Option[org.apache.spark.sql.types.StructType] =
    meta.flatMap(_.schemaString).map(s => org.apache.spark.sql.types.DataType
      .fromJson(s).asInstanceOf[org.apache.spark.sql.types.StructType])
  def configurationJson: Option[String] = meta.flatMap(_.configurationJson)
}

object DeltaLogReader {
  /** Log files (JSON commits and checkpoint parts) parsed by every reader
    * since JVM start — test instrumentation for "a write replays its log
    * once", where the writer's own reader is out of reach. */
  val filesRead = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** Reader for a Delta table's `_delta_log`: version listing, JSON-lines
  * action parsing, parquet-checkpoint interop, and snapshot-state
  * reconstruction with an optional snapshot cache.
  *
  * Re-implements (no delta-spark jars on this classpath) the log-replay
  * core of delta-spark's `Snapshot`, following the reference's design
  * (`checkpoints/delta.py:425-499`): fold add/remove actions in version
  * order. Two complementary replay bases bound the cost:
  *
  *  - our own JSON snapshot cache every `SnapshotEvery` versions
  *    (reference `delta.py:110-187`), and
  *  - the table's own `*.checkpoint.parquet` files (written by
  *    delta-spark, pointed to by `_delta_log/_last_checkpoint`), which
  *    make tables with pruned JSON logs readable at all: delta-spark
  *    checkpoints every 10 commits and log-retention deletes aged JSON,
  *    so a foreign table usually has no version-0 commit. Replay then
  *    starts from the newest checkpoint at or below the target version.
  *    A pruned log with no usable checkpoint is an error, never a
  *    silent partial file set.
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

  val SnapshotEvery = 100
  val MaxSnapshots = 2

  /** Commit-file reads since construction — instrumentation for tests
    * asserting the amortized (non-O(versions)) metadata path. */
  @volatile var commitReadCount: Long = 0L

  /** Per-table memo of the newest metaData seen, so repeated `tableId` /
    * `tableSchemaString` calls (one per planned batch) scan only commits
    * newer than the memo instead of the whole log. Invalidated when the
    * table's latest version drops below the memo (log replaced/reset —
    * delta tables always restart numbering at 0 on replacement). */
  private val metaMemo = TrieMap.empty[String, TableMeta]

  /** Per-table commit timestamps (version -> epoch ms), harvested for free
    * whenever a commit is parsed and persisted inside the snapshot cache —
    * so timestamp start-offset resolution stops being O(versions) commit
    * re-reads on tables whose log was already replayed once. */
  private val tsMemo = TrieMap.empty[String, Map[Long, Long]]

  private def memoTs(tablePath: String, entries: Map[Long, Long]): Unit =
    if (entries.nonEmpty)
      tsMemo.updateWith(tablePath) {
        case Some(m) => Some(m ++ entries)
        case None => Some(entries)
      }

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
      commit.timestampMs.foreach(ts => memoTs(tablePath, Map(version -> ts)))
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
  /** Memoized latest protocol per table. Protocol actions only upgrade,
    * so a cached answer at version v stays correct until a NEWER commit
    * carries a protocol action — the refresh folds only commits above
    * the cached version (same amortization as the meta memo; a replaced
    * table, detected by any cache/version mismatch, falls back to a full
    * [[resolveProtocol]]). Keeps the per-commit write gate O(new
    * commits), not O(log length). */
  private val protocolMemo = TrieMap.empty[String, (Long, Option[Protocol])]

  def latestProtocol(tablePath: String): Option[Protocol] =
    latestVersion(tablePath).flatMap { v =>
      protocolMemo.get(tablePath) match {
        case Some((cv, cp)) if cv == v => cp
        case Some((cv, cp)) if cv < v =>
          val newer = listVersions(tablePath).filter(x => x > cv && x <= v)
            .flatMap(x => readCommit(tablePath, x).actions
              .collectFirst { case p: Protocol => p })
            .lastOption
          val res = newer.orElse(cp)
          protocolMemo.put(tablePath, (v, res))
          res
        case _ =>
          val res = resolveProtocol(tablePath, v)
          protocolMemo.put(tablePath, (v, res))
          res
      }
    }

  def checkWriteProtocol(tablePath: String): Unit = {
      latestProtocol(tablePath).foreach { p =>
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
        if (identityPossible) {
          val hasIdentity = tableSchemaString(tablePath)
            .map(s => org.apache.spark.sql.types.DataType.fromJson(s)
              .asInstanceOf[org.apache.spark.sql.types.StructType])
            .exists(_.fields.exists(_.metadata.json.contains("delta.identity.")))
          if (hasIdentity)
            throw new PlanningError(
              s"delta table $tablePath has identity columns; this engine " +
              "does not maintain identity high watermarks — refusing to " +
              "write rather than mint colliding identity values")
        }
      }
    }

  // ---- parquet checkpoints (delta protocol `_last_checkpoint`) -----------

  private val SinglePartRe = """(\d{20})\.checkpoint\.parquet""".r
  private val MultiPartRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r

  def lastCheckpointPath(tablePath: String): Path =
    new Path(logDir(tablePath), "_last_checkpoint")

  /** The `_last_checkpoint` pointer, validated against the files it names
    * (the protocol treats it as a hint — a stale pointer falls through to
    * the directory scan in [[checkpointAtOrBelow]]). */
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
  def listCheckpoints(tablePath: String): Seq[CheckpointInstance] = {
    val names = Fs.list(logDir(tablePath), conf).map(_.getPath.getName)
    val singles = names.collect { case SinglePartRe(v) =>
      CheckpointInstance(v.toLong, None) }
    val multis = names.collect { case MultiPartRe(v, part, total) =>
      (v.toLong, part.toInt, total.toInt) }
      .groupBy { case (v, _, total) => (v, total) }
      .collect { case ((v, total), parts)
          if parts.map(_._2).toSet == (1 to total).toSet =>
        CheckpointInstance(v, Some(total)) }
    (singles ++ multis).toSeq.sortBy(_.version)
  }

  /** Newest complete checkpoint at or below `version`: the
    * `_last_checkpoint` pointer when it qualifies, else a directory scan. */
  def checkpointAtOrBelow(tablePath: String, version: Long): Option[CheckpointInstance] =
    lastCheckpoint(tablePath).filter(_.version <= version)
      .orElse(listCheckpoints(tablePath).filter(_.version <= version).lastOption)

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

  // ---- metadata (amortized: memo + snapshot cache + checkpoint) ----------

  /** Newest table metadata. Cost is O(commits newer than the last answer):
    * the scan starts from the in-memory memo, else the persisted snapshot
    * cache's stored meta, else the newest parquet checkpoint — a full
    * backward JSON scan happens only on the first contact with an
    * uncached, checkpoint-less table. A replaced table is detected by its
    * version numbering restarting below the memo (the delta-universal
    * behavior); `verifyTableId` upstream guards the persisted id. */
  def resolveMeta(tablePath: String, cacheDir: Option[Path] = None): Option[TableMeta] = {
    val latest = latestVersion(tablePath)
    val memo = metaMemo.get(tablePath).filter(m => latest.exists(_ >= m.atVersion))
    if (memo.isEmpty) { metaMemo.remove(tablePath); tsMemo.remove(tablePath) }
    val floor: Option[TableMeta] = memo
      .orElse(cacheDir.flatMap(d => latest.flatMap(l => newestCachedAtOrBelow(d, l)))
        .flatMap(cs => cs.meta))
      .orElse(latest.flatMap(l => checkpointAtOrBelow(tablePath, l)).flatMap { cp =>
        readCheckpointActions(tablePath, cp)
          .collectFirst { case m: MetaData =>
            TableMeta(m.id, m.schemaString, cp.version, m.configurationJson) }
      })
    val toScan = listVersions(tablePath).filter(v => floor.forall(_.atVersion < v))
    val fresh = toScan.reverseIterator
      .map(v => (v, readCommit(tablePath, v).actions.collectFirst { case m: MetaData => m }))
      .collectFirst { case (v, Some(m)) => TableMeta(m.id,
        m.schemaString.orElse(floor.flatMap(_.schemaString)), v,
        m.configurationJson.orElse(floor.flatMap(_.configurationJson))) }
    // the scan covered every commit newer than the floor, so whatever we
    // resolved is current as of `latest` — memo that version so the next
    // call scans only commits newer still
    val resolved = fresh.orElse(floor)
      .map(m => latest.fold(m)(l => m.copy(atVersion = math.max(m.atVersion, l))))
    resolved.foreach(m => metaMemo.put(tablePath, m))
    resolved
  }

  /** Current table id (newest metaData action; amortized via [[resolveMeta]]). */
  def tableId(tablePath: String, cacheDir: Option[Path] = None): Option[String] =
    resolveMeta(tablePath, cacheDir).map(_.id).filter(_.nonEmpty)

  /** Latest schemaString (amortized via [[resolveMeta]]). */
  def tableSchemaString(tablePath: String, cacheDir: Option[Path] = None): Option[String] =
    resolveMeta(tablePath, cacheDir).flatMap(_.schemaString)

  /** Latest metaData `configuration` as raw JSON (amortized via
    * [[resolveMeta]]) — table properties a write must carry forward. */
  def tableConfigurationJson(tablePath: String,
      cacheDir: Option[Path] = None): Option[String] =
    resolveMeta(tablePath, cacheDir).flatMap(_.configurationJson)

  /** First version whose commit timestamp is >= tsMs
    * (reference `delta.py:560-575`). Timestamps ride the same memo +
    * snapshot cache as table meta: versions the memo or a persisted
    * snapshot already covers cost zero commit reads; only uncovered
    * commits (typically the post-snapshot tail) are opened, and those
    * reads land in the memo for the next call. */
  def versionForTimestamp(tablePath: String, tsMs: Long,
      cacheDir: Option[Path] = None): Option[Long] = {
    val versions = listVersions(tablePath)
    for (d <- cacheDir; l <- versions.lastOption; cs <- newestCachedAtOrBelow(d, l))
      memoTs(tablePath, cs.commitTs)
    versions.find { v =>
      tsMemo.getOrElse(tablePath, Map.empty).get(v)
        .orElse(readCommit(tablePath, v).timestampMs)
        .exists(_ >= tsMs)
    }
  }

  /** Newest version whose commit timestamp is <= tsMs — delta-spark's
    * `timestampAsOf` time-travel semantics (read the table as it was AT
    * that moment). Same memo/cache amortization as
    * [[versionForTimestamp]]. */
  def versionAtOrBeforeTimestamp(tablePath: String, tsMs: Long,
      cacheDir: Option[Path] = None): Option[Long] = {
    val versions = listVersions(tablePath)
    for (d <- cacheDir; l <- versions.lastOption; cs <- newestCachedAtOrBelow(d, l))
      memoTs(tablePath, cs.commitTs)
    versions.filter { v =>
      tsMemo.getOrElse(tablePath, Map.empty).get(v)
        .orElse(readCommit(tablePath, v).timestampMs)
        .exists(_ <= tsMs)
    }.lastOption
  }

  /** Newest committed SetTransaction version for `appId` — the
    * idempotent-writer watermark. Scans JSON commits NEWEST first (a sink
    * stamping every batch is found in the most recent commit or two) and
    * falls back to the newest checkpoint's txn rows, so an expiry-pruned
    * table still answers from checkpoint + surviving tail. */
  def lastTxnVersion(tablePath: String, appId: String): Option[Long] = {
    val ckpt = latestVersion(tablePath)
      .orElse(listCheckpoints(tablePath).lastOption.map(_.version))
      .flatMap(l => checkpointAtOrBelow(tablePath, l))
    // newest-first through the commits ABOVE the checkpoint (a sink
    // stamping every batch hits in the first commit or two); anything
    // below the checkpoint cannot beat the checkpointed watermark
    val floor = ckpt.map(_.version).getOrElse(-1L)
    val fromJson = listVersions(tablePath).filter(_ > floor).reverseIterator
      .map(v => readCommit(tablePath, v).txns.filter(_.appId == appId))
      .collectFirst { case ts if ts.nonEmpty => ts.map(_.version).max }
    fromJson.orElse(ckpt.flatMap { cp =>
      val ts = readCheckpointActions(tablePath, cp)
        .collect { case t: Txn if t.appId == appId => t.version }
      if (ts.isEmpty) None else Some(ts.max)
    })
  }

  /** All writers' SetTransaction watermarks at `version` (newest per
    * appId) — what a checkpoint must carry so expiry can't lose them. */
  def txnState(tablePath: String, version: Long): Map[String, Long] = {
    val ckpt = checkpointAtOrBelow(tablePath, version)
    val base: Map[String, Long] = ckpt
      .map(cp => readCheckpointActions(tablePath, cp)
        .collect { case t: Txn => t.appId -> t.version }.toMap)
      .getOrElse(Map.empty)
    // only commits ABOVE the checkpoint replay on top — a surviving older
    // commit must not roll a watermark back below the checkpointed value
    val start = ckpt.map(_.version + 1).getOrElse(0L)
    listVersions(tablePath).filter(v => v >= start && v <= version)
      .foldLeft(base) { (acc, v) =>
        readCommit(tablePath, v).txns.foldLeft(acc)((m, t) => m + (t.appId -> t.version))
      }
  }

  /** Newest `domainMetadata` action per domain at `version` — what a
    * checkpoint must carry so `expireLogs` can't erase another writer's
    * per-domain state. Tombstones (`removed=true`) are KEPT: a checkpoint
    * that drops one would let a surviving older commit resurrect the
    * removed domain on the next replay. Same replay shape as
    * [[txnState]]: newest checkpoint at-or-below as the base, only the
    * JSON commits above it fold on top. */
  def domainMetadataState(tablePath: String,
      version: Long): Seq[DeltaAction.DomainMetadata] = {
    val ckpt = checkpointAtOrBelow(tablePath, version)
    val base: Map[String, DeltaAction.DomainMetadata] = ckpt
      .map(cp => readCheckpointActions(tablePath, cp)
        .collect { case d: DomainMetadata => d.domain -> d }.toMap)
      .getOrElse(Map.empty)
    val start = ckpt.map(_.version + 1).getOrElse(0L)
    listVersions(tablePath).filter(v => v >= start && v <= version)
      .foldLeft(base) { (acc, v) =>
        readCommit(tablePath, v).actions.foldLeft(acc) {
          case (m, d: DomainMetadata) => m + (d.domain -> d)
          case (m, _) => m
        }
      }.values.toSeq.sortBy(_.domain)
  }

  /** Last protocol action at or below `version` — the table's protocol
    * requirements THEN. Protocol actions only ever upgrade (the spec
    * forbids downgrades), so the newest one wins. JSON commits newest
    * first, the newest checkpoint at-or-below as the fallback base (a
    * checkpoint must carry the protocol or foreign readers of an
    * expiry-pruned log can't load the snapshot at all). */
  def resolveProtocol(tablePath: String, version: Long): Option[DeltaAction.Protocol] =
    listVersions(tablePath).filter(_ <= version).reverseIterator
      .map(v => readCommit(tablePath, v).actions
        .collectFirst { case p: Protocol => p })
      .collectFirst { case Some(p) => p }
      .orElse(checkpointAtOrBelow(tablePath, version).flatMap(cp =>
        readCheckpointActions(tablePath, cp)
          .collectFirst { case p: Protocol => p }))

  /** Last metaData action at or below `version` (the schema the table had
    * THEN — what a restore must revert to). JSON commits first, newest
    * checkpoint at-or-below as the fallback base. */
  def metaAt(tablePath: String, version: Long): Option[TableMeta] =
    listVersions(tablePath).filter(_ <= version).reverseIterator
      .map(v => (v, readCommit(tablePath, v).actions.collectFirst { case m: MetaData => m }))
      .collectFirst { case (v, Some(m)) =>
        TableMeta(m.id, m.schemaString, v, m.configurationJson) }
      .orElse(checkpointAtOrBelow(tablePath, version).flatMap(cp =>
        readCheckpointActions(tablePath, cp)
          .collectFirst { case m: MetaData =>
            TableMeta(m.id, m.schemaString, cp.version, m.configurationJson) }))

  /** Logical `partitionColumns` of the last metaData action at or below
    * `version` — the protocol's record of the hive layout, needed when a
    * table has NO active add files left to infer it from (a fully
    * deleted partitioned table must not silently de-partition on its
    * next write or ALTER). */
  def partitionColumnsAt(tablePath: String, version: Long): Seq[String] =
    snapshot(tablePath, version).partitionColumns

  /** Replay the log once up to `version`: the newest checkpoint at or
    * below it, then every JSON commit above the checkpoint (removes before
    * adds within a commit, so a deletion-vector re-add of the same path
    * survives). Throws [[PlanningError]] when the log is pruned below the
    * replay start with no covering checkpoint. The replay also seeds the
    * metaData and protocol memos, so the commit's write-protocol gate and
    * metadata lookups read nothing more while the table stays at
    * `version`. */
  def snapshot(tablePath: String, version: Long): DeltaSnapshot = {
    val ckpt = checkpointAtOrBelow(tablePath, version)
    val replayStart = ckpt.map(_.version + 1).getOrElse(0L)
    val replay = listVersions(tablePath).filter(v => v >= replayStart && v <= version)
    replay.headOption.foreach { h =>
      if (h != replayStart)
        throw new PlanningError(
          s"delta log at $tablePath is pruned below $h with no covering checkpoint")
    }
    val adds = scala.collection.mutable.HashMap.empty[String, AddFile]
    var meta: Option[TableMeta] = None
    var protocol: Option[Protocol] = None
    var partCols = Seq.empty[String]
    def fold(v: Long, actions: Seq[DeltaAction]): Unit = {
      actions.foreach {
        case r: RemoveFile => adds.remove(r.path)
        case m: MetaData =>
          meta = Some(TableMeta(m.id, m.schemaString.orElse(meta.flatMap(_.schemaString)),
            v, m.configurationJson.orElse(meta.flatMap(_.configurationJson))))
          partCols = m.partitionColumns
        case p: Protocol => protocol = Some(p)
        case _ =>
      }
      actions.foreach { case a: AddFile => adds(a.path) = a; case _ => }
    }
    // a checkpoint's remove rows are tombstones of older versions, never
    // of its own adds
    ckpt.foreach(c => fold(c.version,
      readCheckpointActions(tablePath, c).filterNot(_.isInstanceOf[RemoveFile])))
    replay.foreach(v => fold(v, readCommit(tablePath, v).actions))
    if (metaMemo.get(tablePath).forall(_.atVersion <= version))
      meta.foreach(m => metaMemo.put(tablePath, m.copy(atVersion = version)))
    if (protocolMemo.get(tablePath).forall(_._1 <= version))
      protocolMemo.put(tablePath, (version, protocol))
    DeltaSnapshot(tablePath, version, adds.values.toSeq.sortBy(_.path), meta,
      protocol, partCols)
  }

  /** Active file set (path -> size) at `version`.
    *
    * Replay base: the newest of (our cached JSON snapshot, the table's own
    * parquet checkpoint) at or below `version`; JSON commits after the
    * base are folded on top. Throws [[PlanningError]] instead of returning
    * a partial file set when the log is pruned below the replay start
    * (no version-0 commit and no checkpoint) or has a gap.
    * Result sorted by path for deterministic batching. */
  def snapshotState(tablePath: String, version: Long,
      cacheDir: Option[Path] = None): Seq[(String, Long)] = {
    val jsonVersions = listVersions(tablePath).filter(_ <= version)
    val cached = cacheDir.flatMap(d => newestCachedAtOrBelow(d, version))
    val ckpt = checkpointAtOrBelow(tablePath, version)
      .filter(c => cached.forall(_.version < c.version))

    val (baseVersion, startState, baseMeta) = ckpt match {
      case Some(c) =>
        val actions = readCheckpointActions(tablePath, c)
        val st = actions.collect { case a: AddFile => a.path -> a.size }.toMap
        val m = actions.collectFirst { case md: MetaData =>
          TableMeta(md.id, md.schemaString, c.version, md.configurationJson) }
        (Some(c.version), st, m)
      case None => cached match {
        case Some(cs) => (Some(cs.version), cs.files, cs.meta)
        case None => (None, Map.empty[String, Long], None)
      }
    }

    if (baseVersion.isEmpty && jsonVersions.isEmpty)
      throw new PlanningError(s"no delta log versions <= $version at $tablePath")

    val replay = jsonVersions.filter(v => baseVersion.forall(_ < v))
    val replayStart = baseVersion.map(_ + 1).getOrElse(0L)
    replay.headOption.foreach { h =>
      if (h != replayStart)
        throw new PlanningError(
          s"delta log at $tablePath is pruned: replay needs version $replayStart " +
          s"but the earliest surviving JSON commit <= $version is $h and no " +
          "parquet checkpoint covers the gap; cannot reconstruct a complete snapshot")
    }
    replay.zipWithIndex.foreach { case (v, i) =>
      if (v != replayStart + i)
        throw new PlanningError(
          s"delta log at $tablePath has a gap: version ${replayStart + i} is " +
          s"missing (next surviving commit is $v); cannot reconstruct a complete snapshot")
    }

    var meta = baseMeta
    val state = replay.foldLeft(startState) { (acc, v) =>
      val commit = readCommit(tablePath, v)
      commit.actions.collectFirst { case m: MetaData => m }.foreach { md =>
        meta = Some(TableMeta(md.id,
          md.schemaString.orElse(meta.flatMap(_.schemaString)), v,
          md.configurationJson.orElse(meta.flatMap(_.configurationJson))))
      }
      val afterRemoves = commit.removes.foldLeft(acc)((m, r) => m - r.path)
      commit.adds.foldLeft(afterRemoves)((m, a) => m + (a.path -> a.size))
    }
    // replay covered every commit <= version: meta is current as of it
    meta.foreach(m => metaMemo.put(tablePath,
      m.copy(atVersion = math.max(m.atVersion, version))))

    // Re-snapshot once replay distance exceeds SnapshotEvery — a bounded
    // write amortized over >= SnapshotEvery planning calls (writing every
    // call, as the reference does, is O(files) driver I/O per batch).
    cacheDir.foreach { d =>
      if (version - baseVersion.getOrElse(-1L) >= SnapshotEvery)
        writeSnapshot(tablePath, d, version, state, meta)
    }
    state.toSeq.sortBy(_._1)
  }

  // ---- snapshot cache (reference delta.py:110-187) -----------------------

  private[delta] case class CachedSnapshot(version: Long, files: Map[String, Long],
      metaId: Option[String], schemaString: Option[String],
      commitTs: Map[Long, Long] = Map.empty,
      configurationJson: Option[String] = None) {
    def meta: Option[TableMeta] =
      metaId.map(id => TableMeta(id, schemaString, version, configurationJson))
  }

  private def snapPath(dir: Path, version: Long) = new Path(dir, f"snapshot_$version%020d.json")

  private def listSnapshots(dir: Path): Seq[Long] =
    Fs.list(dir, conf).flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith("snapshot_") && n.endsWith(".json"))
        Some(n.stripPrefix("snapshot_").stripSuffix(".json").toLong)
      else None
    }.sorted

  private def newestCachedAtOrBelow(dir: Path, version: Long): Option[CachedSnapshot] =
    listSnapshots(dir).filter(_ <= version).lastOption.map { v =>
      val n = Fs.readJson(snapPath(dir, v), conf)
      CachedSnapshot(v,
        Jsons.fields(n.get("files")).map { case (p, sz) => p -> sz.asLong() }.toMap,
        Jsons.optStr(n, "meta_id"), Jsons.optStr(n, "schema_string"),
        Jsons.optField(n, "commit_ts").map(ct =>
          Jsons.fields(ct).map { case (v2, ts) => v2.toLong -> ts.asLong() }.toMap)
          .getOrElse(Map.empty),
        Jsons.optStr(n, "configuration_json"))
    }

  private def writeSnapshot(tablePath: String, dir: Path, version: Long,
      state: Map[String, Long], meta: Option[TableMeta]): Unit = {
    if (listSnapshots(dir).contains(version)) return
    val o = Jsons.obj()
    o.put("version", version)
    meta.foreach { m =>
      o.put("meta_id", m.id)
      m.schemaString.foreach(s => o.put("schema_string", s))
      m.configurationJson.foreach(c => o.put("configuration_json", c))
    }
    val files = Jsons.obj()
    state.foreach { case (p, sz) => files.put(p, sz) }
    o.set[JsonNode]("files", files)
    // commit timestamps the replay just harvested: persisting them makes
    // timestamp start-offset resolution O(post-snapshot tail) forever after
    val ts = Jsons.obj()
    tsMemo.getOrElse(tablePath, Map.empty).filter(_._1 <= version)
      .toSeq.sortBy(_._1).foreach { case (v, t) => ts.put(v.toString, t) }
    o.set[JsonNode]("commit_ts", ts)
    Fs.atomicWriteJson(snapPath(dir, version), o, conf)
    // prune: keep newest MaxSnapshots
    val all = listSnapshots(dir)
    all.dropRight(MaxSnapshots).foreach(v =>
      Fs.delete(snapPath(dir, v), recursive = false, conf))
  }

  /** Resolve a (possibly relative) action path against the table root. */
  def resolvePath(tablePath: String, actionPath: String): String =
    if (actionPath.startsWith("/") || actionPath.contains("://")) actionPath
    else new Path(tablePath, actionPath).toString
}
