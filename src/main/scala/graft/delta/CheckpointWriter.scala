package graft.delta

import graft.core.GraftError
import graft.util.{Fs, Jsons}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Writes Delta-protocol parquet checkpoints and prunes redundant JSON
  * commits — the producer half of [[DeltaLogReader]]'s checkpoint interop
  * (delta-spark checkpoints every 10 commits and expires aged JSON; a
  * 100 TB table's log otherwise grows by one JSON file per commit forever,
  * and every fresh reader replays all of them).
  *
  * The checkpoint is one `%020d.checkpoint.parquet` in `_delta_log` with
  * the standard one-action-per-row layout (nullable `add` / `metaData` /
  * `txn` / `protocol` struct columns — the subset our reader folds; `txn`
  * rows carry every writer's SetTransaction watermark so idempotent-sink
  * state survives log expiry, and the single `protocol` row carries the
  * table's reader/writer requirements so a DV table's 3/7 upgrade
  * survives it too), plus the `_last_checkpoint` pointer. Written
  * driver-side with parquet-mr: the snapshot state is already a
  * driver-resident map, and the exact protocol file name can't come out
  * of a distributed write.
  */
class CheckpointWriter(conf: Configuration, actionsPerPart: Int = 100000) {
  private val log = new DeltaLogReader(conf)

  // Protocol-shaped columns (delta-spark's checkpoint schema subset):
  // partitionValues and configuration are parquet MAPs, deletionVector a
  // struct — a foreign reader following `_last_checkpoint` after log
  // expiry sees standard fields, not private JSON-string encodings. Our
  // reader still parses the legacy *Json columns from older checkpoints.
  private val Schema = MessageTypeParser.parseMessageType(
    """message checkpoint {
      |  optional group add {
      |    required binary path (STRING);
      |    optional int64 size;
      |    optional boolean dataChange;
      |    optional binary stats (STRING);
      |    optional group partitionValues (MAP) {
      |      repeated group key_value {
      |        required binary key (STRING);
      |        optional binary value (STRING);
      |      }
      |    }
      |    optional group deletionVector {
      |      optional binary storageType (STRING);
      |      optional binary pathOrInlineDv (STRING);
      |      optional int32 offset;
      |      optional int32 sizeInBytes;
      |      optional int64 cardinality;
      |    }
      |  }
      |  optional group metaData {
      |    required binary id (STRING);
      |    optional binary schemaString (STRING);
      |    optional group configuration (MAP) {
      |      repeated group key_value {
      |        required binary key (STRING);
      |        optional binary value (STRING);
      |      }
      |    }
      |    optional group partitionColumns (LIST) {
      |      repeated group list {
      |        optional binary element (STRING);
      |      }
      |    }
      |  }
      |  optional group txn {
      |    required binary appId (STRING);
      |    optional int64 version;
      |  }
      |  optional group domainMetadata {
      |    required binary domain (STRING);
      |    optional binary configuration (STRING);
      |    optional boolean removed;
      |  }
      |  optional group protocol {
      |    optional int32 minReaderVersion;
      |    optional int32 minWriterVersion;
      |    optional group readerFeatures (LIST) {
      |      repeated group list {
      |        optional binary element (STRING);
      |      }
      |    }
      |    optional group writerFeatures (LIST) {
      |      repeated group list {
      |        optional binary element (STRING);
      |      }
      |    }
      |  }
      |}""".stripMargin)

  /** Files per checkpoint part (`actionsPerPart`): beyond this the
    * checkpoint splits into the protocol's multi-part layout
    * (`v.checkpoint.i.n.parquet`) so no single parquet file carries an
    * unbounded action list — a 100 TB table's snapshot is millions of add
    * rows. */
  private val ActionsPerPart = math.max(1, actionsPerPart)

  /** Checkpoint the snapshot at `version` (default: latest). Returns the
    * checkpointed version. Idempotent: an existing checkpoint at the same
    * version is left alone. */
  def checkpoint(tablePath: String, versionOpt: Option[Long] = None): Long = {
    val version = versionOpt.orElse(log.latestVersion(tablePath))
      .getOrElse(throw new GraftError(s"not a delta table: $tablePath"))
    val already = log.listCheckpoints(tablePath).exists(_.version == version)
    val instance =
      if (already) log.listCheckpoints(tablePath).find(_.version == version).get
      else {
        // whole actions so per-file stats survive the checkpoint and
        // skipping keeps working on pruned-log tables; one snapshot for the
        // adds, metaData, protocol, layout, watermarks and domains
        val snap = log.snapshot(tablePath, version)
        val state = snap.adds
        val meta = snap.meta
        // the spec's checkpoint metaData carries partitionColumns; without
        // it, a reader replaying an EMPTY partitioned table from this
        // checkpoint (post-expiry, all adds removed) loses the layout
        val partCols = snap.partitionColumns
        val txns = snap.txns
        // domainMetadata preservation (the writer feature's obligation):
        // the newest action per domain — tombstones included — must ride
        // the checkpoint, or expireLogs erases another writer's state
        val domains = snap.domains.values.toSeq.sortBy(_.domain)
        // the spec requires exactly one protocol action per checkpoint:
        // a DV table's reader-3/writer-7 upgrade lives only in JSON
        // commits, so after expireLogs a protocol-less checkpoint leaves
        // foreign readers either unable to load the snapshot or legally
        // defaulting to 1/2 — ignoring deletion vectors and RESURRECTING
        // deleted rows. Resolve from the log; a foreign protocol-less log
        // falls back to what the snapshot itself requires (DV adds
        // present -> 3/7 + deletionVectors, else the base 1/2).
        val protocol = snap.protocol.getOrElse {
          if (state.exists(_.deletionVector.isDefined))
            DeltaAction.Protocol(3, Seq("deletionVectors"), 7, Seq("deletionVectors"))
          else DeltaAction.Protocol(1, Seq.empty, 2, Seq.empty)
        }
        val nParts = math.max(1, (state.size + ActionsPerPart - 1) / ActionsPerPart)
        val inst = CheckpointInstance(version,
          if (nParts > 1) Some(nParts) else None)
        val files = log.checkpointFiles(tablePath, inst)
        val slices = state.grouped(ActionsPerPart).toSeq
          .padTo(nParts, Seq.empty[DeltaAction.AddFile])
        files.zip(slices).zipWithIndex.foreach { case ((target, slice), i) =>
          writePart(target, slice, if (i == 0) meta else None,
            if (i == 0) txns else Map.empty,
            if (i == 0) Some(protocol) else None,
            partCols,
            if (i == 0) domains else Seq.empty)
        }
        inst
      }
    val ptr = Jsons.obj()
    ptr.put("version", version)
    ptr.put("size", 1L)
    instance.parts.foreach(n => ptr.put("parts", n))
    Fs.atomicWriteJson(log.lastCheckpointPath(tablePath), ptr, conf)
    version
  }

  private def writePart(target: org.apache.hadoop.fs.Path,
      state: Seq[DeltaAction.AddFile], meta: Option[TableMeta],
      txns: Map[String, Long] = Map.empty,
      protocol: Option[DeltaAction.Protocol] = None,
      partCols: Seq[String] = Seq.empty,
      domains: Seq[DeltaAction.DomainMetadata] = Seq.empty): Unit = {
    val factory = new SimpleGroupFactory(Schema)
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(target, conf))
      .withType(Schema).withConf(conf).build()
    try {
      protocol.foreach { p =>
        val g = factory.newGroup()
        val pr = g.addGroup("protocol")
        pr.append("minReaderVersion", p.minReaderVersion)
        pr.append("minWriterVersion", p.minWriterVersion)
        // 3-level LIST layout (delta-spark's checkpoint feature lists);
        // v1/v2 protocols omit the lists entirely, as the spec does
        if (p.readerFeatures.nonEmpty) {
          val rf = pr.addGroup("readerFeatures")
          p.readerFeatures.foreach(f => rf.addGroup("list").append("element", f))
        }
        if (p.writerFeatures.nonEmpty) {
          val wf = pr.addGroup("writerFeatures")
          p.writerFeatures.foreach(f => wf.addGroup("list").append("element", f))
        }
        writer.write(g)
      }
      meta.foreach { m =>
        val g = factory.newGroup()
        val md = g.addGroup("metaData")
        md.append("id", m.id)
        m.schemaString.foreach(s => md.append("schemaString", s))
        // the protocol configuration map — an explicitly-empty {} writes
        // an empty map group (present, no entries), preserving the
        // cleared-vs-absent distinction through the checkpoint
        m.configurationJson.foreach { c =>
          val cg = md.addGroup("configuration")
          Jsons.fields(Jsons.parse(c)).toSeq.sortBy(_._1).foreach { case (k, v) =>
            val e = cg.addGroup("key_value")
            e.append("key", k)
            e.append("value", v.asText())
          }
        }
        // always present (empty list = unpartitioned), like delta-spark's
        val pc = md.addGroup("partitionColumns")
        partCols.foreach(c => pc.addGroup("list").append("element", c))
        writer.write(g)
      }
      txns.toSeq.sortBy(_._1).foreach { case (appId, v) =>
        val g = factory.newGroup()
        val t = g.addGroup("txn")
        t.append("appId", appId)
        t.append("version", v)
        writer.write(g)
      }
      domains.foreach { d =>
        val g = factory.newGroup()
        val dm = g.addGroup("domainMetadata")
        dm.append("domain", d.domain)
        dm.append("configuration", d.configurationJson)
        dm.append("removed", d.removed)
        writer.write(g)
      }
      state.foreach { a =>
        val g = factory.newGroup()
        val add = g.addGroup("add")
        add.append("path", a.path)
        add.append("size", a.size)
        add.append("dataChange", true)
        a.stats.foreach(s => add.append("stats", s))
        if (a.partitionValues.nonEmpty) {
          val pv = add.addGroup("partitionValues")
          a.partitionValues.toSeq.sortBy(_._1).foreach { case (k, v) =>
            val e = pv.addGroup("key_value")
            e.append("key", k)
            e.append("value", v)
          }
        }
        a.deletionVector.foreach { d =>
          val dv = add.addGroup("deletionVector")
          dv.append("storageType", d.storageType)
          dv.append("pathOrInlineDv", d.pathOrInlineDv)
          d.offset.foreach(o => dv.append("offset", o.toInt))
          dv.append("sizeInBytes", d.sizeInBytes.toInt)
          dv.append("cardinality", d.cardinality)
        }
        writer.write(g)
      }
    } finally writer.close()
  }

  /** Delete JSON commits strictly below (newest checkpoint − keepVersions)
    * — they are redundant for snapshot reconstruction once a checkpoint
    * covers them; `keepVersions` retains a tail for log-time-travel /
    * `versionForTimestamp` / CDF history. Returns the number deleted.
    * No checkpoint → nothing is deleted (pruning without a replay base
    * would make the table unreadable, which the reader now detects). */
  def expireLogs(tablePath: String, keepVersions: Int = 0): Int = {
    val ckpt = log.listCheckpoints(tablePath).lastOption.getOrElse(return 0)
    val cutoff = ckpt.version - keepVersions
    val doomed = log.listVersions(tablePath).filter(_ < cutoff)
    doomed.foreach(v => Fs.delete(log.commitPath(tablePath, v), recursive = false, conf))
    doomed.size
  }
}
