package graft

import com.fasterxml.jackson.databind.JsonNode
import graft.core.WriteAheadLog
import graft.util.{Fs, Jsons}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Checkpoint maintenance: cleanup, truncate, reset, inspect
  * (reference `src/polars_incremental/maintenance.py:43-254`). Everything is
  * driver-side JSON housekeeping over the WAL layout; Delta table
  * maintenance (compact / vacuum / z-order) lives on
  * [[graft.delta.DeltaWriter]]. */
object Maintenance {

  /** Drop committed offset/commit pairs, keeping the last `keepLastN` and
    * anything newer than `olderThanMs`. Pending (uncommitted) batches are
    * never dropped. Returns deleted batch ids. */
  def cleanupCheckpoint(checkpointDir: String, conf: Configuration,
      keepLastN: Int = 100, olderThanMs: Option[Long] = None): Seq[Long] = {
    val wal = new WriteAheadLog(checkpointDir, conf)
    val committed = wal.listCommitIds()
    val cutoffIdx = math.max(0, committed.size - keepLastN)
    val candidates = committed.take(cutoffIdx)
    val now = System.currentTimeMillis()
    val deletable = candidates.filter { id =>
      olderThanMs match {
        case None => true
        case Some(age) =>
          Jsons.optLong(wal.readCommit(id), "committed_at_ms")
            .forall(ts => now - ts > age)
      }
    }
    deletable.foreach(wal.deleteBatch)
    deletable
  }

  /** Remove every batch with id > `keepThrough` (offset AND commit), so the
    * source replans them from current inputs. For file sources the truncated
    * batches' paths are also dropped from the committed-file index —
    * otherwise `FileStreamCheckpoint.planBatch` would never re-emit them
    * (Delta sources rewind by offset position alone). Returns removed ids. */
  def truncateCheckpoint(checkpointDir: String, conf: Configuration,
      keepThrough: Long): Seq[Long] = {
    val wal = new WriteAheadLog(checkpointDir, conf)
    val doomed = (wal.listOffsetIds() ++ wal.listCommitIds()).distinct
      .filter(_ > keepThrough).sorted
    val offsetIds = wal.listOffsetIds().filter(_ > keepThrough).toSet
    val truncatedPaths = offsetIds.toSeq.sorted.flatMap { id =>
      try wal.readOffset(id).files.map(_.path)
      catch { case _: Exception => Seq.empty[String] }
    }
    doomed.foreach(wal.deleteBatch)
    if (truncatedPaths.nonEmpty &&
        Fs.exists(new Path(checkpointDir, "file_index"), conf))
      new graft.sources.FileStreamCheckpoint(checkpointDir, conf)
        .dropFromIndex(truncatedPaths)
    doomed
  }

  /** Forget the persisted start offset so the next run re-resolves it. */
  def resetStartOffset(checkpointDir: String, conf: Configuration): Unit =
    dropMetadataKey(checkpointDir, conf, Seq("start_offset", "start_position"))

  /** Forget the persisted schema (schema evolution re-infers next batch). */
  def resetSchema(checkpointDir: String, conf: Configuration): Unit =
    dropMetadataKey(checkpointDir, conf, Seq("schema"))

  private def dropMetadataKey(checkpointDir: String, conf: Configuration,
      keys: Seq[String]): Unit = {
    val wal = new WriteAheadLog(checkpointDir, conf)
    wal.readMetadata().foreach { m =>
      val o = m.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      keys.foreach(o.remove)
      wal.writeMetadata(o)
    }
  }

  /** Structured view of a checkpoint's state. */
  case class CheckpointInfo(
      lastOffsetId: Option[Long],
      lastCommitId: Option[Long],
      pendingIds: Seq[Long],
      totalBatches: Int,
      metadata: Option[String])

  def inspectCheckpoint(checkpointDir: String, conf: Configuration): CheckpointInfo = {
    val wal = new WriteAheadLog(checkpointDir, conf)
    CheckpointInfo(
      lastOffsetId = wal.latestOffsetId(),
      lastCommitId = wal.latestCommitId(),
      pendingIds = wal.pendingBatchIds(),
      totalBatches = wal.listOffsetIds().size,
      metadata = wal.readMetadata().map(Jsons.render))
  }
}
