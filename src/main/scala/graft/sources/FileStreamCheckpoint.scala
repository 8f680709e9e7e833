package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.core.{BatchInfo, FileEntry, PlanningError, WriteAheadLog}
import graft.util.{Fs, Jsons}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

import java.security.MessageDigest

/** How to resolve the first offset of a brand-new checkpoint.
  * Mirrors reference `checkpoints/file.py:257-278`. The resolved choice is
  * persisted first-run-wins (`file.py:478-518`). */
sealed trait FileStartOffset
object FileStartOffset {
  /** Process everything currently present. */
  case object Earliest extends FileStartOffset
  /** Skip files that exist at first plan; only new files flow. */
  case object Latest extends FileStartOffset
  /** Skip files older than the given epoch-ms mtime. */
  case class Timestamp(epochMs: Long) extends FileStartOffset

  def name(o: FileStartOffset): String = o match {
    case Earliest => "earliest"
    case Latest => "latest"
    case Timestamp(_) => "timestamp"
  }
}

case class FileSourceOptions(
    pattern: String = "*",
    recursive: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    startOffset: FileStartOffset = FileStartOffset.Earliest,
    allowOverwrites: Boolean = false,
    maxFileAgeMs: Option[Long] = None,
    excludeDirs: Seq[String] = Seq("_archive"))

/** Incremental file-discovery planner: glob the input dir, subtract the
  * committed-file index, apply start-offset / age filters, cap by
  * files/bytes, and record the plan in the WAL.
  *
  * Re-expresses reference `checkpoints/file.py` (plan `:353-476`, listing
  * `:200-241`, sharded index `:49-162`) — which is itself modeled on Spark
  * file-source options (`maxFilesPerTrigger`, `cleanSource`) — as a
  * driver-side Scala planner over Hadoop `FileSystem`. Executors never touch
  * the checkpoint; at 100 TB the listing is the only O(dir) step and the
  * index keeps the diff O(new files) via 256 md5 shards.
  */
class FileStreamCheckpoint(val checkpointDir: String, val conf: Configuration) {
  val wal = new WriteAheadLog(checkpointDir, conf)
  private val indexDir = new Path(checkpointDir, "file_index")
  private val ShardCount = 256

  private def shardOf(path: String): String = {
    val md5 = MessageDigest.getInstance("MD5").digest(path.getBytes("UTF-8"))
    f"${md5(0) & 0xff}%02x"
  }

  /** Fully-qualified URI form of a path (scheme + authority resolved
    * against the path's filesystem). Index entries written by versions
    * that stored bare paths (`toUri.getPath`) are normalized through this
    * on read, so planBatch's exact-string dedup keeps matching across the
    * format change instead of re-planning (= duplicating) every
    * already-committed file once after upgrade. */
  private def qualify(path: String): String = {
    val p = new Path(path)
    Fs.fs(p, conf).makeQualified(p).toString
  }

  // ---- committed-file index (path -> (size, mtimeMs)) --------------------

  private def shardPath(shard: String): Path = new Path(indexDir, s"shard_$shard.json")

  private def readShard(shard: String): Map[String, (Long, Long)] = {
    val p = shardPath(shard)
    if (!Fs.exists(p, conf)) Map.empty
    else Jsons.fields(Fs.readJson(p, conf)).map { case (k, v) =>
      k -> (v.get("size").asLong(), v.get("mtime_ms").asLong())
    }.toMap
  }

  private def writeShard(shard: String, entries: Map[String, (Long, Long)]): Unit = {
    val o = Jsons.obj()
    entries.foreach { case (path, (size, mtime)) =>
      val e = Jsons.obj(); e.put("size", size); e.put("mtime_ms", mtime)
      o.set[JsonNode](path, e)
    }
    Fs.atomicWriteJson(shardPath(shard), o, conf)
  }

  /** Full committed index, keys normalized to qualified URIs; O(shards)
    * reads, only on plan. A legacy bare-path entry and a qualified entry
    * for the same file normalize to the same key — the NEWEST mtime wins
    * (not shard order), so a stale legacy signature can never shadow a
    * recorded overwrite and re-plan the file forever. */
  def committedIndex(): Map[String, (Long, Long)] =
    Fs.list(indexDir, conf).flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith("shard_")) readShard(name.stripPrefix("shard_").stripSuffix(".json"))
      else Map.empty[String, (Long, Long)]
    }.foldLeft(Map.empty[String, (Long, Long)]) { case (acc, (k, v)) =>
      val key = qualify(k)
      acc.get(key) match {
        case Some((_, mtime)) if mtime >= v._2 => acc
        case _ => acc + (key -> v)
      }
    }

  /** Record newly committed files under their qualified-URI key; touches
    * only the changed shards (reference `file.py:107-162`). Any legacy
    * bare-path spelling of the same file (written by pre-qualified-key
    * versions, living in a DIFFERENT shard since sharding hashes the key)
    * is dropped in the same pass so the index never holds two entries for
    * one file. */
  def recordCommitted(files: Seq[FileEntry]): Unit = {
    val qualified = files.map(f => (qualify(f.path), f))
    val newByShard = qualified.groupBy(p => shardOf(p._1))
    val bareByShard = qualified.flatMap { case (k, f) =>
      val bare = new Path(f.path).toUri.getPath
      if (bare != k) Some(bare) else None
    }.groupBy(shardOf)
    (newByShard.keySet ++ bareByShard.keySet).foreach { shard =>
      val cur = readShard(shard)
      val updated = (cur -- bareByShard.getOrElse(shard, Seq.empty)) ++
        newByShard.getOrElse(shard, Seq.empty)
          .map { case (k, f) => k -> (f.size, f.mtimeMs) }
      if (updated != cur) writeShard(shard, updated)
    }
  }

  /** Forget specific committed paths (e.g. batches removed by
    * [[graft.Maintenance.truncateCheckpoint]]) so planBatch re-emits them.
    * Each path is dropped in BOTH its qualified and bare spelling — legacy
    * shards keyed (and sharded) by the bare path stay removable. Touches
    * only the affected shards; unknown paths are no-ops. */
  def dropFromIndex(paths: Seq[String]): Unit =
    paths.flatMap(p => Set(p, qualify(p), new Path(p).toUri.getPath))
      .distinct.groupBy(shardOf).foreach { case (shard, ps) =>
        val cur = readShard(shard)
        val kept = cur -- ps
        if (kept.size != cur.size) writeShard(shard, kept)
      }

  /** Drop index entries older than maxFileAge to bound index growth
    * (reference `file.py:326-351`). */
  def pruneIndex(maxFileAgeMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() - maxFileAgeMs
    Fs.list(indexDir, conf).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("shard_")) {
        val shard = name.stripPrefix("shard_").stripSuffix(".json")
        val cur = readShard(shard)
        val kept = cur.filter { case (_, (_, mtime)) => mtime >= cutoff }
        if (kept.size != cur.size) writeShard(shard, kept)
      }
    }
  }

  // ---- listing -----------------------------------------------------------

  private def matchesPattern(name: String, pattern: String): Boolean = {
    // Glob -> regex: only *, ?, and literal chars (matches the reference's
    // fnmatch usage on basenames, `file.py:224-236`).
    val sb = new StringBuilder
    pattern.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    name.matches(sb.toString)
  }

  /** Deterministic listing sorted by path (reference `file.py:240`). */
  def listFiles(inputDir: String, opts: FileSourceOptions): Seq[FileEntry] = {
    val root = new Path(inputDir)
    val filesystem = Fs.fs(root, conf)
    if (!filesystem.exists(root)) return Seq.empty
    val out = Seq.newBuilder[FileEntry]
    def walk(dir: Path): Unit = {
      filesystem.listStatus(dir).foreach { st: FileStatus =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (opts.recursive && !opts.excludeDirs.contains(name) && !name.startsWith("."))
            walk(st.getPath)
        } else if (!name.startsWith(".") && !name.startsWith("_") &&
            matchesPattern(name, opts.pattern)) {
          // Fully-qualified URI (scheme + authority preserved): on HDFS/S3
          // the planned paths and committed-index keys must carry their
          // filesystem, or replay resolves them against the default FS.
          out += FileEntry(filesystem.makeQualified(st.getPath).toString,
            st.getLen, st.getModificationTime)
        }
      }
    }
    walk(root)
    out.result().sortBy(_.path)
  }

  // ---- start offset ------------------------------------------------------

  /** First-run-wins: the resolved start offset is persisted in metadata;
    * later runs reuse the stored one (reference `file.py:478-518`). */
  def resolveStartOffset(requested: FileStartOffset, listing: Seq[FileEntry]): FileStartOffset = {
    wal.readMetadata().flatMap(m => Jsons.optField(m, "start_offset")) match {
      case Some(stored) =>
        val kind = stored.get("kind").asText()
        val resolved = kind match {
          case "timestamp" => FileStartOffset.Timestamp(stored.get("epoch_ms").asLong())
          case "earliest" => FileStartOffset.Earliest
          case "latest" =>
            // `latest` was materialized to a timestamp cutoff at first run.
            Jsons.optLong(stored, "epoch_ms")
              .map(FileStartOffset.Timestamp.apply)
              .getOrElse(FileStartOffset.Earliest)
        }
        if (kind != FileStartOffset.name(requested))
          System.err.println(
            s"[graft] start_offset mismatch: requested ${FileStartOffset.name(requested)}, " +
            s"checkpoint has $kind — using stored (first-run-wins)")
        resolved
      case None =>
        val resolved = requested match {
          case FileStartOffset.Latest =>
            val maxM = if (listing.isEmpty) 0L else listing.map(_.mtimeMs).max
            FileStartOffset.Timestamp(maxM)
          case other => other
        }
        val o = Jsons.obj()
        o.put("kind", FileStartOffset.name(requested))
        resolved match {
          case FileStartOffset.Timestamp(ms) => o.put("epoch_ms", ms)
          case _ =>
        }
        wal.updateMetadata("start_offset", o)
        resolved
    }
  }

  // ---- planning ----------------------------------------------------------

  /** Plan the next batch; None = idle. Recovery first: an offset without a
    * commit is replayed with the same id and file set. */
  def planBatch(inputDir: String, opts: FileSourceOptions): Option[BatchInfo] = {
    wal.pendingBatchIds().headOption match {
      case Some(id) => return Some(wal.readOffset(id))
      case None =>
    }
    val listing = try listFiles(inputDir, opts) catch {
      case e: Exception => throw new PlanningError(s"listing $inputDir failed", e)
    }
    val start = resolveStartOffset(opts.startOffset, listing)
    val now = System.currentTimeMillis()
    val afterStart = start match {
      case FileStartOffset.Timestamp(ms) => listing.filter(_.mtimeMs > ms)
      case _ => listing
    }
    val afterAge = opts.maxFileAgeMs match {
      case Some(age) => afterStart.filter(_.mtimeMs >= now - age)
      case None => afterStart
    }
    val index = committedIndex()
    val candidates = afterAge.filter { f =>
      index.get(f.path) match {
        case None => true
        case Some((size, mtime)) =>
          // Overwrite detection: signature change re-emits the file
          // (reference `file.py:391-409`).
          opts.allowOverwrites && (size != f.size || mtime != f.mtimeMs)
      }
    }
    if (candidates.isEmpty) return None
    val admitted = Admission.admit[FileEntry](candidates, _.size,
      opts.maxFilesPerTrigger, opts.maxBytesPerTrigger)
    val offset = Jsons.obj()
    offset.put("source", "files")
    offset.put("input_dir", inputDir)
    val batch = BatchInfo(wal.nextBatchId(), admitted, offset)
    wal.writeOffset(batch)
    Some(batch)
  }

  /** Commit: WAL commit record + index update + optional index pruning. */
  def commitBatch(batch: BatchInfo, metadata: Map[String, String], opts: FileSourceOptions): Unit = {
    wal.commit(batch.batchId, metadata)
    recordCommitted(batch.files)
    opts.maxFileAgeMs.foreach(pruneIndex)
  }
}
