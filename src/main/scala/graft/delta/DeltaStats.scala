package graft.delta

import com.fasterxml.jackson.databind.JsonNode
import graft.util.Jsons
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Per-file statistics: collection from parquet footers at write time and
  * file skipping at read time — the delta-protocol `stats` JSON on add
  * actions (`{"numRecords":N,"minValues":{..},"maxValues":{..}}`).
  *
  * At 100 TB this is the difference between SCHEDULING every file of a
  * table and scheduling only the ones a range predicate can touch: the
  * parquet scan's own footer pruning happens per task AFTER scheduling;
  * stats pruning happens at plan time from driver-side metadata the
  * commit already carries. Collection reads footers only (a few KB per
  * file, metadata I/O that scales like the commit itself).
  *
  * Covered columns: top-level int32/int64/float/double/boolean and UTF8
  * strings up to 64 chars (longer strings are omitted for that file —
  * omitting a column disables skipping on it, never wrong answers).
  */
object DeltaStats {

  private val MaxStatString = 64

  /** DRIVER-side footer reads since JVM start — test instrumentation
    * asserting the commit path stays distributed: write tasks collect
    * their own stats ([[DirectCommitProtocol.commitTask]] via
    * [[collectStats]], which does NOT bump this), so a write of any size
    * must leave this counter unchanged. */
  val driverFooterReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Stats JSON for one written parquet file, from its footer (None when
    * the footer is unreadable or carries no usable statistics — stats are
    * an optimization, never a failure). Driver-side entry point: counted
    * by [[driverFooterReads]]; kept only for callers outside the write
    * path (the write path gets stats from the tasks). */
  def footerStatsJson(file: Path, conf: Configuration): Option[String] = {
    driverFooterReads.incrementAndGet()
    collectStats(file, conf)
  }

  /** Footer-stats collection itself — called from write TASKS
    * ([[DirectCommitProtocol.commitTask]]), uninstrumented. */
  private[delta] def collectStats(file: Path, conf: Configuration): Option[String] = try {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum
      // fold column-chunk statistics per top-level primitive column
      val mins = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      val maxs = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      val unusable = scala.collection.mutable.Set.empty[String]
      blocks.foreach(_.getColumns.asScala.foreach { chunk =>
        val pathParts = chunk.getPath.toArray
        if (pathParts.length == 1) {
          val name = pathParts(0)
          val st = chunk.getStatistics
          if (st == null || !st.hasNonNullValue) unusable += name
          else {
            val lo = st.genericGetMin
            val hi = st.genericGetMax
            def cmp(a: Any, b: Any): Int =
              a.asInstanceOf[Comparable[Any]].compareTo(b)
            mins(name) = mins.get(name).filter(m => cmp(m, lo) <= 0).getOrElse(lo)
            maxs(name) = maxs.get(name).filter(m => cmp(m, hi) >= 0).getOrElse(hi)
          }
        }
      })
      unusable.foreach { n => mins.remove(n); maxs.remove(n) }

      val o = Jsons.obj()
      o.put("numRecords", numRecords)
      def toNode(values: collection.Map[String, Any]): JsonNode = {
        val node = Jsons.obj()
        values.foreach { case (name, v) =>
          v match {
            case i: java.lang.Integer => node.put(name, i.longValue())
            case l: java.lang.Long => node.put(name, l.longValue())
            case f: java.lang.Float => node.put(name, f.doubleValue())
            case d: java.lang.Double => node.put(name, d.doubleValue())
            case b: java.lang.Boolean => node.put(name, b.booleanValue())
            case bin: Binary =>
              val isString = Option(schema.getType(Seq(name): _*))
                .filter(_.isPrimitive)
                .exists(_.asPrimitiveType().getLogicalTypeAnnotation ==
                  LogicalTypeAnnotation.stringType())
              if (isString) {
                val s = bin.toStringUsingUTF8
                if (s.length <= MaxStatString) node.put(name, s)
              }
            case _ =>
          }
        }
        node
      }
      // a column must appear in BOTH maps with a JSON-able value
      val minNode = toNode(mins)
      val maxNode = toNode(maxs)
      val shared = Jsons.fields(minNode).map(_._1).toSet
        .intersect(Jsons.fields(maxNode).map(_._1).toSet)
      val minOut = Jsons.obj(); val maxOut = Jsons.obj()
      shared.toSeq.sorted.foreach { n =>
        minOut.set[JsonNode](n, minNode.get(n)); maxOut.set[JsonNode](n, maxNode.get(n))
      }
      o.set[JsonNode]("minValues", minOut)
      o.set[JsonNode]("maxValues", maxOut)
      Some(Jsons.render(o))
    } finally reader.close()
  } catch { case NonFatal(_) => None }

  /** Active add actions (stats preserved) at `version` — the adds of
    * [[DeltaLogReader.snapshot]]. */
  def activeAdds(log: DeltaLogReader, tablePath: String, version: Long)
      : Seq[DeltaAction.AddFile] =
    log.snapshot(tablePath, version).adds

  /** Exact partition-value pruning for EQUALITY predicates — the string
    * case `prune`'s numeric intervals can't express (a `lang=en` dir on a
    * language-partitioned corpus). A file is kept iff its
    * `partitionValues` entry equals the requested value for every listed
    * column; files without the partition column (unpartitioned tables,
    * other layouts) are KEPT — skipping stays an optimization, never a
    * filter. */
  def prunePartitions(adds: Seq[DeltaAction.AddFile],
      equals: Map[String, String]): (Seq[DeltaAction.AddFile], Int) = {
    val kept = adds.filter(a =>
      equals.forall { case (k, v) => a.partitionValues.get(k).forall(_ == v) })
    (kept, adds.size - kept.size)
  }

  /** Lexicographic string-interval pruning — the complement of `prune`
    * for string-keyed columns (ISO dates, id prefixes, hostnames): a file
    * is skipped when its [min,max] string stats cannot intersect every
    * requested inclusive interval. Files without usable stats for a
    * column are KEPT; string partition values prune as exact points. */
  def pruneStrings(adds: Seq[DeltaAction.AddFile],
      ranges: Map[String, (Option[String], Option[String])])
      : (Seq[DeltaAction.AddFile], Int) = {
    def text(n: JsonNode): Option[String] =
      if (n != null && n.isTextual) Some(n.asText()) else None
    def partitionKeeps(a: DeltaAction.AddFile): Boolean =
      ranges.forall { case (colName, (lo, hi)) =>
        a.partitionValues.get(colName) match {
          case Some(point) => lo.forall(point >= _) && hi.forall(point <= _)
          case None => true
        }
      }
    val kept = adds.filter { a =>
      partitionKeeps(a) &&
      a.stats.forall { s =>
        val parsed = try Some(Jsons.parse(s)) catch { case NonFatal(_) => None }
        parsed.forall { st =>
          ranges.forall { case (colName, (lo, hi)) =>
            val mn = Jsons.optField(st, "minValues").map(_.get(colName)).flatMap(text)
            val mx = Jsons.optField(st, "maxValues").map(_.get(colName)).flatMap(text)
            (mn, mx) match {
              // OUR writer omits >MaxStatString values entirely, but a
              // foreign delta writer may store a truncated PREFIX as the
              // max — a prefix only lower-bounds the true max, so a max at
              // the truncation length is unbounded on the upper side
              // (delta-spark increments the prefix instead; we can't tell
              // which convention wrote the stat). A truncated MIN prefix is
              // still a valid lower bound (a prefix sorts <= every string
              // it prefixes) and stays safe to compare.
              case (Some(fileMin), Some(fileMax)) =>
                (fileMax.length >= MaxStatString || lo.forall(fileMax >= _)) &&
                  hi.forall(fileMin <= _)
              case _ => true
            }
          }
        }
      }
    }
    (kept, adds.size - kept.size)
  }

  /** Numeric interval per column: files whose [min,max] cannot intersect
    * every requested interval are skipped; files lacking stats for a
    * requested column are KEPT (skipping is an optimization, never a
    * filter). Bounds are inclusive. Hive-partition values prune exactly:
    * a file's `partitionValues` entry for a ranged column is a single
    * point, kept only when it lies inside the interval. */
  def prune(adds: Seq[DeltaAction.AddFile],
      ranges: Map[String, (Option[Double], Option[Double])])
      : (Seq[DeltaAction.AddFile], Int) = {
    def numeric(n: JsonNode): Option[Double] =
      if (n != null && n.isNumber) Some(n.asDouble()) else None
    def partitionKeeps(a: DeltaAction.AddFile): Boolean =
      ranges.forall { case (colName, (lo, hi)) =>
        a.partitionValues.get(colName)
          .flatMap(v => scala.util.Try(v.toDouble).toOption) match {
          case Some(point) => lo.forall(point >= _) && hi.forall(point <= _)
          case None => true // not a numeric partition column -> can't skip
        }
      }
    val kept = adds.filter { a =>
      partitionKeeps(a) &&
      a.stats.forall { s =>
        val parsed = try Some(Jsons.parse(s)) catch { case NonFatal(_) => None }
        parsed.forall { st => // unparseable stats -> keep the file
          ranges.forall { case (colName, (lo, hi)) =>
            val mn = Jsons.optField(st, "minValues").map(_.get(colName)).flatMap(numeric)
            val mx = Jsons.optField(st, "maxValues").map(_.get(colName)).flatMap(numeric)
            (mn, mx) match {
              case (Some(fileMin), Some(fileMax)) =>
                lo.forall(fileMax >= _) && hi.forall(fileMin <= _)
              case _ => true // no stats for this column -> cannot skip
            }
          }
        }
      }
    }
    (kept, adds.size - kept.size)
  }
}
