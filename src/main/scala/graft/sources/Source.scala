package graft.sources

import graft.core.BatchInfo
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}

/** An incremental source: plans micro-batches against a checkpoint, reads
  * a planned batch into a DataFrame, and commits consumed batches. The
  * engine's two implementations mirror the reference's
  * (`FileSource`/`DeltaSource`, reference `src/polars_incremental/source.py`). */
trait Source {
  def planBatch(): Option[BatchInfo]
  def readBatch(spark: SparkSession, batch: BatchInfo): DataFrame
  def commitBatch(batch: BatchInfo, metadata: Map[String, String]): Unit
  def checkpointDir: String
  def conf: Configuration
}

/** The one admission rule for every source batch — file, Delta and CDF
  * (reference `checkpoints/file.py:414-430`, `delta.py:649-667`): the
  * longest prefix of `candidates` that keeps the batch within `maxFiles`
  * entries and `maxBytes` bytes, counting the `files` and `bytes` the
  * batch already holds. A batch's first entry is always admitted, however
  * large, so an oversized entry still makes progress. */
object Admission {
  def admit[T](candidates: Seq[T], size: T => Long, maxFiles: Option[Int],
      maxBytes: Option[Long], files: Int = 0, bytes: Long = 0L): Seq[T] = {
    var n = files
    var total = bytes
    candidates.takeWhile { c =>
      val fits = n == 0 ||
        (maxFiles.forall(n < _) && maxBytes.forall(total + size(c) <= _))
      if (fits) { n += 1; total += size(c) }
      fits
    }
  }
}
