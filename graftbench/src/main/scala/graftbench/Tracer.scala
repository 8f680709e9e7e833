package graftbench

import graft.PipelineObserver
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.OutputStream
import scala.collection.mutable

/** Per-op accumulator of the traced run: named sums, Spark job intervals
  * (epoch ms) and per-stage task-time skews. Written by the listener bus
  * thread, executor threads and the driver, so every update locks it. */
final class OpTrace {
  val values = mutable.LinkedHashMap.empty[String, Double]
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageSkews = mutable.ArrayBuffer.empty[Double]
  def add(k: String, v: Double): Unit = synchronized {
    values(k) = values.getOrElse(k, 0.0) + v
  }
}

/** The traced run's global state. `current` is non-null only while a
  * traced op runs; every counter below is a no-op otherwise, so untraced
  * ops pay one volatile read per file-system call. */
object Tracer {
  @volatile var current: OpTrace = null
  /** Pipeline stage now running on the driver ("" outside a stage). */
  @volatile var stage: String = ""
  /** (absolute path prefix, category) pairs set by the workload. */
  @volatile var roots: Seq[(String, String)] = Nil

  def add(k: String, v: Double): Unit = {
    val c = current
    if (c != null) c.add(k, v)
  }

  def categoryOf(p: Path): String = {
    val s = p.toUri.getPath
    if (s == null) ""
    else roots.collectFirst { case (root, cat) if s.startsWith(root) => cat }.getOrElse("")
  }

  def onExecutorThread: Boolean =
    Thread.currentThread().getName.startsWith("Executor task launch worker")
}

/** Hadoop local file system that counts calls for the traced run. It is
  * installed through `spark.hadoop.fs.file.impl`, so the engine is
  * unchanged: every call goes to [[LocalFileSystem]]. A thread-local depth
  * counts only the outermost call (globStatus calling listStatus is one
  * list call). */
class CountingFs extends LocalFileSystem {
  private def counted[T](kind: String, p: Path)(f: => T): T = {
    val op = Tracer.current
    if (op == null) return f
    val d = CountingFs.depth.get
    CountingFs.depth.set(d + 1)
    try {
      val r = f
      if (d == 0) record(op, kind, p, r)
      r
    } finally CountingFs.depth.set(d)
  }

  private def record(op: OpTrace, kind: String, p: Path, result: Any): Unit = {
    val cat = Tracer.categoryOf(p)
    val name = p.getName
    val driver = !Tracer.onExecutorThread
    if (driver) op.add("fs.driver_ops", 1)
    if (cat == "wal") op.add("wal.fs_ops", 1)
    kind match {
      case "open" =>
        op.add("fs.open_calls", 1)
        val inLog = p.getParent != null && p.getParent.getName == "_delta_log"
        val sourceStage = Tracer.stage == "plan" || Tracer.stage == "read"
        if (inLog && cat == "table") {
          if (sourceStage) {
            if (name.endsWith(".json")) op.add("sources.delta_log_reads", 1)
            else if (name.contains(".checkpoint")) op.add("sources.delta_checkpoint_reads", 1)
          } else op.add("delta.log_files_read", 1)
        }
        if (name.startsWith("deletion_vector_")) op.add("delta.dv_files", 1)
      case "list" =>
        op.add("fs.list_calls", 1)
        result match {
          case a: Array[FileStatus] if cat == "landing" =>
            op.add("sources.files_listed", a.length)
          case _ =>
        }
      case _ =>
    }
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("open", f) {
      val in = super.open(f, bufferSize)
      if (Tracer.current != null && !Tracer.onExecutorThread)
        new FSDataInputStream(new CountingInput(in))
      else in
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create", f) {
      val out = super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
      if (Tracer.current != null && !Tracer.onExecutorThread)
        new FSDataOutputStream(new CountingOutput(out), null)
      else out
    }

  override def listStatus(f: Path): Array[FileStatus] =
    counted("list", f)(super.listStatus(f))
  override def globStatus(p: Path): Array[FileStatus] =
    counted("list", p)(super.globStatus(p))
  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] =
    counted("list", p)(super.globStatus(p, filter))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted("list", f)(super.listLocatedStatus(f))
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] =
    counted("list", p)(super.listStatusIterator(p))
  override def getFileStatus(f: Path): FileStatus =
    counted("stat", f)(super.getFileStatus(f))
  override def exists(f: Path): Boolean =
    counted("stat", f)(super.exists(f))
  override def rename(src: Path, dst: Path): Boolean =
    counted("rename", src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted("delete", f)(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted("mkdirs", f)(super.mkdirs(f, permission))
}

object CountingFs {
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }
}

/** Driver-side read stream that counts bytes into `fs.driver_read_mb`. */
private final class CountingInput(in: FSDataInputStream) extends FSInputStream {
  private def count(n: Int): Int = {
    if (n > 0) Tracer.add("fs.driver_read_mb", n / 1048576.0)
    n
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def read(): Int = { val b = in.read(); if (b >= 0) count(1); b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = count(in.read(b, off, len))
  override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int =
    count(in.read(position, b, off, len))
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

/** Driver-side write stream that counts bytes into `fs.driver_write_mb`. */
private final class CountingOutput(out: OutputStream) extends OutputStream {
  override def write(b: Int): Unit = { out.write(b); Tracer.add("fs.driver_write_mb", 1 / 1048576.0) }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len); Tracer.add("fs.driver_write_mb", len / 1048576.0)
  }
  override def flush(): Unit = out.flush()
  override def close(): Unit = out.close()
}

/** Spark's own counters for the traced ops: jobs, stages and task metrics
  * from the scheduler, planning phases from each query execution. Both
  * listeners are registered from outside the engine, only around traced
  * ops. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart(e.jobId) = e.time
    Tracer.add("spark.jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val op = Tracer.current
    jobStart.remove(e.jobId).foreach { s =>
      if (op != null) op.synchronized { op.jobs += ((s, e.time)) }
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Tracer.add("spark.stages", 1)
    val id = e.stageInfo.stageId
    stageSubmit.remove(id)
    stageTasks.remove(id).foreach { ts =>
      if (ts.size >= 2) {
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).max(1L).toDouble
        val op = Tracer.current
        if (op != null) op.synchronized { op.stageSkews += sorted.last / med }
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    Tracer.add("spark.tasks", 1)
    stageSubmit.get(e.stageId).foreach(s =>
      Tracer.add("spark.sched_wait_s", (info.launchTime - s).max(0L) / 1000.0))
    if (m != null) {
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      Tracer.add("spark.task_run_s", m.executorRunTime / 1000.0)
      Tracer.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      Tracer.add("spark.task_gc_s", m.jvmGCTime / 1000.0)
      Tracer.add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      Tracer.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      Tracer.add("spark.spill_mb",
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    Tracer.add("spark.query_executions", 1)
    val ph = qe.tracker.phases
    def ms(name: String): Double = ph.get(name).map(_.durationMs / 1000.0).getOrElse(0.0)
    Tracer.add("spark.analysis_s", ms("analysis"))
    Tracer.add("spark.optimizer_s", ms("optimization"))
    Tracer.add("spark.planning_s", ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)
}

/** Times the pipeline's stages from its public observer hooks and marks
  * the running stage for the file-system counters. */
final class TraceObserver extends PipelineObserver {
  private var t0 = 0L
  override def onStageStart(batchId: Long, stage: String): Unit = {
    Tracer.stage = stage
    t0 = System.nanoTime()
  }
  override def onStageEnd(batchId: Long, stage: String, durationMs: Long,
      metadata: Map[String, String]): Unit = {
    Tracer.add(s"pipeline.${stage}_s", (System.nanoTime() - t0) / 1e9)
    Tracer.stage = ""
  }
  override def onBatchPlanned(batchId: Long, fileCount: Int, bytes: Long): Unit = {
    Tracer.add("sources.files_planned", fileCount)
    Tracer.add("merge.input_bytes", bytes)
  }
}
