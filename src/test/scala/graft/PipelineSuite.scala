package graft

import graft.core._
import graft.sinks.ParquetSink
import graft.sources._
import graft.util.{Fs, Jsons}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Planner-only tests use touched text files (the reference's `_touch_files`
  * trick, `tests/test_checkpoint.py:14-21`): the planner consumes FileStatus,
  * never parquet. */
class FileStreamCheckpointSuite extends SparkSpec {
  private def touch(dir: String, name: String, content: String = "data",
      mtimeMs: Option[Long] = None): String = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING)
    mtimeMs.foreach(ms => p.toFile.setLastModified(ms))
    p.toString
  }

  test("plans new files once, in path order, and goes idle after commit") {
    withTmpDir { tmp =>
      val in = s"$tmp/in"; val cp = s"$tmp/cp"
      touch(in, "b.txt"); touch(in, "a.txt")
      val ckpt = new FileStreamCheckpoint(cp, new Configuration())
      val opts = FileSourceOptions()
      val batch = ckpt.planBatch(in, opts).get
      assert(batch.batchId === 0)
      assert(batch.paths.map(p => new File(p).getName) === Seq("a.txt", "b.txt"))
      ckpt.commitBatch(batch, Map.empty, opts)
      assert(ckpt.planBatch(in, opts).isEmpty)
      touch(in, "c.txt")
      val b2 = ckpt.planBatch(in, opts).get
      assert(b2.batchId === 1)
      assert(b2.paths.map(p => new File(p).getName) === Seq("c.txt"))
    }
  }

  test("recovery: pending offset is replayed with same id and files") {
    withTmpDir { tmp =>
      val in = s"$tmp/in"; val cp = s"$tmp/cp"
      touch(in, "a.txt")
      val ckpt = new FileStreamCheckpoint(cp, new Configuration())
      val opts = FileSourceOptions()
      val batch = ckpt.planBatch(in, opts).get
      // no commit — a fresh checkpoint instance must replay the same batch
      val ckpt2 = new FileStreamCheckpoint(cp, new Configuration())
      val replay = ckpt2.planBatch(in, opts).get
      assert(replay.batchId === batch.batchId)
      assert(replay.paths === batch.paths)
      assert(replay.isRecovered)
    }
  }

  test("max_files admission advances and resumes") {
    withTmpDir { tmp =>
      val in = s"$tmp/in"; val cp = s"$tmp/cp"
      (1 to 5).foreach(i => touch(in, f"f$i%02d.txt"))
      val ckpt = new FileStreamCheckpoint(cp, new Configuration())
      val opts = FileSourceOptions(maxFilesPerTrigger = Some(2))
      val names = Iterator.continually(ckpt.planBatch(in, opts))
        .takeWhile(_.isDefined).map(_.get)
        .map { b => ckpt.commitBatch(b, Map.empty, opts); b.paths.size }
        .toSeq
      assert(names === Seq(2, 2, 1))
    }
  }

  test("max_bytes caps but an oversized single file is still admitted") {
    withTmpDir { tmp =>
      val in = s"$tmp/in"; val cp = s"$tmp/cp"
      touch(in, "a_empty.txt", "")
      touch(in, "big.txt", "x" * 1000)
      touch(in, "small.txt", "x" * 10)
      val ckpt = new FileStreamCheckpoint(cp, new Configuration())
      val opts = FileSourceOptions(maxBytesPerTrigger = Some(100))
      def next(): Seq[String] = {
        val b = ckpt.planBatch(in, opts).get
        ckpt.commitBatch(b, Map.empty, opts)
        b.paths.map(p => new File(p).getName)
      }
      // the first ENTRY is always admitted, not the first bytes: a
      // zero-byte file opens a batch that big.txt would overflow
      assert(next() === Seq("a_empty.txt"))
      // big.txt opens the next batch and exceeds the cap alone -> still admitted
      assert(next() === Seq("big.txt"))
      assert(next() === Seq("small.txt"))
    }
  }

  test("overwrite detection replans changed files only when allowed") {
    withTmpDir { tmp =>
      val in = s"$tmp/in"; val cp = s"$tmp/cp"
      val f = touch(in, "a.txt", "v1")
      val ckpt = new FileStreamCheckpoint(cp, new Configuration())
      val noOw = FileSourceOptions()
      val b = ckpt.planBatch(in, noOw).get
      ckpt.commitBatch(b, Map.empty, noOw)
      // change signature (content length + mtime)
      touch(in, "a.txt", "v2-longer", mtimeMs = Some(System.currentTimeMillis() + 5000))
      assert(ckpt.planBatch(in, noOw).isEmpty, "without allow_overwrites: ignored")
      val ow = FileSourceOptions(allowOverwrites = true)
      val b2 = ckpt.planBatch(in, ow).get
      assert(b2.paths.map(p => new File(p).getName) === Seq("a.txt"))
    }
  }

  test("legacy bare-path index entry can't shadow a recorded overwrite") {
    withTmpDir { tmp =>
      val in = s"$tmp/in"; val cp = s"$tmp/cp"
      val f = touch(in, "a.txt", "v1", mtimeMs = Some(1000L))
      // simulate a pre-qualified-key checkpoint: shard keyed by the BARE
      // path (different shard than the qualified URI) with a stale signature
      val bare = new org.apache.hadoop.fs.Path(f).toUri.getPath
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(bare.getBytes("UTF-8"))
      val shard = f"${md5(0) & 0xff}%02x"
      val shardFile = Paths.get(cp, "file_index", s"shard_$shard.json")
      Files.createDirectories(shardFile.getParent)
      Files.write(shardFile,
        s"""{"$bare": {"size": 2, "mtime_ms": 999}}""".getBytes)
      val ckpt = new FileStreamCheckpoint(cp, new Configuration())
      // overwrite flows through the qualified-key path
      val ow = FileSourceOptions(allowOverwrites = true)
      val b = ckpt.planBatch(in, ow).get
      ckpt.commitBatch(b, Map.empty, ow)
      // the legacy spelling is gone from its shard and the index has ONE
      // entry carrying the new signature
      assert(!new String(Files.readAllBytes(shardFile)).contains(bare) ||
        Files.notExists(shardFile))
      val idx = ckpt.committedIndex()
      assert(idx.size === 1)
      assert(idx.values.head === ((2L, 1000L)))
      // no eternal re-planning: the file is committed, nothing to plan
      assert(ckpt.planBatch(in, ow).isEmpty)
    }
  }

  test("duplicate index spellings resolve to the newest mtime, not shard order") {
    withTmpDir { tmp =>
      val in = s"$tmp/in"; val cp = s"$tmp/cp"
      val f = touch(in, "b.txt", "v2", mtimeMs = Some(5000L))
      val qualified = s"file:$f"
      val bare = new org.apache.hadoop.fs.Path(f).toUri.getPath
      def shardFor(key: String): java.nio.file.Path = {
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8"))
        Paths.get(cp, "file_index", f"shard_${md5(0) & 0xff}%02x.json")
      }
      Files.createDirectories(shardFor(bare).getParent)
      // stale legacy entry (old mtime) + fresh qualified entry (new mtime)
      Files.write(shardFor(bare), s"""{"$bare": {"size": 2, "mtime_ms": 999}}""".getBytes)
      Files.write(shardFor(qualified),
        s"""{"$qualified": {"size": 2, "mtime_ms": 5000}}""".getBytes)
      val ckpt = new FileStreamCheckpoint(cp, new Configuration())
      val idx = ckpt.committedIndex()
      assert(idx.size === 1)
      assert(idx.values.head._2 === 5000L, "newest signature wins regardless of shard order")
    }
  }

  test("start_offset=latest skips existing files, first-run-wins persisted") {
    withTmpDir { tmp =>
      val in = s"$tmp/in"; val cp = s"$tmp/cp"
      touch(in, "old.txt", mtimeMs = Some(System.currentTimeMillis() - 60000))
      val ckpt = new FileStreamCheckpoint(cp, new Configuration())
      val opts = FileSourceOptions(startOffset = FileStartOffset.Latest)
      assert(ckpt.planBatch(in, opts).isEmpty, "existing files skipped")
      touch(in, "new.txt", mtimeMs = Some(System.currentTimeMillis() + 60000))
      val b = ckpt.planBatch(in, opts).get
      assert(b.paths.map(p => new File(p).getName) === Seq("new.txt"))
      ckpt.commitBatch(b, Map.empty, opts)
      // second run requesting earliest: stored latest wins
      val ckpt2 = new FileStreamCheckpoint(cp, new Configuration())
      assert(ckpt2.planBatch(in, FileSourceOptions()).isEmpty)
    }
  }

  test("recursive listing excludes _archive and dot dirs") {
    withTmpDir { tmp =>
      val in = s"$tmp/in"; val cp = s"$tmp/cp"
      touch(in, "sub/a.txt"); touch(in, "_archive/old.txt"); touch(in, ".hidden/x.txt")
      val ckpt = new FileStreamCheckpoint(cp, new Configuration())
      val opts = FileSourceOptions(recursive = true)
      val b = ckpt.planBatch(in, opts).get
      assert(b.paths.map(p => new File(p).getName) === Seq("a.txt"))
    }
  }
}

class PipelineSuite extends SparkSpec {
  import spark.implicits._

  private def writeBatchFile(dir: String, name: String, ids: Seq[Long]): Unit =
    ids.toDF("id").withColumn("value", org.apache.spark.sql.functions.col("id") * 10)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/.staging_$name")
      // move the part file to a stable name so each file = one micro-batch
      match { case _ =>
        val staged = new File(s"$dir/.staging_$name").listFiles()
          .find(f => f.getName.endsWith(".parquet")).get
        val dst = new File(dir, name)
        Files.createDirectories(dst.getParentFile.toPath)
        Files.move(staged.toPath, dst.toPath)
        org.apache.commons.io.FileUtils.deleteDirectory(new File(s"$dir/.staging_$name"))
      }

  private def mkPipeline(in: String, cp: String, out: String,
      failWriter: java.util.concurrent.atomic.AtomicBoolean = null): Pipeline = {
    val ckpt = new FileStreamCheckpoint(cp, conf)
    val source = new FileSource(in, ckpt, "parquet",
      FileSourceOptions(pattern = "*.parquet", maxFilesPerTrigger = Some(1)))
    new Pipeline(
      source = source,
      reader = ctx => source.readBatch(ctx.spark, BatchInfo(ctx.batchId,
        ctx.files.map(p => FileEntry(p, 0, 0)), Jsons.obj())),
      transform = Some((df, _) => df.filter($"id" >= 2)),
      writer = (df, ctx) => {
        if (failWriter != null && failWriter.get()) sys.error("boom")
        ParquetSink.writeBatch(df, out, ctx.batchId)
      },
      spark = spark)
  }

  test("end-to-end: two files -> two batches, rerun reprocesses nothing") {
    withTmpDir { tmp =>
      val in = s"$tmp/in"; val cp = s"$tmp/cp"; val out = s"$tmp/out"
      writeBatchFile(in, "b0.parquet", Seq(1L, 2L, 3L))
      writeBatchFile(in, "b1.parquet", Seq(4L, 5L))
      val r1 = mkPipeline(in, cp, out).run(RunOptions(once = false, sleepMs = 0))
      assert(r1.batchesProcessed === 2)
      val rows = spark.read.parquet(s"$out/batch_0", s"$out/batch_1")
      assert(rows.count() === 4) // id>=2: 2,3,4,5
      // WAL artifacts on disk
      assert(new File(s"$cp/offsets/0.json").exists())
      assert(new File(s"$cp/commits/1.json").exists())
      val r2 = mkPipeline(in, cp, out).run(RunOptions(once = false, sleepMs = 0))
      assert(r2.batchesProcessed === 0)
    }
  }

  test("writer failure -> no commit -> retry replays same batch id") {
    withTmpDir { tmp =>
      val in = s"$tmp/in"; val cp = s"$tmp/cp"; val out = s"$tmp/out"
      writeBatchFile(in, "b0.parquet", Seq(1L, 2L, 3L))
      val fail = new java.util.concurrent.atomic.AtomicBoolean(true)
      val p = mkPipeline(in, cp, out, fail)
      val e = intercept[WriterError](p.runOnce())
      assert(e.getMessage.contains("boom"))
      assert(new File(s"$cp/offsets/0.json").exists())
      assert(!new File(s"$cp/commits/0.json").exists())
      fail.set(false)
      val id = mkPipeline(in, cp, out, fail).runOnce()
      assert(id === Some(0L))
      assert(new File(s"$cp/commits/0.json").exists())
    }
  }

  test("exactly-once Delta sink: crash between sink write and WAL commit, no duplicates") {
    val w = new graft.delta.DeltaWriter(spark, conf)
    // two idempotent writers keyed by one SetTransaction appId: the
    // sink's guarded append, and a CDC merge stamping its txn onto the
    // merge commit itself
    def append(table: String)(df: DataFrame, ctx: BatchContext): Map[String, String] =
      graft.sinks.DeltaSink.writeBatch(df, table, "pipe1", ctx.batchId)
    def merge(table: String)(df: DataFrame, ctx: BatchContext): Map[String, String] =
      if (w.lastTxnVersion(table, "pipe1").exists(_ >= ctx.batchId)) Map("skipped" -> "replay")
      else {
        import org.apache.spark.sql.functions.lit
        val changes = df.withColumn(Cdc.ChangeTypeCol, lit("insert"))
          .withColumn(Cdc.CommitVersionCol, lit(ctx.batchId))
        val r = DeltaCdc.applyCdcDelta(spark, changes, table, Seq("id"),
          txn = Some(("pipe1", ctx.batchId)))
        Map("rows_out" -> r.rowsOut.toString)
      }
    Seq[String => (DataFrame, BatchContext) => Map[String, String]](
        append(_), merge(_)).foreach { writeTo =>
      withTmpDir { tmp =>
        val in = s"$tmp/in"; val cp = s"$tmp/cp"; val table = s"$tmp/table"
        writeBatchFile(in, "b0.parquet", Seq(1L, 2L, 3L))
        // crash AFTER the Delta write succeeds but BEFORE the pipeline's
        // WAL commit — the at-least-once window where a plain sink would
        // double-write on replay
        val crashAfterWrite = new java.util.concurrent.atomic.AtomicBoolean(true)
        def mk(): Pipeline = {
          val ckpt = new FileStreamCheckpoint(cp, conf)
          val source = new FileSource(in, ckpt, "parquet",
            FileSourceOptions(pattern = "*.parquet", maxFilesPerTrigger = Some(1)))
          new Pipeline(
            source = source,
            reader = ctx => source.readBatch(ctx.spark, BatchInfo(ctx.batchId,
              ctx.files.map(p => FileEntry(p, 0, 0)), Jsons.obj())),
            transform = None,
            writer = (df, ctx) => {
              val meta = writeTo(table)(df, ctx)
              if (crashAfterWrite.getAndSet(false)) sys.error("crash post-sink")
              meta
            },
            spark = spark)
        }
        intercept[WriterError](mk().runOnce())
        // the data landed but the batch is uncommitted in the WAL
        assert(w.read(table).count() === 3)
        assert(!new File(s"$cp/commits/0.json").exists())
        // replay: same batch id, the writer skips via its txn watermark
        val version = w.snapshot(table).map(_.version)
        val id = mk().runOnce()
        assert(id === Some(0L))
        assert(w.read(table).count() === 3, "replayed batch must not write twice")
        assert(w.snapshot(table).map(_.version) === version, "replay commits nothing")
        assert(w.lastTxnVersion(table, "pipe1") === Some(0L))
        // a new file still flows through as a NEW batch
        writeBatchFile(in, "b1.parquet", Seq(9L))
        assert(mk().runOnce() === Some(1L))
        assert(w.read(table).count() === 4)
      }
    }
  }

  test("observer sees planned -> stages -> committed in order") {
    withTmpDir { tmp =>
      val in = s"$tmp/in"; val cp = s"$tmp/cp"; val out = s"$tmp/out"
      writeBatchFile(in, "b0.parquet", Seq(1L, 2L))
      val events = scala.collection.mutable.ArrayBuffer[String]()
      val ckpt = new FileStreamCheckpoint(cp, conf)
      val source = new FileSource(in, ckpt, "parquet", FileSourceOptions(pattern = "*.parquet"))
      val p = new Pipeline(
        source = source,
        reader = ctx => spark.read.parquet(ctx.files: _*),
        writer = (df, ctx) => ParquetSink.writeBatch(df, out, ctx.batchId),
        observer = new PipelineObserver {
          override def onBatchPlanned(id: Long, n: Int, b: Long): Unit = events += "planned"
          override def onStageEnd(id: Long, s: String, ms: Long,
              md: Map[String, String]): Unit = events += s
          override def onBatchCommitted(id: Long, md: Map[String, String]): Unit =
            events += "committed"
        },
        spark = spark)
      p.runOnce()
      assert(events.toSeq === Seq("plan", "planned", "read", "write", "commit", "committed"))
    }
  }

  test("lock: second concurrent run on same checkpoint fails") {
    withTmpDir { tmp =>
      val cp = s"$tmp/cp"
      PipelineLock.withLock(cp) {
        // A second JVM would hit the FileLock; same-JVM overlap raises too.
        intercept[CheckpointLockError] {
          PipelineLock.withLock(cp) { fail("should not enter") }
        }
      }
      // released -> can lock again
      PipelineLock.withLock(cp) { () }
    }
  }
}
