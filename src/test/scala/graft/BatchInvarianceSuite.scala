package graft

import graft.delta.{DeltaWriteMode, DeltaWriter}
import graft.functions.BatchConst
import graft.sources._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, GenerateUnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** A Delta source's micro-batch plan must not change with the batch:
  * per-batch values are bound by reference ([[BatchConst]]), so the
  * second batch of a plan shape reuses the first one's generated code,
  * and every read carries the log's schema, so no batch launches a
  * footer schema-inference job. */
class BatchInvarianceSuite extends SparkSpec {
  import spark.implicits._

  private def writer = new DeltaWriter(spark, conf)

  /** Spark jobs launched while `body` runs. The listener bus is async:
    * a fence job runs after `body`, and because one listener sees events
    * in order, every job `body` started has been counted once the fence
    * has. */
  private def countJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.test.jobProbe"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).flatMap(p => Option(p.getProperty(tag))).getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, "fence")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("fence") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains("fence"), "the fence job never reached the listener")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(l)
    }
    seen.toArray.count(_ == "body")
  }

  test("BatchConst: eval and codegen return the bound value; the code is value-free") {
    val ts = BatchConst(1700000000123L * 1000L, TimestampType)
    for ((a, b) <- Seq((BatchConst(7L, LongType), BatchConst(8L, LongType)),
        (ts, BatchConst(5L, TimestampType)))) {
      assert(!a.foldable)
      Seq(a, b).foreach { e =>
        assert(e.eval(null) === e.value)
        val proj = GenerateUnsafeProjection.generate(Seq(e))
        assert(proj(org.apache.spark.sql.catalyst.InternalRow.empty).getLong(0) === e.value)
      }
      // two values, one source text: the codegen cache key cannot differ
      def code(e: BatchConst) = { val ctx = new CodegenContext; e.genCode(ctx).code.toString }
      assert(code(a) === code(b))
    }
    // end to end through whole-stage codegen and the user-facing types
    val row = spark.range(1).select(BatchConst.long(42L).as("v"),
      BatchConst.timestampMs(1700000000123L).as("t")).head()
    assert(row.getLong(0) === 42L)
    assert(row.getTimestamp(1) === new java.sql.Timestamp(1700000000123L))
  }

  /** Per batch: (jobs the read launched, codegen compile ns of the read
    * and its query), over five CDF batches that each consume one commit
    * landed by `land(i)`; the table starts as ids 0..99. */
  private def cdfBatches(land: (String, Int) => Unit): Seq[(Int, Long)] =
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val out = s"$tmp/out"
      writer.write(spark.range(100).select(col("id"), (col("id") * 10).as("v")),
        t, DeltaWriteMode.Append)
      val src = new DeltaSource(t, new DeltaTableCheckpoint(s"$tmp/cp", conf),
        DeltaSourceOptions(startOffset = DeltaStartOffset.Latest, readChangeFeed = true))
      assert(src.planBatch().isEmpty)
      (1 to 5).map { i =>
        land(t, i)
        val b = src.planBatch().get
        // only the read and its query are measured, not the upstream commit
        val compileBefore = CodeGenerator.compileTime
        var df: org.apache.spark.sql.DataFrame = null
        val readJobs = countJobs { df = src.readBatch(spark, b) }
        df.groupBy(Cdc.CommitVersionCol, Cdc.ChangeTypeCol)
          .agg(count(lit(1)).as("n"), sum("id").as("sum_id"))
          .write.parquet(s"$out/batch_${b.batchId}")
        val compiled = CodeGenerator.compileTime - compileBefore
        src.commitBatch(b, Map.empty)
        assert(spark.read.parquet(s"$out/batch_${b.batchId}")
          .filter(col(Cdc.CommitVersionCol) === i).count() > 0, s"batch $i is empty")
        (readJobs, compiled)
      }
    }

  test("CDF batches of one commit kind compile once and read without a job") {
    val kinds: Seq[(String, (String, Int) => Unit)] = Seq(
      "append" -> { (t, i) =>
        writer.write(Seq((100L + i, 1L)).toDF("id", "v"), t, DeltaWriteMode.Append) },
      "cdc merge" -> { (t, i) =>
        DeltaCdc.applyCdcDelta(spark,
          Seq((i.toLong, 7L, "update_postimage", i.toLong), (200L + i, 1L, "insert", i.toLong))
            .toDF("id", "v", Cdc.ChangeTypeCol, Cdc.CommitVersionCol),
          t, Seq("id"), emitCdf = true) },
      "deletion-vector delete" -> { (t, i) =>
        assert(writer.deleteWhere(t, col("id") % 10 === 10 - i) > 0) })
    for ((kind, land) <- kinds) {
      val perBatch = cdfBatches(land)
      assert(perBatch.forall(_._1 == 0), s"$kind: jobs per batch read ${perBatch.map(_._1)}")
      assert(perBatch.head._2 > 0, s"$kind: the first batch must compile its plan")
      assert(perBatch.tail.forall(_._2 == 0),
        s"$kind: later batches compiled code again: ${perBatch.map(_._2)} ns per batch")
    }
  }

  test("a non-CDF batch spanning a mergeSchema append keeps the new column") {
    import org.apache.spark.sql.types._
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      // staged by hand so the OLDER file comes first both in version order
      // and by name: footer inference would read only it and drop `x`
      def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        df.coalesce(1).write.parquet(s"$tmp/stage-$name")
        val part = new java.io.File(s"$tmp/stage-$name").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
        java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(t, name))
      }
      stage(Seq((1L, "a")).toDF("id", "s"), "a-old.parquet")
      stage(Seq((2L, "b", 5.0)).toDF("id", "s", "x"), "b-new.parquet")
      val narrow = new StructType().add("id", LongType).add("s", StringType)
      def metaLine(schema: StructType) = {
        val md = graft.util.Jsons.obj()
        md.put("id", "merge-schema"); md.put("schemaString", schema.json)
        s"""{"metaData": ${graft.util.Jsons.render(md)}}"""
      }
      def commit(v: Long, lines: String*): Unit = {
        val dir = java.nio.file.Paths.get(t, "_delta_log")
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.write(dir.resolve(f"$v%020d.json"), lines.mkString("\n").getBytes)
      }
      def add(p: String) = s"""{"add": {"path": "$p", "size": 10, "dataChange": true}}"""
      commit(0, """{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}""",
        metaLine(narrow), add("a-old.parquet"))
      commit(1, metaLine(narrow.add("x", DoubleType)), add("b-new.parquet"))
      val src = new DeltaSource(t, new DeltaTableCheckpoint(s"$tmp/cp", conf),
        DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest))
      val b = src.planBatch().get
      assert(b.files.size === 2, "one batch must span both versions")
      val df = src.readBatch(spark, b)
      assert(df.columns.toSeq === Seq("id", "s", "x"))
      val rows = df.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSeq
      assert(rows === Seq((1L, "a", None), (2L, "b", Some(5.0))))
    }
  }

  test("a parquet FileSource batch takes its schema from one footer, without a job") {
    withTmpDir { tmp =>
      val in = s"$tmp/landing"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        df.coalesce(1).write.parquet(s"$tmp/stage-$name")
        val part = new java.io.File(s"$tmp/stage-$name").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(in, s"$name.parquet"))
      }
      val base = spark.range(3).select(col("id"), (col("id") * 1.5).as("x"),
        col("id").cast("int").as("i"), col("id").cast("string").as("s"),
        col("id").cast("decimal(12,3)").as("d"),
        to_date(lit("2024-02-29")).as("day"),
        timestamp_seconds(col("id") + 1700000000L).as("ts"),
        array(col("id"), lit(7L)).as("arr"),
        struct(col("id").as("a"), lit("b").as("b")).as("st"),
        map(lit("k"), col("id")).as("m"))
      land(base, "b0")
      // the next batch adds a column
      land(base.withColumn("note", concat(lit("n"), col("id").cast("string"))), "b1")
      val src = new FileSource(in, new FileStreamCheckpoint(s"$tmp/cp", conf), "parquet",
        FileSourceOptions(pattern = "*.parquet", maxFilesPerTrigger = Some(1)))
      for (name <- Seq("b0", "b1")) {
        val b = src.planBatch().get
        var df: org.apache.spark.sql.DataFrame = null
        assert(countJobs { df = src.readBatch(spark, b) } === 0, s"batch $name")
        assert(df.schema === spark.read.parquet(b.paths: _*).schema, s"batch $name")
        assert(df.collect().toSeq === spark.read.parquet(b.paths: _*).collect().toSeq)
        src.commitBatch(b, Map.empty)
      }
      assert(src.planBatch().isEmpty)
      // a two-file batch: inference reads the first file only, and so do we
      val src2 = new FileSource(in, new FileStreamCheckpoint(s"$tmp/cp2", conf), "parquet",
        FileSourceOptions(pattern = "*.parquet"))
      val b2 = src2.planBatch().get
      assert(b2.paths.size === 2)
      assert(src2.readBatch(spark, b2).schema === spark.read.parquet(b2.paths: _*).schema)
    }
  }

  /** A 4-file table of even ids 0..3998 plus two small commits (ids from
    * 10000), and a 300-row change batch over ids below 2000: 150 updates,
    * 30 deletes, 120 inserts of odd ids — so key-bound pruning leaves the
    * upper files untouched. */
  private def mergeFixture(t: String, batchDir: String): org.apache.spark.sql.DataFrame = {
    def rows(ids: org.apache.spark.sql.DataFrame) =
      ids.select(col("id"), (col("id") * 3).as("v"), (col("id") % 7).cast("string").as("cat"))
    writer.write(rows(spark.range(0, 2000).select((col("id") * 2).as("id")))
      .repartitionByRange(4, col("id")), t, DeltaWriteMode.Append)
    writer.write(rows(spark.range(10000, 10050).toDF("id")), t, DeltaWriteMode.Append)
    writer.write(rows(spark.range(10050, 10100).toDF("id")), t, DeltaWriteMode.Append)
    val updates = (0 until 150).map(k => (4L * k, -1L, "u", "update_postimage"))
    val deletes = (0 until 30).map(k => (4L * k + 2, 0L, "x", "delete"))
    val inserts = (0 until 120).map(k => (2L * k + 1, 1L, "i", "insert"))
    // the batch arrives as a landed parquet file, as a pipeline reads it
    (updates ++ deletes ++ inserts).toDF("id", "v", "cat", Cdc.ChangeTypeCol)
      .withColumn(Cdc.CommitVersionCol, lit(7L)).coalesce(1).write.parquet(batchDir)
    spark.read.parquet(batchDir)
  }

  private def copyDir(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(from)
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val dst = java.nio.file.Paths.get(to).resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    }
  }

  test("a DV merge plans once: at most 8 jobs, one log replay, the sequential result") {
    withTmpDir { tmp =>
      val fixture = s"$tmp/fixture"; val t = s"$tmp/silver"; val seq = s"$tmp/sequential"
      val changes = mergeFixture(fixture, s"$tmp/batch")
      // the fixture's own writes left its snapshot cached; copies at fresh
      // paths read their logs cold
      copyDir(fixture, t)
      copyDir(fixture, seq)
      def logReads(body: => Unit): Long = {
        val before = graft.delta.DeltaLogReader.filesRead.get()
        body
        graft.delta.DeltaLogReader.filesRead.get() - before
      }
      var r: MergeResult = null
      var jobs = 0
      val reads = logReads {
        jobs = countJobs {
          r = DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id"), txn = Some(("app", 1L)))
        }
      }
      assert(jobs <= 8, s"$jobs jobs")
      // versions 0..2, no checkpoint: one cold replay reads three commits
      assert(reads === 3, s"$reads log files read")
      // the next merge folds only the first one's commit onto the cached
      // snapshot; the batch re-applied leaves the same rows
      val reads2 = logReads {
        DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id"), txn = Some(("app", 2L)))
      }
      assert(reads2 === 1, s"$reads2 log files read by the second merge")

      // the sequential path from public primitives, applied as often:
      // bitmap-delete every touched key, then append the post-state
      val keys = changes.select("id").as[Long].collect().toSeq
      val w = writer
      // the second pass deletes the first's appended post-state
      for (deleted <- Seq(150 + 30, 150 + 120)) {
        assert(w.deleteWhere(seq, col("id").isin(keys: _*)) === deleted)
        w.write(changes.filter(col(Cdc.ChangeTypeCol) =!= "delete")
          .select("id", "v", "cat"), seq, DeltaWriteMode.Append)
      }

      val expectedRows = w.read(seq).orderBy("id").collect().toSeq
      assert(r === MergeResult(300, expectedRows.size, "merge",
        Map("update_postimage" -> 150L, "delete" -> 30L, "insert" -> 120L)))
      assert(w.read(t).orderBy("id").collect().toSeq === expectedRows)
      def cardinalities(p: String) = w.activeAdds(p)
        .flatMap(a => a.deletionVector.map(a.path -> _.cardinality)).toMap
      assert(cardinalities(t).nonEmpty)
      assert(cardinalities(t) === cardinalities(seq))
      // the pruning left the upper files untouched
      assert(w.activeAdds(t).count(_.deletionVector.isEmpty) >= 3)
      assert(w.lastTxnVersion(t, "app") === Some(2L))
    }
  }

  test("a failure in either concurrent half of a DV merge commits nothing and leaves no job") {
    val sc = spark.sparkContext
    // half a writes the payload, half b folds the bitmaps
    for (half <- Seq("a", "b")) withTmpDir { tmp =>
      val t = s"$tmp/silver"
      val changes = mergeFixture(t, s"$tmp/batch")
      val version = writer.latestVersion(t)
      val before = writer.read(t).orderBy("id").collect().toSeq
      val killed = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val tags = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          if (tags.exists(_.split(",").exists(_.endsWith(s"-$half")))) {
            killed.incrementAndGet()
            sc.cancelJob(j.jobId)
          }
        }
      }
      sc.addSparkListener(l)
      try intercept[Exception] {
        DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id"))
      } finally sc.removeSparkListener(l)
      assert(killed.get() > 0, s"half $half ran no job")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(sc.statusTracker.getActiveJobIds().isEmpty, s"half $half: a job is still running")
      assert(writer.latestVersion(t) === version, s"half $half: a commit landed")
      assert(writer.read(t).orderBy("id").collect().toSeq === before)
    }
  }
}
