package graft

import graft.core.PlanningError
import graft.delta.{DeletionVector, DeltaAction, DeltaLogReader, DeltaWriteMode, DeltaWriter, DvDescriptor}
import graft.sources.{DeltaSource, DeltaSourceOptions, DeltaStartOffset, DeltaTableCheckpoint}

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Delta deletion-vector reads: the formats (Z85, framed `.bin`,
  * RoaringBitmapArray) against spec vectors and round-trips, then the
  * engine-level behavior — batch reads drop exactly the deleted row
  * indices, time travel/restore/checkpoint preserve DV state, compaction
  * refuses to fold DV files blind, and the raw-file streaming source
  * refuses rather than resurrect. Formats follow the public Delta
  * PROTOCOL.md "Deletion Vectors" section and ZeroMQ RFC 32 (Z85). */
class DeletionVectorSuite extends SparkSpec with DeltaFixtures {
  import spark.implicits._

  private def writer = new DeltaWriter(spark, conf)

  private def dvJson(d: DvDescriptor): String = {
    val off = d.offset.map(o => s""""offset":$o,""").getOrElse("")
    s"""{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}",""" +
      s"""$off"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
  }

  /** Commit `version`: re-add `add` with a deletion vector (remove + add,
    * delta's DELETE-with-DV commit shape; stats intentionally dropped —
    * a foreign writer is not obliged to carry them). */
  private def commitDv(t: String, version: Long, add: DeltaAction.AddFile,
      d: DvDescriptor): Unit = {
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":${1000 + version}}}""",
      s"""{"remove":{"path":"${add.path}","dataChange":true}}""",
      s"""{"add":{"path":"${add.path}","size":${add.size},"dataChange":true,""" +
        s""""deletionVector":${dvJson(d)}}}""")
    Files.write(Paths.get(t, "_delta_log", f"$version%020d.json"),
      lines.mkString("\n").getBytes, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING)
  }

  test("z85 codec matches the RFC 32 reference vector and round-trips") {
    val hello = Array(0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B).map(_.toByte)
    assert(DeletionVector.z85Encode(hello) === "HelloWorld")
    assert(DeletionVector.z85Decode("HelloWorld").toSeq === hello.toSeq)
    val rnd = new scala.util.Random(7)
    val bytes = Array.fill(40)(rnd.nextInt().toByte)
    assert(DeletionVector.z85Decode(DeletionVector.z85Encode(bytes)).toSeq
      === bytes.toSeq)
  }

  test("RoaringBitmapArray round-trips row indices including >2^32 high words") {
    val rows = Seq(0L, 1L, 5L, 1000000L, (1L << 32) + 17L, (2L << 32) + 3L)
    val bms = DeletionVector.deserialize(DeletionVector.fromRowIndices(rows))
    assert(bms.length === 3)
    rows.foreach(r => assert(DeletionVector.contains(bms, r), s"missing $r"))
    Seq(2L, 999999L, (1L << 32) + 18L, (3L << 32) + 3L).foreach(r =>
      assert(!DeletionVector.contains(bms, r), s"phantom $r"))
  }

  test("batch read drops exactly the DV'd row indices; time travel sees them") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 10).toDF("id").coalesce(1), t, DeltaWriteMode.Append)
      val add = w.activeAdds(t).head
      val d = DeletionVector.writeDvFile(t, Seq(1L, 3L, 5L), conf)
      commitDv(t, 1, add, d)
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq
        === Seq(0L, 2L, 4L, 6L, 7L, 8L, 9L))
      assert(w.read(t, versionAsOf = Some(0)).count() === 10)
    }
  }

  test("inline (storageType=i) deletion vectors filter the same") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 6).toDF("id").coalesce(1), t, DeltaWriteMode.Append)
      val add = w.activeAdds(t).head
      commitDv(t, 1, add, DeletionVector.inlineDescriptor(Seq(0L, 4L)))
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq
        === Seq(1L, 2L, 3L, 5L))
    }
  }

  test("DVs filter multi-file tables per file and survive checkpoint + log expiry") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 5).toDF("id").coalesce(1), t, DeltaWriteMode.Append)
      w.write(spark.range(10, 15).toDF("id").coalesce(1), t, DeltaWriteMode.Append)
      // DV only the SECOND file (row indices are per file: drop 10 and 12)
      val v1Adds = w.activeAdds(t)
      val target = v1Adds.find(a =>
        w.readAdds(t, Seq(a)).agg(org.apache.spark.sql.functions.min("id"))
          .head().getLong(0) == 10L).get
      commitDv(t, 2, target, DeletionVector.writeDvFile(t, Seq(0L, 2L), conf))
      val expect = Seq(0L, 1L, 2L, 3L, 4L, 11L, 13L, 14L)
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq === expect)
      // checkpoint carries the DV descriptor; expired JSON log still reads right
      w.checkpoint(t)
      w.expireLogs(t)
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq === expect,
        "checkpoint must carry deletion vectors — dropping one resurrects rows")
    }
  }

  test("CDC merge into a DV table does not resurrect deleted rows") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write((0L until 6L).map(i => (i, i * 10)).toDF("id", "v").coalesce(1),
        t, DeltaWriteMode.Append)
      val add = w.activeAdds(t).head
      // row indices 1 and 2 = ids 1 and 2 deleted
      commitDv(t, 1, add, DeletionVector.writeDvFile(t, Seq(1L, 2L), conf))
      val changes = Seq((0L, Some(99L), "update_postimage", 1L),
        (7L, Some(70L), "insert", 1L))
        .toDF("id", "v", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      val res = DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id"))
      val out = w.read(t).orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(out.toSeq === Seq((0L, 99L), (3L, 30L), (4L, 40L), (5L, 50L), (7L, 70L)))
      assert(res.rowsOut === 5)
    }
  }

  test("restore re-adds a DV'd file with its deletion vector intact") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 5).toDF("id").coalesce(1), t, DeltaWriteMode.Append)
      val add = w.activeAdds(t).head
      commitDv(t, 1, add, DeletionVector.writeDvFile(t, Seq(0L), conf)) // drop id 0
      w.write(spark.range(100, 103).toDF("id"), t, DeltaWriteMode.Overwrite) // v2
      w.restore(t, 1)
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq
        === Seq(1L, 2L, 3L, 4L), "restore dropped the deletion vector")
    }
  }

  test("a logical file is (path, deletion vector): restore undoes a vector " +
      "change, and every remove carries the vector its add had") {
    import graft.util.Jsons
    import org.apache.spark.sql.functions.col
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 10).toDF("id").coalesce(1), t, DeltaWriteMode.Append)
      assert(w.deleteWhere(t, col("id") < 2) === 2L)  // v1: the one file gains a vector
      assert(w.deleteWhere(t, col("id") === 5) === 1L) // v2: the vector changes
      w.restore(t, 0)                                  // v3
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq === (0L to 9L),
        "restore kept the newer deletion vector")
      // replay the raw log: a remove must name the vector of the add it ends
      var active = Map.empty[String, Option[com.fasterxml.jackson.databind.JsonNode]]
      var checked = 0
      for (v <- 0L to w.latestVersion(t).get) {
        val lines = Files.readAllLines(Paths.get(f"$t/_delta_log/$v%020d.json"))
        val actions = (0 until lines.size).map(i => Jsons.parse(lines.get(i)))
        for (r <- actions.flatMap(a => Option(a.get("remove")))) {
          val path = r.get("path").asText()
          val dv = active.getOrElse(path, fail(s"v$v removes $path, which is not active"))
          assert(Option(r.get("deletionVector")) === dv, s"v$v remove of $path")
          if (dv.isDefined) checked += 1
          active -= path
        }
        for (a <- actions.flatMap(a => Option(a.get("add"))))
          active += a.get("path").asText() -> Option(a.get("deletionVector"))
      }
      assert(checked === 2, "the v2 and v3 removes both end a file with a vector")
    }
  }

  test("deleteWhere deletes via bitmaps: no file rewrite, unions across deletes") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 100).toDF("id"), t, DeltaWriteMode.Append)
      val pathsBefore = w.activeAdds(t).map(_.path).toSet
      val v0 = w.latestVersion(t).get
      assert(w.deleteWhere(t, org.apache.spark.sql.functions.col("id") % 10 === 3) === 10L)
      // the delete is a metadata commit: every data file survives under its
      // own path, only DV descriptors changed
      assert(w.activeAdds(t).map(_.path).toSet === pathsBefore)
      assert(w.activeAdds(t).exists(_.deletionVector.isDefined))
      assert(w.read(t).count() === 90L)
      assert(w.read(t).filter("id % 10 = 3").count() === 0L)
      // a second delete unions into the existing vectors, never resurrects
      assert(w.deleteWhere(t, org.apache.spark.sql.functions.col("id") < 20) === 18L)
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq
        === (20L until 100L).filterNot(_ % 10 == 3))
      // matching nothing commits nothing
      val v = w.latestVersion(t).get
      assert(w.deleteWhere(t, org.apache.spark.sql.functions.col("id") > 1000) === 0L)
      assert(w.latestVersion(t).get === v)
      // time travel still sees the pre-delete state
      assert(w.read(t, versionAsOf = Some(v0)).count() === 100L)
      // a DV commit upgrades the table protocol in the SAME commit — under
      // reader 1/2 a compliant foreign reader may ignore the vectors
      val protos = new DeltaLogReader(conf).readCommit(t, v0 + 1).actions.collect {
        case p: DeltaAction.Protocol => p }
      assert(protos.exists(p => p.minReaderVersion == 3 &&
        p.readerFeatures.contains("deletionVectors")),
        "DV-introducing commit must carry the protocol upgrade")
    }
  }

  test("DV delete path materializes zero bitmap bytes on the driver") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 1000).toDF("id").repartition(4), t, DeltaWriteMode.Append)
      val before = DeletionVector.driverBitmapBytes.get()
      assert(w.deleteWhere(t, org.apache.spark.sql.functions.col("id") % 10 === 3)
        === 100L)
      assert(DeletionVector.driverBitmapBytes.get() === before,
        "DV fold/union/framing must run in executor tasks, never the driver")
      // a SECOND delete unions with existing vectors and scans a DV-bearing
      // table — both the union (write side) and the scan's lazy loads
      // (read side) happen in tasks, so the counter still must not move
      val before2 = DeletionVector.driverBitmapBytes.get()
      assert(w.deleteWhere(t, org.apache.spark.sql.functions.col("id") % 10 === 4)
        === 100L)
      assert(w.read(t).count() === 800L)
      assert(DeletionVector.driverBitmapBytes.get() === before2,
        "DV scans broadcast descriptors; executors lazy-load the bitmaps")
    }
  }

  test("a wide delete fans out to multiple DV writer tasks, one .bin per task") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      // 150 files > the 64-files-per-writer-task packing target -> the
      // fold must fan out to >1 writer task and produce >1 packed .bin
      w.write(spark.range(0, 1500).toDF("id").repartition(150), t,
        DeltaWriteMode.Append)
      assert(w.activeAdds(t).size === 150)
      assert(w.deleteWhere(t, org.apache.spark.sql.functions.col("id") % 2 === 0)
        === 750L)
      val bins = new java.io.File(t).listFiles()
        .filter(f => f.getName.startsWith("deletion_vector_") &&
          f.getName.endsWith(".bin"))
      assert(bins.length >= 2,
        s"150 touched files must pack into >1 .bin (${bins.length})")
      val adds = w.activeAdds(t)
      assert(adds.forall(_.deletionVector.isDefined))
      // every descriptor resolves into one of the task-written bins and
      // the logical table reads back exactly
      assert(adds.flatMap(_.deletionVector)
        .flatMap(d => DeletionVector.resolvePath(t, d)).toSet.size === bins.length)
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq
        === (1L until 1500L by 2).toSeq)
    }
  }

  test("a scan over the DV byte budget fails loudly and names the remedy") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 100).toDF("id").coalesce(1), t, DeltaWriteMode.Append)
      assert(w.deleteWhere(t, org.apache.spark.sql.functions.col("id") < 10) === 10L)
      spark.conf.set("graft.delta.maxDvScanBytes", "4")
      try {
        val e = intercept[PlanningError](w.read(t).count())
        assert(e.getMessage.contains("purgeDeletionVectors"))
        assert(e.getMessage.contains("graft.delta.maxDvScanBytes"))
      } finally spark.conf.unset("graft.delta.maxDvScanBytes")
      assert(w.read(t).count() === 90L) // budget restored, scan works again
    }
  }

  test("schema-merged appends null-fill DV'd files and vectors keep applying") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write((0L until 10L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1),
        t, DeltaWriteMode.Append)
      w.deleteWhere(t, org.apache.spark.sql.functions.col("id") === 4L)
      w.write(Seq((100L, 1L, "x")).toDF("id", "v", "tag"), t,
        DeltaWriteMode.Append, mergeSchema = true)
      val out = w.read(t).orderBy("id").collect()
      assert(out.length === 10) // 10 - 1 deleted + 1 appended
      assert(!out.map(_.getLong(0)).contains(4L),
        "the DV must keep applying after a schema merge")
      val old = out.find(_.getLong(0) === 0L).get
      assert(old.isNullAt(old.fieldIndex("tag")), "pre-merge rows null-fill new cols")
    }
  }

  test("deleteWhere drops a fully-deleted file outright and respects partitions") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      val df = (0L until 40L).map(i => (i, if (i < 20) "a" else "b")).toDF("id", "part")
      w.write(df, t, DeltaWriteMode.Append, partitionBy = Seq("part"))
      // wipe partition a entirely: its files' physical rows are all deleted,
      // so they leave the snapshot as removes, not DV adds
      assert(w.deleteWhere(t, org.apache.spark.sql.functions.col("part") === "a") === 20L)
      val adds = w.activeAdds(t)
      assert(adds.forall(_.partitionValues.get("part").contains("b")))
      assert(adds.forall(_.deletionVector.isEmpty),
        s"fully-deleted files must be removed, not DV'd: $adds")
      // partial delete inside partition b keeps the hive layout + pruning
      assert(w.deleteWhere(t, org.apache.spark.sql.functions.col("id") === 25L) === 1L)
      assert(w.partitionColumnsOf(t) === Seq("part"))
      val pruned = w.readPartitions(t, Map("part" -> "b"))
      assert(pruned.orderBy("id").collect().map(_.getLong(0)).toSeq
        === ((20L until 40L).filterNot(_ == 25L)))
      assert(w.read(t).count() === 19L)
    }
  }

  test("Auto CDC merge goes through deletion vectors and matches the rewrite result") {
    withTmpDir { tmp =>
      import org.apache.spark.sql.functions.col
      val (t1, t2) = (s"$tmp/dv", s"$tmp/rw")
      val w = writer
      val base = (0L until 20L).map(i => (i, i * 10)).toDF("id", "v")
        .repartitionByRange(2, col("id"))
      w.write(base, t1, DeltaWriteMode.Append)
      w.write(base, t2, DeltaWriteMode.Append)
      val pathsBefore = w.activeAdds(t1).map(_.path).toSet
      val changes = Seq(
        (3L, Some(333L), "update_postimage", 1L),
        (5L, Option.empty[Long], "delete", 1L),
        (100L, Some(1L), "insert", 1L))
        .toDF("id", "v", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      val rDv = DeltaCdc.applyCdcDelta(spark, changes, t1, Seq("id"))
      val rRw = DeltaCdc.applyCdcDelta(spark, changes, t2, Seq("id"),
        strategy = MergeStrategy.Rewrite)
      // identical externally-visible outcome...
      assert(rDv.rowsOut === rRw.rowsOut)
      assert(rDv.rowsOut === 20L) // 20 - 1 delete + 1 insert + update in place
      def state(t: String) = w.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(state(t1) === state(t2))
      // ...but the DV merge rewrote nothing: every original file survives
      // under its own path, the touched one now carrying a vector
      val after = w.activeAdds(t1)
      assert(pathsBefore.subsetOf(after.map(_.path).toSet),
        "DV merge must not rewrite touched files")
      assert(after.exists(_.deletionVector.isDefined))
    }
  }

  test("DV merge stamps txn and CDF in the same commit; widening stays on the DV path") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write((0L until 10L).map(i => (i, i)).toDF("id", "v").coalesce(1),
        t, DeltaWriteMode.Append)
      val changes = Seq((1L, Some(11L), "update_postimage", 1L))
        .toDF("id", "v", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id"),
        emitCdf = true, txn = Some(("app", 9L)))
      assert(w.lastTxnVersion(t, "app") === Some(9L),
        "the txn watermark must ride the DV merge's own commit")
      val commit = new DeltaLogReader(conf).readCommit(t, 1)
      assert(commit.adds.exists(_.deletionVector.isDefined))
      assert(commit.cdcs.nonEmpty, "CDF parts must land in the same commit")
      // a schema-widening batch takes the DV path too: the SAME commit
      // widens the metaData schema, old rows null-fill `extra` at read
      val widening = Seq((2L, Some(22L), Some("x"), "update_postimage", 2L))
        .toDF("id", "v", "extra", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      DeltaCdc.applyCdcDelta(spark, widening, t, Seq("id"),
        strategy = MergeStrategy.DeletionVectors)
      val widened = new DeltaLogReader(conf).readCommit(t, 2)
      assert(widened.adds.exists(_.deletionVector.isDefined),
        "widening merge must still commit via deletion vectors")
      assert(w.tableSchema(t).exists(_.fieldNames.contains("extra")),
        "the DV commit itself must widen the declared schema")
      assert(w.read(t).filter("extra = 'x'").count() === 1L)
      assert(w.read(t).filter("extra IS NULL").count() === 9L,
        "pre-widening rows must null-fill the new column at read")
      assert(w.read(t).filter("id = 2 AND v = 22").count() === 1L)
    }
  }

  test("purgeDeletionVectors rewrites survivors, drops vectors, vacuum reclaims bins") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 50).toDF("id"), t, DeltaWriteMode.Append)
      assert(w.deleteWhere(t, org.apache.spark.sql.functions.col("id") < 10) === 10L)
      val before = w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq
      val purged = w.purgeDeletionVectors(t)
      assert(purged > 0)
      val after = w.activeAdds(t)
      assert(after.forall(_.deletionVector.isEmpty), "purge must drop every vector")
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq === before)
      // purge is idempotent and invisible to tailing readers (dataChange=false)
      assert(w.purgeDeletionVectors(t) === 0)
      // vacuum reclaims the now-unreferenced .bin and shadowed parquet
      val reclaimed = w.vacuum(t, retentionMs = -1000)
      assert(reclaimed > 0)
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq === before)
    }
  }

  /** Spark jobs launched while `body` runs (listener bus is async — poll
    * until the count is stable before reading it). */
  private def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val cur = n.get
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      spark.sparkContext.removeSparkListener(l)
    }
    n.get
  }

  test("purge and compact job counts are independent of partition count") {
    import org.apache.spark.sql.functions.{col, pmod}
    def purgeJobs(nParts: Int): Int = withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(
        spark.range(0, 60 * nParts).toDF("id")
          .withColumn("part", pmod(col("id"), org.apache.spark.sql.functions.lit(nParts))),
        t, DeltaWriteMode.Append, partitionBy = Seq("part"))
      assert(w.deleteWhere(t, col("id") % 60 < 5) > 0) // DVs in EVERY partition
      countJobs { assert(w.purgeDeletionVectors(t) > 0) }
    }
    // hold the FILE count constant (12) while varying the partition count:
    // Spark's scan machinery may add an internal job as file counts grow,
    // but the job count must not track the number of hive partitions (the
    // old shape was one driver-looped write job per partition group)
    def compactJobs(nParts: Int): Int = withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      val appends = 12 / nParts // nParts files per append
      (0 until appends).foreach { _ =>
        w.write(
          spark.range(0, 60 * nParts).toDF("id")
            .withColumn("part", pmod(col("id"), org.apache.spark.sql.functions.lit(nParts))),
          t, DeltaWriteMode.Append, partitionBy = Seq("part"))
      }
      val jobs = countJobs { w.compact(t) }
      assert(w.read(t).count() === 60L * nParts * appends, "compact must not lose rows")
      assert(w.activeAdds(t).forall(_.partitionValues.nonEmpty),
        "compacted files must keep their hive partition attribution")
      jobs
    }
    val p2 = purgeJobs(2); val p6 = purgeJobs(6)
    assert(p2 === p6, s"purge jobs must not scale with partitions ($p2 vs $p6)")
    val c2 = compactJobs(2); val c6 = compactJobs(6)
    assert(c2 === c6, s"compact jobs must not scale with partitions ($c2 vs $c6)")
    // and the layout survives: both ops preserved hive dirs (checked by the
    // lifecycle tests above reading back through partition re-materialization)
  }

  test("purge and compact each plan from one log replay") {
    withTmpDir { tmp =>
      import org.apache.spark.sql.functions.col
      val t = s"$tmp/table"
      writer.write(spark.range(0, 40).toDF("id").repartition(4), t, DeltaWriteMode.Append)
      writer.write(spark.range(40, 60).toDF("id").coalesce(1), t, DeltaWriteMode.Append)
      assert(writer.deleteWhere(t, col("id") % 10 === 0) > 0)
      // the process keeps the snapshot the delete planned from (v1): the
      // purge folds only the delete's commit onto it, and the compact
      // only the purge's
      val before = DeltaLogReader.filesRead.get()
      assert(writer.purgeDeletionVectors(t) > 0)
      assert(DeltaLogReader.filesRead.get() - before === 1)
      val beforeCompact = DeltaLogReader.filesRead.get()
      writer.compact(t, smallFileBytes = 1L << 30)
      assert(DeltaLogReader.filesRead.get() - beforeCompact === 1)
      assert(writer.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq ===
        (0L until 60L).filterNot(_ % 10 == 0))
    }
  }

  test("Rewrite and DeletionVectors merges agree on random change batches") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, concat, lit}
    import org.apache.spark.sql.types.MetadataBuilder
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    case class Change(id: Long, kind: String, v: Long, part: Long, twiceOff: Long)
    val changeGen = for {
      id <- Gen.choose(1L, 12L) // keys 1..8 exist: repeats, hits and misses
      kind <- Gen.frequency(3 -> "update_postimage", 2 -> "insert",
        2 -> "delete", 1 -> "update_preimage")
      v <- Gen.choose(-3L, 30L)
      part <- Gen.choose(0L, 2L)
      twiceOff <- Gen.frequency(9 -> 0L, 1 -> 1L)
    } yield Change(id, kind, v, part, twiceOff)
    // (changes, widens with `extra`, provides the generated column)
    val batchGen = Gen.zip(Gen.choose(1, 8).flatMap(Gen.listOfN(_, changeGen)),
      Gen.frequency(3 -> false, 1 -> true), Gen.oneOf(false, true))

    /** A table kind: how to create its seed (keys 1..8 in two files) and
      * whether batches carry the partition or generated column. */
    case class Kind(name: String, partitioned: Boolean, generated: Boolean,
        create: String => Unit)
    def seed = (1L to 8L).map(i => (i, i * 3)).toDF("id", "v")
      .repartitionByRange(2, col("id"))
    val twiceMeta = new MetadataBuilder()
      .putString("delta.generationExpression", "v * 2").build()
    val kinds = Seq(
      Kind("plain", false, false, t => writer.write(seed, t, DeltaWriteMode.Append)),
      Kind("partitioned", true, false, t => writer.write(
        seed.withColumn("part", col("id") % 3), t, DeltaWriteMode.Append,
        partitionBy = Seq("part"))),
      Kind("mapped", false, false, { t =>
        writer.write(seed, t, DeltaWriteMode.Append)
        writer.upgradeToColumnMapping(t)
      }),
      Kind("check", false, false, { t =>
        writer.write(seed, t, DeltaWriteMode.Append)
        writer.addCheckConstraint(t, "v_nonneg", "v >= 0")
      }),
      Kind("generated", false, true, t => writer.write(
        seed.withColumn("twice", col("v") * 2).withMetadata("twice", twiceMeta), t,
        DeltaWriteMode.Append)))

    def batchDf(k: Kind, changes: Seq[Change], widen: Boolean,
        withTwice: Boolean): DataFrame = {
      // a distinct commit version per row: latest-wins is a total order
      var df = changes.zipWithIndex.map { case (c, i) =>
        (c.id, c.v, c.part, c.twiceOff, c.kind, i.toLong) }
        .toDF("id", "v", "part", "off", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      if (k.generated && withTwice) df = df.withColumn("twice", col("v") * 2 + col("off"))
      if (widen) df = df.withColumn("extra", concat(lit("x"), col("id").cast("string")))
      df = df.drop("off")
      if (k.partitioned) df else df.drop("part")
    }
    /** The rejection up to the row dump, or the table's sorted rows (column
      * names first) with the merge's rows_out. */
    def outcome(t: String, batch: DataFrame, s: MergeStrategy): Either[String, (Long, Seq[String])] = {
      val at = writer.latestVersion(t)
      try {
        val r = DeltaCdc.applyCdcDelta(spark, batch, t, Seq("id"), strategy = s)
        val df = writer.read(t)
        val cols = df.columns.sorted
        Right((r.rowsOut, cols.mkString(",") +:
          df.select(cols.toSeq.map(col): _*).collect().map(_.toString).sorted.toSeq))
      } catch { case e: Exception =>
        assert(writer.latestVersion(t) === at, s"$s committed a failed merge")
        Left(writeRejection(e))
      }
    }

    var (committed, rejected) = (0, 0)
    withTmpDir { tmp =>
      for ((k, ki) <- kinds.zipWithIndex; c <- 0 until 3) {
        val (rw, dv) = (s"$tmp/${k.name}-$c-rw", s"$tmp/${k.name}-$c-dv")
        k.create(rw); k.create(dv)
        // two batches in a row: the second merges over the first's vectors
        for (b <- 0 until 2) {
          val (changes, widen, withTwice) = batchGen(Gen.Parameters.default,
            Seed(4200L + ki * 100 + c * 10 + b)).get
          val batch = batchDf(k, changes, widen, withTwice)
          val expected = outcome(rw, batch, MergeStrategy.Rewrite)
          assert(outcome(dv, batch, MergeStrategy.DeletionVectors) === expected,
            s"${k.name} case $c batch $b: $changes widen=$widen twice=$withTwice")
          if (expected.isLeft) rejected += 1 else committed += 1
        }
      }
    }
    // the sampled batches exercise both outcomes
    assert(committed > 0 && rejected > 0, s"committed $committed, rejected $rejected")
  }

  test("vacuum keeps .bin files the current snapshot still references") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 30).toDF("id"), t, DeltaWriteMode.Append)
      w.deleteWhere(t, org.apache.spark.sql.functions.col("id") === 7L)
      val before = w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq
      w.vacuum(t, retentionMs = -1000)
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq === before,
        "vacuum must never delete a LIVE deletion vector")
    }
  }

  test("DV mark phase broadcasts change keys and partial-aggregates bitmaps") {
    withTmpDir { tmp =>
      import org.apache.spark.sql.{Encoders, functions => F}
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 1000).toDF("id"), t, DeltaWriteMode.Append)
      val adds = w.activeAdds(t)
      val changeKeys = Seq(5L, 6L, 7L).toDF("id")
      val marked = w.scanAddsWithRowMeta(t, adds)
        .join(F.broadcast(changeKeys), Seq("id"), "left_semi")
        .select(F.col(w.RowMetaFile), F.col(w.RowMetaIndex))
      val dvAgg = F.udaf(new graft.delta.DvRowAgg(), Encoders.scalaLong)
      val agged = marked.groupBy(w.RowMetaFile)
        .agg(dvAgg(F.col(w.RowMetaIndex)))
      agged.collect()
      val plan = agged.queryExecution.executedPlan.toString
      // the change-key side broadcasts (the corpus never shuffles for the
      // semi join) and the bitmap aggregation combines map-side, so the
      // exchange carries one bitmap buffer per (partition, file)
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
        s"change keys must broadcast:\n${plan.take(1200)}")
      assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_"),
        s"bitmap agg must partial-aggregate map-side:\n${plan.take(1200)}")
    }
  }

  test("compact leaves DV-bearing files alone; tailing a DV commit needs ignoreChanges") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 5).toDF("id").coalesce(1), t, DeltaWriteMode.Append)
      w.write(spark.range(10, 15).toDF("id").coalesce(1), t, DeltaWriteMode.Append)
      w.write(spark.range(20, 25).toDF("id").coalesce(1), t, DeltaWriteMode.Append)
      val dvAdd = w.activeAdds(t).head
      commitDv(t, 3, dvAdd, DeletionVector.writeDvFile(t, Seq(1L), conf))
      val before = w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq
      w.compact(t, smallFileBytes = 1024 * 1024)
      val after = w.activeAdds(t)
      assert(after.map(_.path).contains(dvAdd.path),
        "the DV'd file must not be folded into a compacted part")
      assert(after.size === 2, "the two non-DV small files should compact into one")
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq === before)
      // the DV commit is a remove + re-add: an update, so plain tailing
      // refuses with the ignore_changes hint (delta-spark's contract) ...
      val cp = new DeltaTableCheckpoint(s"$tmp/cp", conf)
      val e = intercept[PlanningError] {
        cp.planBatch(t, DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest))
      }
      assert(e.getMessage.contains("ignore_changes"), e.getMessage)
      // ... and WITH ignoreChanges the re-served file streams its SURVIVING
      // rows: the deleted id never appears, everything else does
      val src = new DeltaSource(t, new DeltaTableCheckpoint(s"$tmp/cp2", conf),
        DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest,
          ignoreChanges = true))
      val b = src.planBatch().get
      val ids = src.readBatch(spark, b).select("id").collect()
        .map(_.getLong(0)).toSet
      assert(ids === before.toSet,
        "streamed rows must be exactly the survivors (DV applied at read)")
    }
  }

  test("CDF serves deleteWhere commits by diffing vectors: deletes, no cdc files") {
    withTmpDir { tmp =>
      import org.apache.spark.sql.functions.col
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 10).toDF("id").coalesce(1), t, DeltaWriteMode.Append)   // v0: file A
      w.write(spark.range(10, 20).toDF("id").coalesce(1), t, DeltaWriteMode.Append)  // v1: file B
      assert(w.deleteWhere(t, col("id") < 3) === 3L)                                 // v2: DV on A
      assert(w.deleteWhere(t, col("id") >= 3 && col("id") < 10) === 7L)              // v3: A fully deleted
      val src = new DeltaSource(t, new DeltaTableCheckpoint(s"$tmp/cp", conf),
        DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest,
          readChangeFeed = true))
      val b = src.planBatch().get
      val rows = src.readBatch(spark, b)
        .select("id", Cdc.ChangeTypeCol, Cdc.CommitVersionCol).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val expected =
        (0L until 10L).map(i => (i, "insert", 0L)).toSet ++
        (10L until 20L).map(i => (i, "insert", 1L)).toSet ++
        (0L until 3L).map(i => (i, "delete", 2L)).toSet ++
        (3L until 10L).map(i => (i, "delete", 3L)).toSet
      assert(rows === expected,
        "DV commits must reconstruct their deletes from old/new vector diffs")
    }
  }

  test("snapshot-start streaming after deleteWhere yields the surviving rows") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(spark.range(0, 50).toDF("id").repartition(2), t, DeltaWriteMode.Append)
      assert(w.deleteWhere(t, org.apache.spark.sql.functions.col("id") % 5 === 0)
        === 10L)
      val cp = new DeltaTableCheckpoint(s"$tmp/cp", conf)
      val src = new DeltaSource(t, cp, DeltaSourceOptions()) // snapshot start
      val b = src.planBatch().get
      val ids = src.readBatch(spark, b).select("id").collect()
        .map(_.getLong(0)).toSet
      assert(ids === (0L until 50L).filterNot(_ % 5 == 0).toSet,
        "initial snapshot must apply the deletion vectors")
      src.commitBatch(b, Map.empty)
      // a LATER delete tails as an update; with ignoreChanges the re-added
      // file streams survivors of BOTH vectors (old union new)
      assert(w.deleteWhere(t, org.apache.spark.sql.functions.col("id") === 1L)
        === 1L)
      val src2 = new DeltaSource(t, cp, DeltaSourceOptions(ignoreChanges = true))
      val b2 = src2.planBatch().get
      val ids2 = src2.readBatch(spark, b2).select("id").collect()
        .map(_.getLong(0)).toSet
      assert(ids2.nonEmpty && !ids2.contains(1L) && ids2.forall(_ % 5 != 0),
        s"re-served file must stream survivors only, got $ids2")
    }
  }

  test("DvProbeExpr.toString never touches its broadcast") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bc = spark.sparkContext.broadcast(
      graft.delta.DvScanMeta(Map.empty, new graft.util.SerializableConf(conf)))
    val e = graft.delta.DvProbeExpr(Literal("f"), Literal(0L), bc, None, "t")
    bc.destroy()
    intercept[org.apache.spark.SparkException](bc.value)
    assert(e.toString === "dv_deleted(f, 0)")
  }

  /** Probes of (path, row) sequences through ONE expression instance (the
    * memo carries across rows) and through a fresh instance per row. */
  private def probeRuns(delta: Boolean, seq: Seq[(String, Long)])
      : (Seq[Boolean], Seq[Boolean]) = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    // inline vectors need no files; "c" has no vector in either map
    val newVecs = Map("/t/a.parquet" -> DeletionVector.inlineDescriptor(Seq(1L, 3L)),
      "/t/b.parquet" -> DeletionVector.inlineDescriptor(Seq(0L, 2L, 5L)))
    val oldVecs = Map("/t/b.parquet" -> DeletionVector.inlineDescriptor(Seq(2L)),
      "/t/d.parquet" -> DeletionVector.inlineDescriptor(Seq(0L)))
    def keyed(m: Map[String, DvDescriptor]) =
      m.map { case (p, d) => p -> (s"probe-test-${d.pathOrInlineDv}", d) }
    val bc = spark.sparkContext.broadcast(
      graft.delta.DvScanMeta(keyed(newVecs), new graft.util.SerializableConf(conf)))
    val bcOld = spark.sparkContext.broadcast(keyed(oldVecs))
    def expr() = graft.delta.DvProbeExpr(Literal("f"), Literal(0L), bc,
      if (delta) Some(bcOld) else None, "/t")
    def run(e: graft.delta.DvProbeExpr, p: String, i: Long) = {
      val u = UTF8String.fromString(p)
      if (delta) e.probeDelta(u, i) else e.probe(u, i)
    }
    val shared = expr()
    (seq.map { case (p, i) => run(shared, p, i) }, seq.map { case (p, i) => run(expr(), p, i) })
  }

  test("DvProbeExpr memoizes the last file and still answers every row") {
    // runs of one file, a return to an earlier file, a file with no
    // vector, and two spellings of one path
    val seq = Seq(("file:///t/a.parquet", 0L), ("file:///t/a.parquet", 1L),
      ("file:///t/a.parquet", 3L), ("file:///t/b.parquet", 2L),
      ("file:///t/c.parquet", 1L), ("file:///t/c.parquet", 3L),
      ("file:///t/a.parquet", 3L), ("file:/t/a.parquet", 1L),
      ("file:///t/b.parquet", 5L), ("file:///t/b.parquet", 4L),
      ("file:///t/d.parquet", 0L), ("file:///t/d.parquet", 1L))
    val (deleted, deletedFresh) = probeRuns(delta = false, seq)
    assert(deleted === deletedFresh)
    assert(deleted === Seq(false, true, true, true, false, false, true, true,
      true, false, false, false))
    // CDF deltas: in the new vector (or the file is gone from it) and not
    // in the old one
    val (deltas, deltasFresh) = probeRuns(delta = true, seq)
    assert(deltas === deltasFresh)
    assert(deltas === Seq(false, true, true, false, true, true, true, true,
      true, false, false, true))
  }

  test("a serialized DvProbeExpr holds no Hadoop Configuration") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bc = spark.sparkContext.broadcast(graft.delta.DvScanMeta(
      Map("/t/a.parquet" -> ("k", DeletionVector.inlineDescriptor(Seq(1L)))),
      new graft.util.SerializableConf(conf)))
    val e = graft.delta.DvProbeExpr(Literal("f"), Literal(0L), bc, None, "/t")
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(e); out.close()
    val classes = scala.collection.mutable.ArrayBuffer.empty[String]
    val in = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bytes.toByteArray)) {
      override def resolveClass(d: java.io.ObjectStreamClass): Class[_] = {
        classes += d.getName
        super.resolveClass(d)
      }
    }
    val back = in.readObject().asInstanceOf[graft.delta.DvProbeExpr]
    assert(!classes.exists(c => c.contains("SerializableConf") ||
      c.contains("hadoop.conf")), classes.mkString(", "))
    // the conf rides the scan's broadcast, resolved once per executor
    assert(back.meta.id === bc.id)
  }
}
