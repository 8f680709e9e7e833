package graft

import graft.core._
import graft.delta.{DeltaLogReader, DeltaWriteMode, DeltaWriter}
import graft.sources._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Fixtures match the reference suite: hand-written `_delta_log` JSON-lines
  * commits + touched text stand-ins for data files
  * (`tests/test_delta_checkpoint.py:10-23`); planner tests never read real
  * parquet. */
trait DeltaFixtures { self: SparkSpec =>
  def writeLog(table: String, version: Long, lines: String*): Unit = {
    val dir = Paths.get(table, "_delta_log")
    Files.createDirectories(dir)
    Files.write(dir.resolve(f"$version%020d.json"),
      lines.mkString("\n").getBytes, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING)
  }

  def touchData(table: String, names: String*): Unit =
    names.foreach { n =>
      val p = Paths.get(table, n)
      Files.createDirectories(p.getParent)
      Files.write(p, "data".getBytes, StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING)
    }

  def meta(id: String = "table-1") = s"""{"metaData": {"id": "$id"}}"""
  def ci(ts: Long) = s"""{"commitInfo": {"timestamp": $ts}}"""
  def add(path: String, size: Long = 10, dataChange: Boolean = true) =
    s"""{"add": {"path": "$path", "size": $size, "dataChange": $dataChange}}"""
  def remove(path: String, dataChange: Boolean = true) =
    s"""{"remove": {"path": "$path", "dataChange": $dataChange}}"""
  def cdc(path: String, size: Long = 5) =
    s"""{"cdc": {"path": "$path", "size": $size}}"""

  def names(b: BatchInfo): Seq[String] = b.files.map(f => new File(f.path).getName)

  /** A write-check rejection ([[graft.delta.WriteChecks]]) from anywhere in
    * `e`'s cause chain, cut before the row dump that names the violating
    * row; fails the test when `e` is any other failure. */
  def writeRejection(e: Throwable): String = {
    val m = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val at = m.indexOf("delta write rejected:")
    assert(at >= 0, s"expected a write-check rejection, got: $m")
    m.substring(at, m.indexOf(" violated by row", at))
  }

  /** Write a delta-spark-shaped checkpoint parquet (one row per action,
    * each kind a nullable struct column) by writing with Spark and moving
    * the part file to the protocol checkpoint name — the same producer
    * (Spark's parquet writer) a real lakehouse table would have. */
  def writeCheckpointParquet(table: String, version: Long, rows: Seq[CkRow],
      parts: Option[Int] = None): Unit = {
    import spark.implicits._
    val logDir = Paths.get(table, "_delta_log")
    Files.createDirectories(logDir)
    def writeOne(slice: Seq[CkRow], target: String): Unit = {
      val tmp = Files.createTempDirectory("graft-ck-")
      spark.createDataset(slice).coalesce(1).write
        .mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator()
      val found = Iterator.continually(part).takeWhile(_.hasNext)
        .map(_.next()).find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(found, logDir.resolve(target),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    parts match {
      case None => writeOne(rows, f"$version%020d.checkpoint.parquet")
      case Some(n) =>
        val slices = rows.grouped(math.max(1, (rows.size + n - 1) / n)).toSeq
          .padTo(n, Seq.empty[CkRow])
        slices.zipWithIndex.foreach { case (slice, i) =>
          writeOne(slice, f"$version%020d.checkpoint.${i + 1}%010d.$n%010d.parquet")
        }
    }
  }

  def writeLastCheckpoint(table: String, version: Long, parts: Option[Int] = None): Unit = {
    val body = parts match {
      case None => s"""{"version": $version, "size": 1}"""
      case Some(n) => s"""{"version": $version, "size": 1, "parts": $n}"""
    }
    Files.write(Paths.get(table, "_delta_log", "_last_checkpoint"),
      body.getBytes, StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  def ckAdd(path: String, size: Long = 10): CkRow =
    CkRow(Some(CkAdd(path, size, dataChange = true)), None, None)
  def ckRemove(path: String): CkRow =
    CkRow(None, Some(CkRemove(path, dataChange = true)), None)
  def ckMeta(id: String = "table-1", schema: Option[String] = None,
      configuration: Option[Map[String, String]] = None): CkRow =
    CkRow(None, None, Some(CkMeta(id, schema, configuration)))
}

// Top-level so Spark's product encoder needs no outer instance.
case class CkAdd(path: String, size: Long, dataChange: Boolean)
case class CkRemove(path: String, dataChange: Boolean)
case class CkMeta(id: String, schemaString: Option[String],
    configuration: Option[Map[String, String]] = None)
case class CkRow(add: Option[CkAdd], remove: Option[CkRemove], metaData: Option[CkMeta])

class DeltaLogReaderSuite extends SparkSpec with DeltaFixtures {
  val hconf = new Configuration()

  test("snapshot state folds add/remove in version order") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 0, ci(1000), meta(), add("a.parquet"), add("b.parquet"))
      writeLog(t, 1, ci(2000), remove("a.parquet"), add("c.parquet", 20))
      val log = new DeltaLogReader(hconf)
      assert(log.snapshot(t, 1).adds.map(_.path) === Seq("b.parquet", "c.parquet"))
      assert(log.snapshot(t, 0).adds.map(_.path) === Seq("a.parquet", "b.parquet"))
      assert(log.latestVersion(t) === Some(1L))
      assert(log.latestSnapshot(t).flatMap(_.meta).map(_.id) === Some("table-1"))
    }
  }

  test("versionForTimestamp finds first commit at or after ts") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 0, ci(1000), meta(), add("a.parquet"))
      writeLog(t, 1, ci(2000), add("b.parquet"))
      writeLog(t, 2, ci(3000), add("c.parquet"))
      val log = new DeltaLogReader(hconf)
      assert(log.versionForTimestamp(t, 1500) === Some(1L))
      assert(log.versionForTimestamp(t, 3000) === Some(2L))
      assert(log.versionForTimestamp(t, 9999) === None)
    }
  }

  test("timestamp resolution rides the snapshot cache, not O(versions) re-reads") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 0, ci(0), meta(), add("f0.parquet"))
      (1L to 250L).foreach(v => writeLog(t, v, ci(v * 10), add(s"f$v.parquet")))
      val log = new DeltaLogReader(hconf)
      log.snapshot(t, 250) // replay harvests every commit ts
      val before = log.commitReadCount
      assert(log.versionForTimestamp(t, 1995) === Some(200L))
      assert(log.commitReadCount === before, "cached timestamps: zero re-reads")
      // a fresh reader in the same process shares the cached snapshot
      val log2 = new DeltaLogReader(hconf)
      assert(log2.versionForTimestamp(t, 1995) === Some(200L))
      assert(log2.commitReadCount === 0L,
        s"expected cached resolution, got ${log2.commitReadCount} commit reads")
      // commits past the snapshot cost exactly the uncovered tail
      writeLog(t, 251, ci(9990), add("f251.parquet"))
      assert(log2.versionForTimestamp(t, 9990) === Some(251L))
      assert(log2.commitReadCount === 1L)
    }
  }

  test("protocol gate: supported features (incl. deletionVectors) read; unknown refuse") {
    withTmpDir { tmp =>
      // deletionVectors is now an implemented reader feature: the protocol
      // admits it and the add's descriptor is parsed, not dropped
      val t = s"$tmp/t1"
      writeLog(t, 0,
        """{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7, "readerFeatures": ["deletionVectors"]}}""",
        ci(0), meta(), add("a.parquet"))
      assert(new DeltaLogReader(hconf).snapshot(t, 0).adds.size === 1)
      // v2 (column mapping) is READABLE — scan-time name resolution
      val t2 = s"$tmp/t2"
      writeLog(t2, 0, """{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}""",
        ci(0), meta(), add("a.parquet"))
      assert(new DeltaLogReader(hconf).snapshot(t2, 0).adds.size === 1)
      // v3 with a feature we do NOT implement still refuses loudly
      val t3 = s"$tmp/t3"
      writeLog(t3, 0,
        """{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7, "readerFeatures": ["rowTracking"]}}""",
        ci(0), meta(), add("a.parquet"))
      val e = intercept[PlanningError](new DeltaLogReader(hconf).snapshot(t3, 0))
      assert(e.getMessage.contains("rowTracking"))
      // a DV descriptor parses into the add action with its fields intact
      val t4 = s"$tmp/t4"
      writeLog(t4, 0, ci(0), meta(),
        """{"add": {"path": "a.parquet", "size": 1, "dataChange": true, "deletionVector": {"storageType": "u", "pathOrInlineDv": "x", "offset": 1, "sizeInBytes": 1, "cardinality": 1}}}""")
      val commit = new DeltaLogReader(hconf).readCommit(t4, 0)
      val dv = commit.adds.head.deletionVector
      assert(dv === Some(graft.delta.DvDescriptor("u", "x", Some(1L), 1L, 1L)))
    }
  }

  test("snapshot cache: cold reads checkpoint + tail, warm folds new commits") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      // the engine's shape: a checkpoint every 10 commits
      val cw = new graft.delta.CheckpointWriter(hconf)
      writeLog(t, 0, ci(0), meta(), add("f0.parquet"))
      (1L to 250L).foreach { v =>
        writeLog(t, v, ci(v * 10), add(s"f$v.parquet"))
        if (v % 10 == 0) cw.checkpoint(t, Some(v))
      }
      (251L to 257L).foreach(v => writeLog(t, v, ci(v * 10), add(s"f$v.parquet")))
      val log = new DeltaLogReader(hconf)
      def reads(body: => Unit): Long = {
        val before = DeltaLogReader.filesRead.get()
        body
        DeltaLogReader.filesRead.get() - before
      }
      // a copy at a fresh path has nothing cached: the newest checkpoint
      // (v250) plus the 7 JSON commits above it
      val cold = s"$tmp/copy"
      org.apache.commons.io.FileUtils.copyDirectory(new File(t), new File(cold))
      assert(reads(assert(log.snapshot(cold, 257).adds.size === 258)) === 1 + 7)
      // the same version again, from any reader in the process: no read
      assert(reads(assert(new DeltaLogReader(hconf).snapshot(cold, 257).adds.size === 258)) === 0)
      // a new commit folds alone onto the cached snapshot
      writeLog(cold, 258, ci(2580), add("f258.parquet"), remove("f0.parquet"))
      val next = reads {
        val s = log.snapshot(cold, 258)
        assert(s.adds.size === 258 && !s.files.contains("f0.parquet"))
      }
      assert(next === 1)
    }
  }

  // ---- parquet-checkpoint interop (delta-spark tables with pruned logs) --

  test("checkpoint parquet is the replay base when the JSON log is pruned") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      // delta-spark shape: checkpoint at v10, JSON commits <= 10 pruned
      writeCheckpointParquet(t, 10, Seq(
        ckMeta("ck-table", Some("""{"type":"struct","fields":[]}""")),
        ckAdd("f1.parquet", 11), ckAdd("f2.parquet", 12), ckAdd("f3.parquet", 13)))
      writeLastCheckpoint(t, 10)
      writeLog(t, 11, ci(1100), add("f4.parquet", 14), remove("f1.parquet"))
      writeLog(t, 12, ci(1200), add("f5.parquet", 15))
      val log = new DeltaLogReader(hconf)
      assert(log.lastCheckpoint(t) === Some(graft.delta.CheckpointInstance(10, None)))
      assert(log.snapshot(t, 12).adds.map(a => a.path -> a.size) ===
        Seq("f2.parquet" -> 12L, "f3.parquet" -> 13L, "f4.parquet" -> 14L,
          "f5.parquet" -> 15L))
      // checkpoint at exactly the target version: no JSON replay at all
      assert(log.snapshot(t, 10).adds.map(_.path) ===
        Seq("f1.parquet", "f2.parquet", "f3.parquet"))
      // metaData comes from the checkpoint when no surviving JSON has one
      assert(log.latestSnapshot(t).flatMap(_.meta).map(_.id) === Some("ck-table"))
    }
  }

  test("foreign checkpoint configuration MAP resolves and survives our appends") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      // delta-spark-style checkpoint: configuration is a parquet MAP
      writeCheckpointParquet(t, 10, Seq(
        ckMeta("ck-cfg", Some(
          """{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}},{"name":"s","type":"string","nullable":true,"metadata":{}}]}"""),
          Some(Map("delta.enableChangeDataFeed" -> "true"))),
        ckAdd("f1.parquet", 11)))
      writeLastCheckpoint(t, 10)
      writeLog(t, 11, ci(1100), add("f2.parquet"))
      val log = new DeltaLogReader(hconf)
      assert(log.latestSnapshot(t).flatMap(_.configurationJson)
        === Some("""{"delta.enableChangeDataFeed":"true"}"""))
    }
  }

  test("multi-part checkpoint parts are all read; stale pointer falls back to scan") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeCheckpointParquet(t, 20, Seq(
        ckMeta("ck-mp"), ckAdd("a.parquet"), ckAdd("b.parquet"), ckAdd("c.parquet")),
        parts = Some(2))
      // pointer names a checkpoint whose files don't exist -> ignored
      writeLastCheckpoint(t, 30)
      writeLog(t, 21, ci(2100), add("d.parquet"))
      val log = new DeltaLogReader(hconf)
      assert(log.lastCheckpoint(t) === None)
      assert(log.listCheckpoints(t) ===
        Seq(graft.delta.CheckpointInstance(20, Some(2))))
      assert(log.snapshot(t, 21).adds.map(_.path) ===
        Seq("a.parquet", "b.parquet", "c.parquet", "d.parquet"))
    }
  }

  test("pruned log without a checkpoint throws instead of partial snapshot") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 5, ci(500), meta(), add("f5.parquet"))
      writeLog(t, 6, ci(600), add("f6.parquet"))
      val log = new DeltaLogReader(hconf)
      val e = intercept[PlanningError](log.snapshot(t, 6))
      assert(e.getMessage.contains("pruned"))
    }
  }

  test("gap in surviving JSON commits throws") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 0, ci(0), meta(), add("f0.parquet"))
      writeLog(t, 1, ci(100), add("f1.parquet"))
      writeLog(t, 3, ci(300), add("f3.parquet"))
      val log = new DeltaLogReader(hconf)
      val e = intercept[PlanningError](log.snapshot(t, 3))
      assert(e.getMessage.contains("gap"))
    }
  }

  test("tableId is amortized: memo and snapshot cache avoid O(versions) rescans") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 0, ci(0), meta(), add("f0.parquet"))
      (1L to 250L).foreach(v => writeLog(t, v, ci(v * 10), add(s"f$v.parquet")))
      val log = new DeltaLogReader(hconf)
      log.snapshot(t, 250) // replays once, caches the snapshot
      val before = log.commitReadCount
      assert(log.latestSnapshot(t).flatMap(_.meta).map(_.id) === Some("table-1"))
      assert(log.commitReadCount === before, "cached meta: zero commit re-reads")
      // a fresh reader in the same process: no commit reads at all, not 251
      val log2 = new DeltaLogReader(hconf)
      assert(log2.latestSnapshot(t).flatMap(_.meta).map(_.id) === Some("table-1"))
      assert(log2.commitReadCount === 0,
        s"expected 0 post-snapshot commit reads, got ${log2.commitReadCount}")
      assert(log2.latestSnapshot(t).flatMap(_.schema) === None)
      assert(log2.commitReadCount === 0, "second read is cached")
    }
  }

  test("later metaData action overrides checkpoint meta") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeCheckpointParquet(t, 10, Seq(ckMeta("old-id"), ckAdd("f1.parquet")))
      writeLastCheckpoint(t, 10)
      writeLog(t, 11, ci(1100), meta("new-id"), add("f2.parquet"))
      val log = new DeltaLogReader(hconf)
      assert(log.latestSnapshot(t).flatMap(_.meta).map(_.id) === Some("new-id"))
    }
  }

  // ---- the cached snapshot against a cold replay -------------------------

  /** What a cached fold and a cold replay must agree on. A checkpoint
    * keeps no add's `dataChange` (meaningless for an active file) and
    * renders the configuration in key order, so those compare
    * normalized; commit timestamps compare through `versionForTimestamp`. */
  private def view(s: graft.delta.DeltaSnapshot) =
    (s.version, s.adds.map(_.copy(dataChange = true)),
      s.meta.map(m => (m.id, m.schemaString,
        m.configurationJson.map(graft.util.Jsons.parse))),
      s.protocol, s.partitionColumns, s.txns, s.domains)

  /** `f`'s answer for table `t`, or its PlanningError with the path masked. */
  private def outcome[T](t: String)(f: String => T): Either[String, T] =
    try Right(f(t))
    catch { case e: PlanningError => Left(e.getMessage.replace(t, "<table>")) }

  private def logReads(body: => Unit): Long = {
    val before = DeltaLogReader.filesRead.get()
    body
    DeltaLogReader.filesRead.get() - before
  }

  /** Every version of `live`, read through the cache, against a copy of
    * its log at the fresh path `cold`. The copy is read newest first, so
    * every read of it is a replay from its checkpoint, never a fold onto
    * a cached snapshot. Returns the number of versions that failed. */
  private def assertMatchesCold(log: DeltaLogReader, live: String, cold: String,
      clue: String): Int = {
    org.apache.commons.io.FileUtils.copyDirectory(
      new File(s"$live/_delta_log"), new File(s"$cold/_delta_log"))
    val versions = (log.listVersions(live) ++ log.listCheckpoints(live).map(_.version))
      .maxOption.map(0L to _).getOrElse(Seq.empty)
    val expected = versions.reverse
      .map(v => v -> outcome(cold)(t => view(log.snapshot(t, v)))).toMap
    versions.foreach { v =>
      assert(outcome(live)(t => view(log.snapshot(t, v))) === expected(v), s"$clue version $v")
    }
    (Seq(-1L, Long.MaxValue) ++ versions.map(_ * 1000 + 500)).foreach { ts =>
      assert(outcome(live)(log.versionForTimestamp(_, ts)) ===
        outcome(cold)(log.versionForTimestamp(_, ts)), s"$clue timestamp $ts")
    }
    expected.values.count(_.isLeft)
  }

  private def protocolLine(kind: Int): String = kind match {
    case 0 => """{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}"""
    case 1 => """{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}"""
    case 2 => """{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7, "readerFeatures": ["deletionVectors"], "writerFeatures": ["deletionVectors"]}}"""
    case _ => """{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7, "readerFeatures": ["rowTracking"], "writerFeatures": ["rowTracking"]}}"""
  }

  private def metaLine(id: String, variant: Int): String = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val md = graft.util.Jsons.obj()
    md.put("id", id)
    md.put("schemaString", StructType(Seq(StructField(s"c$variant", LongType))).json)
    val pc = md.putArray("partitionColumns")
    if (variant % 2 == 0) pc.add("p")
    // variant 3 omits configuration: the previous one carries forward
    if (variant != 3) {
      val cfg = md.putObject("configuration")
      cfg.put(s"k$variant", id)
      cfg.put("a", "1")
    }
    s"""{"metaData": ${graft.util.Jsons.render(md)}}"""
  }

  private def addLine(path: String, dataChange: Boolean, dv: Option[Long]): String =
    s"""{"add": {"path": "$path", "size": ${path.length}, "dataChange": $dataChange, """ +
      s""""stats": "{\\"numRecords\\":4}", "partitionValues": {"p": "${path.charAt(2)}"}""" +
      dv.fold("")(d => s""", "deletionVector": {"storageType": "u", "pathOrInlineDv": "dv$d", """ +
        """"offset": 1, "sizeInBytes": 10, "cardinality": 1}""") + "}}"

  test("a cached fold-forward read equals a cold replay at every version of random logs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    trait Op
    case class Commit(adds: Int, removes: Int, dvs: Int, meta: Option[Int],
        protocol: Option[Int], txn: Option[(Int, Long)],
        domain: Option[(Int, Boolean)]) extends Op
    case object Checkpoint extends Op
    case class Expire(keep: Int) extends Op
    /** A foreign writer replaces the whole log with `commits` new ones. */
    case class Replace(commits: Int) extends Op
    val commitGen = for {
      adds <- Gen.choose(0, 3)
      removes <- Gen.choose(0, 2)
      dvs <- Gen.frequency(3 -> 0, 1 -> 1)
      meta <- Gen.frequency(5 -> Gen.const(Option.empty[Int]), 1 -> Gen.some(Gen.choose(0, 3)))
      // kind 3 names a reader feature this engine refuses
      protocol <- Gen.frequency(12 -> Gen.const(Option.empty[Int]),
        3 -> Gen.some(Gen.choose(0, 2)), 1 -> Gen.const(Some(3)))
      txn <- Gen.option(Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 40L)))
      domain <- Gen.option(Gen.zip(Gen.choose(0, 2), Gen.oneOf(false, true)))
    } yield Commit(adds, removes, dvs, meta, protocol, txn, domain)
    val opGen: Gen[Op] = Gen.frequency(12 -> commitGen, 3 -> Gen.const(Checkpoint),
      2 -> Gen.choose(0, 2).map(Expire), 1 -> Gen.choose(1, 14).map(Replace))

    val cw = new graft.delta.CheckpointWriter(hconf)
    val log = new DeltaLogReader(hconf)
    var (folds, failures) = (0, 0)
    withTmpDir { tmp =>
      for (c <- 0 until 6) {
        val live = s"$tmp/live-$c"
        var active = Vector.empty[String]
        var (files, generation) = (0, 0)
        def latest: Option[Long] =
          (log.listVersions(live) ++ log.listCheckpoints(live).map(_.version)).maxOption
        def commit(v: Long, op: Commit): Unit = {
          val lines = Seq.newBuilder[String]
          lines += ci(v * 1000 + 7)
          if (v == 0) lines += protocolLine(0)
          op.protocol.foreach(k => lines += protocolLine(k))
          if (v == 0 || op.meta.isDefined)
            lines += metaLine(s"table-$c-$generation", op.meta.getOrElse(0))
          op.txn.foreach { case (a, tv) =>
            lines += s"""{"txn": {"appId": "app$a", "version": $tv}}""" }
          op.domain.foreach { case (d, removed) =>
            lines += s"""{"domainMetadata": {"domain": "d$d", "configuration": "{\\"v\\": $v}", "removed": $removed}}""" }
          val gone = active.take(op.removes)
          gone.foreach(p => lines += remove(p))
          // a deletion-vector update: remove and re-add the same path
          active.drop(op.removes).take(op.dvs).foreach { p =>
            lines += remove(p)
            lines += addLine(p, dataChange = true, Some(v))
          }
          val fresh = (0 until op.adds).map { _ => files += 1; s"p=${files % 2}/f$files.parquet" }
          fresh.foreach(p => lines += addLine(p, dataChange = files % 3 != 0, None))
          active = active.filterNot(gone.contains) ++ fresh
          writeLog(live, v, lines.result(): _*)
        }
        commit(0L, Commit(2, 0, 0, None, None, None, None))
        val ops = Gen.listOfN(24, opGen)(Gen.Parameters.default, Seed(7100L + c)).get
        ops.zipWithIndex.foreach { case (op, step) =>
          op match {
            case cm: Commit =>
              val v = latest.fold(0L)(_ + 1)
              commit(v, cm)
              // the newest read after one new commit folds just that commit
              // whenever the cached snapshot is still valid
              if (logReads(outcome(live)(log.snapshot(_, v))) == 1) folds += 1
            case Checkpoint =>
              try latest.foreach(v => cw.checkpoint(live, Some(v)))
              catch { case _: PlanningError => } // a refused protocol cannot be checkpointed
            case Expire(keep) => cw.expireLogs(live, keep)
            case Replace(n) =>
              org.apache.commons.io.FileUtils.deleteDirectory(new File(s"$live/_delta_log"))
              generation += 1
              active = Vector.empty
              (0 until n).foreach(v => commit(v, Commit(v % 3, v % 2, 0, None, None,
                Some((0, v.toLong)), None)))
          }
          failures += assertMatchesCold(log, live, s"$tmp/cold-$c-$step", s"case $c step $step ($op)")
        }
      }
    }
    // the sampled logs exercise the fold and the refusals both
    assert(folds > 0 && failures > 0, s"folds $folds, failing versions $failures")
  }

  test("a foreign commit between two reads folds onto the cached snapshot") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 0, protocolLine(0), ci(0), meta(), add("a.parquet"))
      val log = new DeltaLogReader(hconf)
      assert(log.snapshot(t, 0).adds.map(_.path) === Seq("a.parquet"))
      writeLog(t, 1, ci(10), remove("a.parquet"), add("b.parquet"))
      var snap: graft.delta.DeltaSnapshot = null
      assert(logReads { snap = log.latestSnapshot(t).get } === 1)
      assert(snap.version === 1L && snap.adds.map(_.path) === Seq("b.parquet"))
      assertMatchesCold(log, t, s"$tmp/cold", "foreign commit")
    }
  }

  test("a log replaced with lower versions resets the cached snapshot") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      (0L to 5L).foreach(v => writeLog(t, v,
        (Seq(ci(v)) ++ (if (v == 0) Seq(protocolLine(0), meta("first")) else Nil) :+
          add(s"f$v.parquet")): _*))
      val log = new DeltaLogReader(hconf)
      assert(log.latestSnapshot(t).map(_.version) === Some(5L))
      org.apache.commons.io.FileUtils.deleteDirectory(new File(s"$t/_delta_log"))
      writeLog(t, 0, protocolLine(0), ci(100), meta("second"), add("g0.parquet"))
      writeLog(t, 1, ci(101), add("g1.parquet"))
      val snap = log.latestSnapshot(t).get
      assert(snap.version === 1L && snap.meta.map(_.id) === Some("second"))
      assert(snap.adds.map(_.path) === Seq("g0.parquet", "g1.parquet"))
      assertMatchesCold(log, t, s"$tmp/cold", "replaced log")
    }
  }

  test("a checkpoint-only table reads from its checkpoint and folds later commits") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeCheckpointParquet(t, 10, Seq(ckMeta("ck-only"), ckAdd("f1.parquet"),
        ckAdd("f2.parquet")))
      writeLastCheckpoint(t, 10)
      val log = new DeltaLogReader(hconf)
      assert(log.latestVersion(t) === None, "no JSON commit survives")
      var snap: graft.delta.DeltaSnapshot = null
      assert(logReads { snap = log.latestSnapshot(t).get } === 1)
      assert(snap.version === 10L && snap.meta.map(_.id) === Some("ck-only"))
      writeLog(t, 11, ci(1100), remove("f1.parquet"), add("f3.parquet"))
      assert(logReads { snap = log.latestSnapshot(t).get } === 1)
      assert(snap.adds.map(_.path) === Seq("f2.parquet", "f3.parquet"))
      assertMatchesCold(log, t, s"$tmp/cold", "checkpoint-only")
    }
  }

  test("log expiry resets the cached snapshot only when it deletes what the snapshot was folded from") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val cw = new graft.delta.CheckpointWriter(hconf)
      val log = new DeltaLogReader(hconf)
      def commit(v: Long): Unit = {
        writeLog(t, v, (Seq(ci(v)) ++ (if (v == 0) Seq(protocolLine(0), meta()) else Nil) :+
          add(s"f$v.parquet")): _*)
        if (v > 0 && v % 10 == 0) cw.checkpoint(t, Some(v))
      }
      (0L to 15L).foreach(commit)
      // a copy at a fresh path: checkpoint 10 plus commits 11..15
      val cold = s"$tmp/cold-read"
      org.apache.commons.io.FileUtils.copyDirectory(new File(t), new File(cold))
      assert(logReads(log.snapshot(cold, 15)) === 1 + 5)
      // expiry below the checkpoint the snapshot was folded from: no reset
      assert(cw.expireLogs(cold) === 10)
      assert(logReads(assert(log.snapshot(cold, 15).adds.size === 16)) === 0)
      // a newer checkpoint, then expiry below it: the snapshot's commits
      // 11..15 are gone, so the read replays from checkpoint 20
      (16L to 20L).foreach(v => writeLog(cold, v, ci(v), add(s"f$v.parquet")))
      cw.checkpoint(cold, Some(20))
      assert(cw.expireLogs(cold) === 10)
      assert(logReads(assert(log.snapshot(cold, 20).adds.size === 21)) === 1)
      assertMatchesCold(log, cold, s"$tmp/cold-check", "expired log")
    }
  }
}

class DeltaCheckpointSuite extends SparkSpec with DeltaFixtures {
  val hconf = new Configuration()

  def ckpt(dir: String) = new DeltaTableCheckpoint(dir, hconf)

  test("initial snapshot pages through sorted files with maxFiles, then tails") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      writeLog(t, 0, ci(0), meta(), add("b.parquet"), add("a.parquet"), add("c.parquet"))
      val c = ckpt(cp)
      val opts = DeltaSourceOptions(maxFilesPerTrigger = Some(2))
      val b0 = c.planBatch(t, opts).get
      assert(names(b0) === Seq("a.parquet", "b.parquet")) // sorted
      c.commitBatch(b0, Map.empty)
      val b1 = c.planBatch(t, opts).get
      assert(names(b1) === Seq("c.parquet"))
      c.commitBatch(b1, Map.empty)
      assert(c.planBatch(t, opts).isEmpty, "snapshot done, no new commits")
      // new commit -> tailing picks it up
      writeLog(t, 1, ci(10), add("d.parquet"))
      val b2 = c.planBatch(t, opts).get
      assert(names(b2) === Seq("d.parquet"))
    }
  }

  test("oversized single file still admitted under maxBytes") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      writeLog(t, 0, ci(0), meta(), add("big.parquet", 1000), add("small.parquet", 10))
      val c = ckpt(cp)
      val opts = DeltaSourceOptions(maxBytesPerTrigger = Some(100))
      val b0 = c.planBatch(t, opts).get
      assert(names(b0) === Seq("big.parquet"))
      c.commitBatch(b0, Map.empty)
      val b1 = c.planBatch(t, opts).get
      assert(names(b1) === Seq("small.parquet"))
    }
  }

  test("recovery: offset without commit replays the same batch") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      writeLog(t, 0, ci(0), meta(), add("a.parquet"))
      val b0 = ckpt(cp).planBatch(t, DeltaSourceOptions()).get
      val replay = ckpt(cp).planBatch(t, DeltaSourceOptions()).get
      assert(replay.batchId === b0.batchId)
      assert(names(replay) === names(b0))
      assert(replay.isRecovered)
    }
  }

  test("start latest skips existing data, serves only new commits") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      writeLog(t, 0, ci(0), meta(), add("old.parquet"))
      val c = ckpt(cp)
      val opts = DeltaSourceOptions(startOffset = DeltaStartOffset.Latest)
      assert(c.planBatch(t, opts).isEmpty)
      writeLog(t, 1, ci(10), add("new.parquet"))
      assert(names(c.planBatch(t, opts).get) === Seq("new.parquet"))
    }
  }

  test("start earliest tails from version 0 without snapshot semantics") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      writeLog(t, 0, ci(0), meta(), add("a.parquet"))
      writeLog(t, 1, ci(10), add("b.parquet"))
      val c = ckpt(cp)
      val b = c.planBatch(t, DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest)).get
      assert(names(b) === Seq("a.parquet", "b.parquet"))
    }
  }

  test("starting_version and starting_timestamp") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp1 = s"$tmp/cp1"; val cp2 = s"$tmp/cp2"
      writeLog(t, 0, ci(1000), meta(), add("a.parquet"))
      writeLog(t, 1, ci(2000), add("b.parquet"))
      writeLog(t, 2, ci(3000), add("c.parquet"))
      val bv = ckpt(cp1).planBatch(t,
        DeltaSourceOptions(startOffset = DeltaStartOffset.StartingVersion(1))).get
      assert(names(bv) === Seq("b.parquet", "c.parquet"))
      val bt = ckpt(cp2).planBatch(t,
        DeltaSourceOptions(startOffset = DeltaStartOffset.StartingTimestamp(2500))).get
      assert(names(bt) === Seq("c.parquet"))
    }
  }

  test("delete commit fails without flags; ignore_deletes skips delete-only") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      writeLog(t, 0, ci(0), meta(), add("a.parquet"))
      writeLog(t, 1, ci(10), remove("a.parquet"))
      writeLog(t, 2, ci(20), add("b.parquet"))
      val plain = ckpt(cp)
      val opts = DeltaSourceOptions(startOffset = DeltaStartOffset.Latest)
      // position after v0 via latest-at-0 … simpler: earliest from fresh cp
      val c1 = ckpt(s"$tmp/cp_a")
      val e = intercept[PlanningError](
        c1.planBatch(t, DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest)))
      assert(e.getMessage.contains("ignore_deletes"))
      val c2 = ckpt(s"$tmp/cp_b")
      val b = c2.planBatch(t, DeltaSourceOptions(
        startOffset = DeltaStartOffset.Earliest, ignoreDeletes = true)).get
      assert(names(b) === Seq("a.parquet", "b.parquet"))
    }
  }

  test("update commit (add+remove) fails with ignore_deletes, passes with ignore_changes") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 0, ci(0), meta(), add("a.parquet"))
      writeLog(t, 1, ci(10), remove("a.parquet"), add("a2.parquet"))
      val c1 = ckpt(s"$tmp/cp_a")
      val e = intercept[PlanningError](c1.planBatch(t, DeltaSourceOptions(
        startOffset = DeltaStartOffset.Earliest, ignoreDeletes = true)))
      assert(e.getMessage.contains("ignore_changes"))
      val c2 = ckpt(s"$tmp/cp_b")
      val b = c2.planBatch(t, DeltaSourceOptions(
        startOffset = DeltaStartOffset.Earliest, ignoreChanges = true)).get
      assert(names(b) === Seq("a.parquet", "a2.parquet"))
    }
  }

  test("dataChange=false adds and removes are invisible to tailing") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 0, ci(0), meta(), add("a.parquet"))
      // compaction-style commit: no dataChange
      writeLog(t, 1, ci(10), remove("a.parquet", dataChange = false),
        add("compacted.parquet", 10, dataChange = false))
      writeLog(t, 2, ci(20), add("b.parquet"))
      val c = ckpt(s"$tmp/cp")
      val b = c.planBatch(t, DeltaSourceOptions(
        startOffset = DeltaStartOffset.Earliest)).get
      assert(names(b) === Seq("a.parquet", "b.parquet"))
    }
  }

  test("table id change is detected") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      writeLog(t, 0, ci(0), meta("table-1"), add("a.parquet"))
      val c = ckpt(cp)
      val b = c.planBatch(t, DeltaSourceOptions()).get
      c.commitBatch(b, Map.empty)
      writeLog(t, 0, ci(0), meta("table-2"), add("a.parquet")) // replaced table
      val e = intercept[PlanningError](ckpt(cp).planBatch(t, DeltaSourceOptions()))
      assert(e.getMessage.contains("table id changed"))
    }
  }

  test("CDF: cdc preferred, insert fallback, remove-only reconstructs deletes") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 0, ci(0), meta(), add("a.parquet"))
      writeLog(t, 1, ci(10), cdc("_change_data/cdc-1.parquet"),
        add("b.parquet"), remove("x.parquet"))
      val c = ckpt(s"$tmp/cp")
      val opts = DeltaSourceOptions(
        startOffset = DeltaStartOffset.Earliest, readChangeFeed = true)
      val b = c.planBatch(t, opts).get
      // v0: add fallback (insert); v1: cdc file preferred over add+remove
      assert(names(b) === Seq("a.parquet", "cdc-1.parquet"))
      c.commitBatch(b, Map.empty)
      // a remove-ONLY commit is reconstructible per the delta protocol's
      // CDF section: the removed file's surviving rows ARE the deletes
      writeLog(t, 2, ci(20), remove("b.parquet"))
      val b2 = c.planBatch(t, opts).get
      assert(names(b2) === Seq("b.parquet"))
      val kinds = graft.util.Jsons.elems(b2.offset.get("cdf_entries"))
        .map(_.get("kind").asText()).toSeq
      assert(kinds === Seq("dv_delete_full"),
        "a plain remove must plan as a whole-file delete reconstruction")
      c.commitBatch(b2, Map.empty)
      // a REWRITE-style update (plain add + remove, no DVs, no cdc) still
      // refuses: rewritten files would double-emit carried rows as churn
      writeLog(t, 3, ci(30), add("e.parquet"), remove("a.parquet"))
      val e = intercept[ChangeDataFeedError](c.planBatch(t, opts))
      assert(e.getMessage.contains("no cdc files"))
    }
  }

  test("CDF with snapshot start serves the initial snapshot as inserts") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 0, ci(1000), meta(), add("a.parquet"), add("b.parquet"))
      writeLog(t, 1, ci(2000), remove("a.parquet"), add("c.parquet"))
      val c = ckpt(s"$tmp/cp")
      val opts = DeltaSourceOptions(
        startOffset = DeltaStartOffset.Snapshot, readChangeFeed = true)
      val b0 = c.planBatch(t, opts).get
      // snapshot at v1 = {b, c}, served as change_type=insert at version 1
      assert(names(b0) === Seq("b.parquet", "c.parquet"))
      val entries = graft.util.Jsons.elems(b0.offset.get("cdf_entries")).toSeq
      assert(entries.map(_.get("kind").asText()).distinct === Seq("insert"))
      assert(entries.map(_.get("version").asLong()).distinct === Seq(1L))
      assert(entries.map(_.get("ts_ms").asLong()).distinct === Seq(2000L))
      c.commitBatch(b0, Map.empty)
      // post-snapshot commits tail through the CDF planner
      writeLog(t, 2, ci(3000), cdc("_change_data/cdc-2.parquet"),
        add("d.parquet"), remove("b.parquet"))
      val b1 = c.planBatch(t, opts).get
      assert(names(b1) === Seq("cdc-2.parquet"))
    }
  }

  test("tailing a pruned log position throws instead of silently idling") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      // pruned table: only commits 5 and 6 survive (checkpointed elsewhere)
      writeLog(t, 5, ci(500), meta(), add("f5.parquet"))
      writeLog(t, 6, ci(600), add("f6.parquet"))
      // earliest start = tail from version 0 — gone
      val e = intercept[PlanningError](ckpt(cp).planBatch(t,
        DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest)))
      assert(e.getMessage.contains("log retention"))
      // a consumer that committed v1 and came back after pruning
      val e2 = intercept[PlanningError](ckpt(s"$tmp/cp2").planBatch(t,
        DeltaSourceOptions(startOffset = DeltaStartOffset.StartingVersion(2))))
      assert(e2.getMessage.contains("version 2"))
      // caught-up consumer (next = latest+1) still idles normally
      val c3 = ckpt(s"$tmp/cp3")
      val opts5 = DeltaSourceOptions(startOffset = DeltaStartOffset.StartingVersion(5))
      val b = c3.planBatch(t, opts5).get
      assert(names(b) === Seq("f5.parquet", "f6.parquet"))
      c3.commitBatch(b, Map.empty)
      assert(c3.planBatch(t, opts5).isEmpty)
    }
  }

  test("no-file commits are advanced through") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 0, ci(0), meta(), add("a.parquet"))
      writeLog(t, 1, ci(10)) // metadata-only commit
      writeLog(t, 2, ci(20), add("b.parquet"))
      val c = ckpt(s"$tmp/cp")
      val b = c.planBatch(t,
        DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest)).get
      assert(names(b) === Seq("a.parquet", "b.parquet"))
    }
  }

  test("mid-version truncation resumes at the right index") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 0, ci(0), meta(), add("a.parquet"), add("b.parquet"), add("c.parquet"))
      val c = ckpt(s"$tmp/cp")
      val opts = DeltaSourceOptions(
        startOffset = DeltaStartOffset.Earliest, maxFilesPerTrigger = Some(2))
      val b0 = c.planBatch(t, opts).get
      assert(names(b0) === Seq("a.parquet", "b.parquet"))
      c.commitBatch(b0, Map.empty)
      val b1 = c.planBatch(t, opts).get
      assert(names(b1) === Seq("c.parquet"))
    }
  }
}

class DeltaWriterSuite extends SparkSpec with DeltaFixtures {
  import spark.implicits._

  def writer = new DeltaWriter(spark, conf)

  test("append + read round-trip; overwrite replaces") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      val v0 = w.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t, DeltaWriteMode.Append)
      assert(v0 === 0L)
      val v1 = w.write(Seq((3L, "c")).toDF("id", "s"), t, DeltaWriteMode.Append)
      assert(v1 === 1L)
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
      w.write(Seq((9L, "z")).toDF("id", "s"), t, DeltaWriteMode.Overwrite)
      assert(w.read(t).collect().map(_.getLong(0)).toSeq === Seq(9L))
      // table id stable across commits
      val log = new DeltaLogReader(conf)
      val ids = (0L to 2L).map(v => log.readCommit(t, v).metaId.get).distinct
      assert(ids.size === 1)
    }
  }

  test("data writes are rename-free: tasks write final names, log is the only commit") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write((1L to 100L).toDF("id").repartition(4), t, DeltaWriteMode.Append)
      val log = new DeltaLogReader(conf)
      val adds = log.readCommit(t, 0).adds
      assert(adds.nonEmpty)
      adds.foreach { a =>
        // committed path == the exact name the task wrote (data dir +
        // Spark task naming), and the file is there under that name
        assert(a.path.matches("""part-[0-9a-f]{8}/part-\d{5}-[0-9a-f-]{36}.*\.parquet"""),
          s"unexpected layout: ${a.path}")
        assert(Files.exists(Paths.get(t, a.path)))
      }
      // no staging/_temporary leftovers, no _SUCCESS markers anywhere
      import scala.jdk.CollectionConverters._
      val all = Files.walk(Paths.get(t)).iterator().asScala
        .map(_.getFileName.toString).toSeq
      assert(!all.exists(n => n.startsWith(".staging") || n == "_temporary" || n == "_SUCCESS"),
        s"staging artifacts present: ${all.filter(n => n.startsWith(".staging") || n == "_temporary" || n == "_SUCCESS")}")
      assert(w.read(t).count() === 100L)
    }
  }

  test("auto-checkpoint every 10th commit; expired logs still reconstruct") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer // default interval 10
      (1 to 12).foreach(i =>
        w.write(Seq((i.toLong, s"v$i")).toDF("id", "s"), t, DeltaWriteMode.Append))
      // commit versions 0..11; version 10 auto-checkpointed
      val log = new DeltaLogReader(conf)
      assert(log.lastCheckpoint(t) === Some(graft.delta.CheckpointInstance(10, None)))
      // checkpoint round-trips through the reader: state at 10 = 11 files
      assert(log.readCheckpointActions(t, graft.delta.CheckpointInstance(10, None))
        .collect { case a: graft.delta.DeltaAction.AddFile => a }.size === 11)
      // expire the JSON commits the checkpoint covers
      val deleted = w.expireLogs(t)
      assert(deleted === 10, s"expected versions 0..9 deleted, got $deleted")
      assert(log.listVersions(t) === Seq(10L, 11L))
      // a FRESH reader reconstructs the full table from checkpoint + tail
      val fresh = new DeltaLogReader(conf)
      assert(fresh.snapshot(t, 11).adds.size === 12)
      assert(fresh.latestSnapshot(t).flatMap(_.meta).map(_.id).isDefined)
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq ===
        (1L to 12L))
      // manual checkpoint at latest + full expiry keeps the table readable
      w.checkpoint(t)
      w.expireLogs(t)
      assert(log.listVersions(t) === Seq(11L))
      assert(w.read(t).count() === 12)
    }
  }

  test("versionAsOf time travel and z-order rewrite preserve data") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), t, DeltaWriteMode.Append)
      w.write(Seq((3L, 30L)).toDF("id", "v"), t, DeltaWriteMode.Append)
      w.write(Seq((9L, 90L)).toDF("id", "v"), t, DeltaWriteMode.Overwrite)
      // time travel to each version
      assert(w.read(t, versionAsOf = Some(0L)).collect().map(_.getLong(0)).sorted
        === Array(1L, 2L))
      assert(w.read(t, versionAsOf = Some(1L)).collect().map(_.getLong(0)).sorted
        === Array(1L, 2L, 3L))
      assert(w.read(t).collect().map(_.getLong(0)).toSeq === Seq(9L))
      intercept[GraftError](w.read(t, versionAsOf = Some(99L)))
      // z-order rewrite: same rows, new version
      val data = (1 to 64).map(i => (i.toLong, (i % 8).toLong))
      w.write(data.toDF("id", "v"), t, DeltaWriteMode.Overwrite)
      val v = w.optimizeZOrder(t, Seq("id", "v"), numFiles = 4)
      assert(w.read(t).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        === data.sorted)
      assert(new DeltaLogReader(conf).latestVersion(t) === Some(v))
    }
  }

  test("writes carry a foreign table's configuration forward, incl. through checkpoints") {
    import org.apache.spark.sql.types._
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      // a foreign writer sets table properties in a metaData action
      val md = graft.util.Jsons.obj()
      md.put("id", new DeltaLogReader(conf).latestSnapshot(t).flatMap(_.meta).map(_.id).get)
      md.put("schemaString", w.tableSchema(t).get.json)
      val cfg = graft.util.Jsons.obj()
      cfg.put("delta.enableChangeDataFeed", "true")
      cfg.put("delta.appendOnly", "false")
      md.set[com.fasterxml.jackson.databind.JsonNode]("configuration", cfg)
      writeLog(t, 1, ci(10), s"""{"metaData": ${graft.util.Jsons.render(md)}}""")
      // OUR append must re-emit that configuration, not clobber it with {}
      w.write(Seq((2L, "b")).toDF("id", "s"), t, DeltaWriteMode.Append)
      val raw = new String(Files.readAllBytes(
        Paths.get(t, "_delta_log", f"${2L}%020d.json")))
      assert(raw.contains(""""delta.enableChangeDataFeed":"true""""),
        s"configuration clobbered:\n$raw")
      // ... and survives a parquet-checkpoint replay base + pruned log
      val cw = new graft.delta.CheckpointWriter(conf)
      cw.checkpoint(t, Some(2L))
      cw.expireLogs(t)
      w.write(Seq((3L, "c")).toDF("id", "s"), t, DeltaWriteMode.Append)
      val raw2 = new String(Files.readAllBytes(
        Paths.get(t, "_delta_log", f"${3L}%020d.json")))
      assert(raw2.contains(""""delta.enableChangeDataFeed":"true""""),
        s"configuration lost through the checkpoint:\n$raw2")
      assert(w.read(t).count() === 3L)
      // ... and the checkpoint parquet stores the PROTOCOL's configuration
      // map, not a private JSON-string column — a foreign reader following
      // _last_checkpoint sees standard fields
      val ck = spark.read.parquet(s"$t/_delta_log/${"%020d".format(2L)}.checkpoint.parquet")
      val mdType = ck.schema("metaData").dataType.asInstanceOf[StructType]
      assert(mdType("configuration").dataType.isInstanceOf[MapType],
        s"checkpoint configuration must be a parquet MAP: ${mdType("configuration").dataType}")
      val cfgRow = ck.filter(col("metaData").isNotNull)
        .select(col("metaData.configuration")).head().getMap[String, String](0)
      assert(cfgRow.get("delta.enableChangeDataFeed").contains("true"))
      // a foreign UNSET of every property (explicitly empty {}) must NOT
      // be resurrected by our next commit's re-emission
      val md2 = graft.util.Jsons.obj()
      md2.put("id", new DeltaLogReader(conf).latestSnapshot(t).flatMap(_.meta).map(_.id).get)
      md2.put("schemaString", w.tableSchema(t).get.json)
      md2.set[com.fasterxml.jackson.databind.JsonNode]("configuration",
        graft.util.Jsons.obj())
      writeLog(t, 4, ci(40), s"""{"metaData": ${graft.util.Jsons.render(md2)}}""")
      w.write(Seq((4L, "d")).toDF("id", "s"), t, DeltaWriteMode.Append)
      val raw5 = new String(Files.readAllBytes(
        Paths.get(t, "_delta_log", f"${5L}%020d.json")))
      assert(raw5.contains(""""configuration":{}"""),
        s"an explicit UNSET must stay cleared:\n$raw5")
      assert(!raw5.contains("enableChangeDataFeed"),
        s"cleared properties must not resurrect:\n$raw5")
    }
  }

  test("mergeSchema append mints physical names on a column-mapped table") {
    import org.apache.spark.sql.types._
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      // foreign mapped table: two columns under physical names, proper
      // per-field ids and a recorded maxColumnId
      Seq((1L, "a"), (2L, "b")).toDF("col-111-aaa", "col-222-bbb")
        .coalesce(1).write.parquet(s"$tmp/stage")
      val part = new File(s"$tmp/stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(t))
      Files.move(part.toPath, Paths.get(t, "data.parquet"))
      def mapped(name: String, phys: String, id: Long, dt: DataType) =
        StructField(name, dt, nullable = true,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", phys)
            .putLong("delta.columnMapping.id", id).build())
      val logical = StructType(Seq(
        mapped("id", "col-111-aaa", 1L, LongType),
        mapped("s", "col-222-bbb", 2L, StringType)))
      val md = graft.util.Jsons.obj()
      md.put("id", "cm-mint"); md.put("schemaString", logical.json)
      val cfg = graft.util.Jsons.obj()
      cfg.put("delta.columnMapping.mode", "name")
      cfg.put("delta.columnMapping.maxColumnId", "2")
      md.set[com.fasterxml.jackson.databind.JsonNode]("configuration", cfg)
      writeLog(t, 0,
        """{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}""",
        ci(0), s"""{"metaData": ${graft.util.Jsons.render(md)}}""",
        add("data.parquet"))
      val w = writer
      // mergeSchema append with a NEW column: physical name minted, field
      // id continues from maxColumnId, configuration bumped in-commit
      w.write(Seq((3L, "c", 7.5)).toDF("id", "s", "extra"), t,
        DeltaWriteMode.Append, mergeSchema = true)
      val schema = w.tableSchema(t).get
      assert(schema.fieldNames.toSeq === Seq("id", "s", "extra"))
      val ef = schema("extra")
      val physName = ef.metadata.getString("delta.columnMapping.physicalName")
      assert(physName.startsWith("col-") && physName.length > 10,
        s"minted physical name looks wrong: $physName")
      assert(ef.metadata.getLong("delta.columnMapping.id") === 3L)
      val raw = new String(Files.readAllBytes(
        Paths.get(t, "_delta_log", f"${1L}%020d.json")))
      assert(raw.contains(""""delta.columnMapping.maxColumnId":"3""""),
        s"maxColumnId must bump in the same commit:\n$raw")
      assert(raw.contains(""""delta.columnMapping.mode":"name""""),
        "the rest of the configuration must carry forward")
      // old files null-fill the minted column; new row carries its value
      val rows = w.read(t).orderBy("id").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      assert(rows.take(2).forall(_.isNullAt(2)), "old files must null-fill")
      assert(rows(2).getDouble(2) === 7.5)
      // the data file carries ONLY physical names, incl. the minted one
      val newFile = w.activeAdds(t).map(_.path).filterNot(_ == "data.parquet").head
      val rawCols = spark.read.parquet(s"$t/$newFile").columns.toSeq
      assert(rawCols === Seq("col-111-aaa", "col-222-bbb", physName),
        s"data file must use physical names: $rawCols")
      // stats skipping prunes on the minted column (stats key on the
      // physical name; the old file has no bounds and is kept
      // conservatively)
      assert(!w.readSkipping(t, Map("extra" -> (Some(100d), Some(200d))))
        .inputFiles.exists(_.contains(newFile.split('/').last)),
        "range missing the new file's values must prune it")
      assert(w.readSkipping(t, Map("extra" -> (Some(0d), Some(9d)))).count() === 3)
      // a second mint continues the id sequence
      w.write(Seq((4L, "d", 1.0, 11L)).toDF("id", "s", "extra", "extra2"), t,
        DeltaWriteMode.Append, mergeSchema = true)
      val s2 = w.tableSchema(t).get
      assert(s2("extra2").metadata.getLong("delta.columnMapping.id") === 4L)
      assert(s2("extra2").metadata
        .getString("delta.columnMapping.physicalName") !== physName)
      val raw2 = new String(Files.readAllBytes(
        Paths.get(t, "_delta_log", f"${2L}%020d.json")))
      assert(raw2.contains(""""delta.columnMapping.maxColumnId":"4""""))
      assert(w.read(t).count() === 4)
      // plain append (no mergeSchema) with new columns still refuses
      intercept[GraftError](w.write(
        Seq((5L, "e", 0.0, 0L, "x")).toDF("id", "s", "extra", "extra2", "x5"),
        t, DeltaWriteMode.Append))
    }
  }

  test("mapped-table column rename/drop: files untouched, re-add mints fresh") {
    import org.apache.spark.sql.types._
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      // foreign mapped table (same fixture as the mint test)
      Seq((1L, "a"), (2L, "b")).toDF("col-111-aaa", "col-222-bbb")
        .coalesce(1).write.parquet(s"$tmp/stage")
      val part = new File(s"$tmp/stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(t))
      Files.move(part.toPath, Paths.get(t, "data.parquet"))
      def mapped(name: String, phys: String, id: Long, dt: DataType) =
        StructField(name, dt, nullable = true,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", phys)
            .putLong("delta.columnMapping.id", id).build())
      val logical = StructType(Seq(
        mapped("id", "col-111-aaa", 1L, LongType),
        mapped("s", "col-222-bbb", 2L, StringType)))
      val md = graft.util.Jsons.obj()
      md.put("id", "cm-alter"); md.put("schemaString", logical.json)
      val cfg = graft.util.Jsons.obj()
      cfg.put("delta.columnMapping.mode", "name")
      cfg.put("delta.columnMapping.maxColumnId", "2")
      md.set[com.fasterxml.jackson.databind.JsonNode]("configuration", cfg)
      writeLog(t, 0,
        """{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}""",
        ci(0), s"""{"metaData": ${graft.util.Jsons.render(md)}}""",
        add("data.parquet"))
      val w = writer
      // one append through OUR writer so the table mixes foreign + own files
      w.write(Seq((3L, "c")).toDF("id", "s"), t, DeltaWriteMode.Append)
      val filesBefore = w.activeAdds(t).map(_.path).toSet
      assert(filesBefore.size === 2)

      // RENAME: metadata-only — same physical name + field id, zero new
      // files, and BOTH the foreign and our own file read under the new
      // logical name immediately
      w.renameColumn(t, "s", "label")
      assert(w.activeAdds(t).map(_.path).toSet === filesBefore,
        "rename must not touch data files")
      val s1 = w.tableSchema(t).get
      assert(s1.fieldNames.toSeq === Seq("id", "label"))
      assert(s1("label").metadata
        .getString("delta.columnMapping.physicalName") === "col-222-bbb")
      assert(s1("label").metadata.getLong("delta.columnMapping.id") === 2L)
      assert(w.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      // configuration carries through the metadata-only commit
      val rawRen = new String(Files.readAllBytes(
        Paths.get(t, "_delta_log", f"${2L}%020d.json")))
      assert(rawRen.contains(""""delta.columnMapping.mode":"name""""))
      intercept[GraftError](w.renameColumn(t, "missing", "x"))
      intercept[GraftError](w.renameColumn(t, "id", "label"))

      // DROP: field leaves the schema, files stay
      w.dropColumn(t, "label")
      assert(w.activeAdds(t).map(_.path).toSet === filesBefore,
        "drop must not touch data files")
      assert(w.tableSchema(t).get.fieldNames.toSeq === Seq("id"))
      assert(w.read(t).columns.toSeq === Seq("id"))

      // re-adding the same logical name mints a FRESH physical name and a
      // fresh field id — the dropped column's data may NOT resurrect
      w.write(Seq((4L, "new")).toDF("id", "label"), t,
        DeltaWriteMode.Append, mergeSchema = true)
      val s2 = w.tableSchema(t).get
      assert(s2("label").metadata
        .getString("delta.columnMapping.physicalName") !== "col-222-bbb",
        "re-add must mint a fresh physical name (no data resurrection)")
      assert(s2("label").metadata.getLong("delta.columnMapping.id") === 3L,
        "field id must continue past the dropped column's id")
      val rows = w.read(t).orderBy("id").collect()
      assert(rows.filter(_.getLong(0) < 4L).forall(_.isNullAt(1)),
        "pre-drop rows must null-fill the re-added column, not resurrect")
      assert(rows.find(_.getLong(0) === 4L).get.getString(1) === "new")

      // guards: last column, unmapped table
      w.dropColumn(t, "label")
      intercept[GraftError](w.dropColumn(t, "id"))
      val plain = s"$tmp/plain"
      w.write(Seq((1L, "a")).toDF("id", "s"), plain, DeltaWriteMode.Append)
      intercept[GraftError](w.renameColumn(plain, "s", "label"))
      intercept[GraftError](w.dropColumn(plain, "s"))
    }
  }

  test("columnMapping mode=id resolves by parquet field id (Iceberg-converted shape)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    withTmpDir { tmp =>
      val t = s"$tmp/idmode"
      // the data file was written by a FOREIGN writer before conversion:
      // it carries the ORIGINAL column names + parquet field ids — NOT
      // the physical col-<uuid> names the delta metaData declares, so
      // only the field ids line up
      val fileSchema = StructType(Seq(
        StructField("customer_id", LongType, true,
          new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
        StructField("customer_name", StringType, true,
          new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      val rows = spark.createDataFrame(
        java.util.Arrays.asList(Row(1L, "ada"), Row(2L, "grace")), fileSchema)
      rows.coalesce(1).write.parquet(s"$tmp/stage")
      Files.createDirectories(Paths.get(t))
      val part = new File(s"$tmp/stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(t, "data-0.parquet"))
      def mappedField(logical: String, phys: String, id: Long, dt: DataType) =
        StructField(logical, dt, true, new MetadataBuilder()
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName", phys).build())
      val declared = StructType(Seq(
        mappedField("id", "col-aaa", 1L, LongType),
        mappedField("name", "col-bbb", 2L, StringType)))
      val schemaLit = graft.util.Jsons.render(
        com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
          .textNode(declared.json))
      writeLog(t, 0L,
        """{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}""",
        s"""{"metaData": {"id": "t-id", "schemaString": $schemaLit, """ +
          """"partitionColumns": [], """ +
          """"configuration": {"delta.columnMapping.mode": "id"}}}""",
        add("data-0.parquet", Files.size(Paths.get(t, "data-0.parquet"))))
      val w = writer
      val got = w.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got === Seq((1L, "ada"), (2L, "grace")),
        "id-mode files must resolve by field id, not physical name")
      // OUR append writes field ids alongside the physical names, so the
      // mixed table (foreign-named file + ours) still reads whole by id
      w.write(Seq((3L, "lin")).toDF("id", "name"), t, DeltaWriteMode.Append)
      assert(w.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((1L, "ada"), (2L, "grace"), (3L, "lin")))
      // CDF on an id-mode table: change files must carry field ids like
      // the data files they describe — the by-field-id reader ignores
      // names, so a cdc file with physical names alone would not resolve
      val cdfSrc = new graft.sources.DeltaSource(t,
        new DeltaTableCheckpoint(s"$tmp/idcdf", conf),
        graft.sources.DeltaSourceOptions(
          startOffset = graft.sources.DeltaStartOffset.Latest,
          readChangeFeed = true))
      assert(cdfSrc.planBatch().isEmpty) // positioned at latest
      graft.DeltaCdc.applyCdcDelta(spark,
        Seq((3L, Some("lovelace"), "update_postimage", 9L))
          .toDF("id", "name", Cdc.ChangeTypeCol, Cdc.CommitVersionCol),
        t, Seq("id"), emitCdf = true)
      val cdfRows = cdfSrc.readBatch(spark, cdfSrc.planBatch().get)
        .select("id", "name", Cdc.ChangeTypeCol).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(cdfRows.toSeq === Seq((3L, "lovelace", "update_postimage")),
        s"id-mode CDF must resolve by field id: ${cdfRows.toSeq}")
      // an id-mode schema MISSING a field id refuses loudly — matching
      // by a physical name the file doesn't carry would be silent nulls
      val noId = StructType(Seq(
        mappedField("id", "col-aaa", 1L, LongType),
        StructField("name", StringType, true, new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-bbb").build())))
      val noIdLit = graft.util.Jsons.render(
        com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
          .textNode(noId.json))
      writeLog(t, new DeltaLogReader(conf).latestVersion(t).get + 1,
        s"""{"metaData": {"id": "t-id", "schemaString": $noIdLit, """ +
          """"partitionColumns": [], """ +
          """"configuration": {"delta.columnMapping.mode": "id"}}}""")
      val e = intercept[Exception](w.read(t).collect())
      assert(e.getMessage.contains("delta.columnMapping.id"),
        s"expected the missing-field-id refusal, got: ${e.getMessage}")
    }
  }

  test("upgradeToColumnMapping never downgrades writer-only protocols") {
    withTmpDir { tmp =>
      val w = writer
      val log = new DeltaLogReader(conf)
      // (1,7)+writerFeatures: writer features with a LEGACY reader — the
      // upgrade must preserve the feature list and writer version (a
      // blanket (2,5) would erase constraints other writers rely on, a
      // spec-forbidden downgrade), raising only the reader floor to the
      // mapping's 2
      val t = s"$tmp/wf"
      w.write(Seq((1L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      writeLog(t, log.latestVersion(t).get + 1,
        """{"protocol": {"minReaderVersion": 1, "minWriterVersion": 7, """ +
          """"writerFeatures": ["domainMetadata"]}}""",
        ci(1L))
      val v = w.upgradeToColumnMapping(t)
      val p = log.snapshot(t, v).protocol.get
      assert(p.minReaderVersion === 2)
      assert(p.minWriterVersion === 7)
      assert(p.writerFeatures.toSet === Set("domainMetadata", "columnMapping"))
      // (1,6): legacy writer-only capability version (identity columns)
      // — the writer version survives at 6, never drops to 5
      val t2 = s"$tmp/w6"
      w.write(Seq((1L, "a")).toDF("id", "s"), t2, DeltaWriteMode.Append)
      writeLog(t2, log.latestVersion(t2).get + 1,
        """{"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}}""",
        ci(2L))
      val p2 = log.snapshot(t2, w.upgradeToColumnMapping(t2)).protocol.get
      assert(p2.minReaderVersion === 2 && p2.minWriterVersion === 6)
    }
  }

  test("an emptied partitioned table keeps its hive layout (metaData fallback)") {
    withTmpDir { tmp =>
      val w = writer
      val t = s"$tmp/ep"
      val df = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "s", "part")
      w.write(df, t, DeltaWriteMode.Append, partitionBy = Seq("part"))
      // empty the table completely: no active add remains to infer the
      // layout from — partitionColumnsOf must fall back to the last
      // metaData's partitionColumns instead of de-partitioning
      w.write(df.filter(lit(false)), t, DeltaWriteMode.Overwrite)
      assert(w.activeAdds(t).forall(_.stats.exists(_.contains("\"numRecords\":0"))),
        "an emptied table must hold no live rows")
      assert(w.read(t).count() === 0L)
      assert(w.partitionColumnsOf(t) === Seq("part"))
      // and with adds FULLY removed (a foreign full delete), the
      // metaData fallback is the only layout record left
      val log0 = new DeltaLogReader(conf)
      val live = w.activeAdds(t).map(_.path)
      if (live.nonEmpty)
        writeLog(t, log0.latestVersion(t).get + 1,
          (Seq(ci(5L)) ++ live.map(p => remove(p))): _*)
      assert(w.activeAdds(t).isEmpty, "fixture needs zero active adds")
      assert(w.partitionColumnsOf(t) === Seq("part"))
      // the next append still lands under the hive layout
      w.write(Seq((3L, "c", "z")).toDF("id", "s", "part"), t,
        DeltaWriteMode.Append)
      val paths = w.activeAdds(t).map(_.path)
      assert(paths.nonEmpty && paths.forall(_.contains("part=")),
        s"append to an emptied partitioned table must keep the layout: $paths")
      assert(w.read(t).select("id").collect().map(_.getLong(0)).toSeq === Seq(3L))
      // the layout also survives log EXPIRY on an emptied table: the
      // checkpoint's metaData now carries partitionColumns (spec shape)
      val t2 = s"$tmp/ck"
      w.write(df, t2, DeltaWriteMode.Append, partitionBy = Seq("part"))
      w.write(df.filter(lit(false)), t2, DeltaWriteMode.Overwrite)
      val cw = new graft.delta.CheckpointWriter(conf)
      cw.checkpoint(t2)
      assert(cw.expireLogs(t2) > 0)
      assert(w.partitionColumnsOf(t2) === Seq("part"))
      // mapped lifecycle on an emptied table: renaming the partition
      // column must commit the NEW logical name, not [] — the fallback
      // maps old-logical -> physical -> new-logical
      val t3 = s"$tmp/mp"
      w.write(df, t3, DeltaWriteMode.Append, partitionBy = Seq("part"))
      w.upgradeToColumnMapping(t3)
      w.write(df.filter(lit(false)), t3, DeltaWriteMode.Overwrite)
      val log = new DeltaLogReader(conf)
      val live3 = w.activeAdds(t3).map(_.path)
      if (live3.nonEmpty)
        writeLog(t3, log.latestVersion(t3).get + 1,
          (Seq(ci(6L)) ++ live3.map(p => remove(p))): _*)
      assert(w.activeAdds(t3).isEmpty)
      w.renameColumn(t3, "part", "region")
      assert(log.snapshot(t3, log.latestVersion(t3).get).partitionColumns
        === Seq("region"))
      // and dropColumn's partition guard can still fire without adds
      intercept[GraftError](w.dropColumn(t3, "region"))
    }
  }

  test("upgradeToColumnMapping: no rewrite, protocol floor, DV tables keep 3/7") {
    withTmpDir { tmp =>
      val w = writer
      val log = new DeltaLogReader(conf)
      val t = s"$tmp/up"
      w.write(Seq((1L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      val files = w.activeAdds(t).map(_.path).toSet
      val v = w.upgradeToColumnMapping(t)
      // metadata-only: same files, physical names = current names,
      // sequential ids, maxColumnId recorded
      assert(w.activeAdds(t).map(_.path).toSet === files)
      val sc = w.tableSchema(t).get
      assert(sc("id").metadata
        .getString("delta.columnMapping.physicalName") === "id")
      assert(sc("s").metadata.getLong("delta.columnMapping.id") === 2L)
      // the same commit raises the protocol to the mapping floor
      val p = log.snapshot(t, v).protocol.get
      assert(p.minReaderVersion === 2 && p.minWriterVersion === 5)
      // idempotent: a second upgrade is a no-op at the same version
      assert(w.upgradeToColumnMapping(t) === v)
      // the mapping lifecycle composes: rename, read old data, mint-add
      w.renameColumn(t, "s", "label")
      assert(w.read(t).columns.toSeq === Seq("id", "label"))
      assert(w.read(t).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((1L, "a")))
      w.write(Seq((2L, "b", 1.5)).toDF("id", "label", "score"), t,
        DeltaWriteMode.Append, mergeSchema = true)
      assert(w.tableSchema(t).get("score").metadata
        .getString("delta.columnMapping.physicalName").startsWith("col-"))
      // a DV table (reader 3 / writer 7) must NOT downgrade: the upgrade
      // adds the columnMapping feature to the existing lists (the DV
      // commit moved the table's legacy 1/2 to feature lists, so its
      // writer list names the appendOnly/invariants that 2 implied)
      val t2 = s"$tmp/dv"
      w.write(spark.range(0, 6).toDF("id").coalesce(1), t2, DeltaWriteMode.Append)
      w.deleteWhere(t2, col("id") < 2)
      val v2 = w.upgradeToColumnMapping(t2)
      val p2 = log.snapshot(t2, v2).protocol.get
      assert(p2.minReaderVersion === 3 && p2.minWriterVersion === 7)
      assert(p2.readerFeatures.toSet === Set("deletionVectors", "columnMapping"))
      assert(p2.writerFeatures.toSet ===
        Set("appendOnly", "invariants", "deletionVectors", "columnMapping"))
      assert(w.read(t2).orderBy("id").collect().map(_.getLong(0)).toSeq
        === (2L until 6L))
      // NESTED schemas map recursively — the protocol requires every
      // struct field (any depth) to carry an id + physical name, or
      // foreign readers may reject the table
      val t3 = s"$tmp/nested"
      w.write(Seq((1L, ("x", 2L))).toDF("id", "payload"), t3, DeltaWriteMode.Append)
      w.upgradeToColumnMapping(t3)
      val s3 = w.tableSchema(t3).get
      val payload = s3("payload")
      assert(payload.metadata.contains("delta.columnMapping.id"))
      val inner = payload.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      inner.fields.foreach { f =>
        assert(f.metadata.contains("delta.columnMapping.id"),
          s"nested field ${f.name} must carry a field id")
        assert(f.metadata.getString("delta.columnMapping.physicalName") === f.name)
      }
      // ids are unique across ALL levels and maxColumnId covers them
      val allIds = {
        def ids(dt: org.apache.spark.sql.types.DataType): Seq[Long] = dt match {
          case st: org.apache.spark.sql.types.StructType => st.fields.toSeq.flatMap(f =>
            (if (f.metadata.contains("delta.columnMapping.id"))
              Seq(f.metadata.getLong("delta.columnMapping.id")) else Nil) ++
            ids(f.dataType))
          case org.apache.spark.sql.types.ArrayType(et, _) => ids(et)
          case org.apache.spark.sql.types.MapType(k, v, _) => ids(k) ++ ids(v)
          case _ => Nil
        }
        ids(s3)
      }
      assert(allIds.distinct.size === allIds.size && allIds.size === 4)
      val raw3 = new String(Files.readAllBytes(Paths.get(t3, "_delta_log",
        f"${log.latestVersion(t3).get}%020d.json")))
      assert(raw3.contains(""""delta.columnMapping.maxColumnId":"4""""))
      // the upgraded nested table still reads (identity physical names)
      val back = w.read(t3).collect()
      assert(back.map(r => (r.getLong(0), r.getStruct(1).getString(0))).toSeq
        === Seq((1L, "x")))
    }
  }

  test("nested column rename/drop: metadata-only through enclosing structs") {
    withTmpDir { tmp =>
      val t = s"$tmp/nested"
      val w = writer
      val log = new DeltaLogReader(conf)
      w.write(Seq((1L, ("x", 2L), Seq(("inA", 5L)))).toDF("id", "payload", "items"),
        t, DeltaWriteMode.Append)
      w.upgradeToColumnMapping(t)
      val filesBefore = w.activeAdds(t).map(_.path).toSet
      // rename a struct field: payload._1 -> label (toDF names are _1/_2)
      val inner0 = w.tableSchema(t).get("payload").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val firstName = inner0.fields.head.name
      w.renameColumnPath(t, Seq("payload", firstName), "label")
      assert(w.activeAdds(t).map(_.path).toSet === filesBefore,
        "nested rename must not touch data files")
      val inner1 = w.tableSchema(t).get("payload").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(inner1.fields.head.name === "label")
      // physical name + id survive the rename (the mapping invariant)
      assert(inner1.fields.head.metadata
        .getString("delta.columnMapping.physicalName") === firstName)
      assert(inner1.fields.head.metadata.getLong("delta.columnMapping.id") ===
        inner0.fields.head.metadata.getLong("delta.columnMapping.id"))
      // the renamed nested field reads old data under its new name
      assert(w.read(t).select("payload.label").head().getString(0) === "x")
      // rename through an ARRAY of structs (no `element` segment needed)
      val itemField = w.tableSchema(t).get("items").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fields.head.name
      w.renameColumnPath(t, Seq("items", itemField), "tag")
      assert(w.read(t).selectExpr("items[0].tag").head().getString(0) === "inA")
      // drop a nested field; the struct keeps its sibling
      w.dropColumnPath(t, Seq("payload", inner1.fields(1).name))
      val inner2 = w.tableSchema(t).get("payload").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(inner2.fieldNames.toSeq === Seq("label"))
      assert(w.read(t).select("payload.label").head().getString(0) === "x")
      // guards: emptying a struct, bad paths
      intercept[GraftError](w.dropColumnPath(t, Seq("payload", "label")))
      intercept[GraftError](w.renameColumnPath(t, Seq("missing", "x"), "y"))
      intercept[GraftError](w.renameColumnPath(t, Seq("id", "x"), "y"))
      assert(w.activeAdds(t).map(_.path).toSet === filesBefore,
        "every nested alter is metadata-only")
    }
  }

  test("restore reverts a rename: two metadata-only operations compose") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      val vUp = w.upgradeToColumnMapping(t)
      w.renameColumn(t, "s", "label")
      assert(w.read(t).columns.toSeq === Seq("id", "label"))
      // restore to the pre-rename version: the OLD logical name returns,
      // same files, same physical name underneath
      w.restore(t, vUp)
      assert(w.read(t).columns.toSeq === Seq("id", "s"))
      assert(w.read(t).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((1L, "a")))
      // and the mapping survives the restore: rename composes again
      w.renameColumn(t, "s", "label2")
      assert(w.read(t).columns.toSeq === Seq("id", "label2"))
    }
  }

  test("restore declares the target version's LOGICAL partition columns on a mapped table") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, "x"), (2L, "y")).toDF("id", "p"), t, DeltaWriteMode.Append,
        partitionBy = Seq("p"))
      w.upgradeToColumnMapping(t)
      // the partition dirs keep the physical name p; the logical one is pp
      val vRename = w.renameColumn(t, "p", "pp")
      w.write(Seq((3L, "z")).toDF("id", "pp"), t, DeltaWriteMode.Append)
      val vRestore = w.restore(t, vRename)
      val committed = new String(Files.readAllBytes(
        Paths.get(t, "_delta_log", f"$vRestore%020d.json")))
      val md = committed.split('\n').map(graft.util.Jsons.parse)
        .flatMap(n => graft.util.Jsons.optField(n, "metaData")).head
      assert(graft.util.Jsons.render(md.get("partitionColumns")) === """["pp"]""")
      assert(new DeltaLogReader(conf).snapshot(t, vRestore).partitionColumns === Seq("pp"))
      assert(w.read(t).orderBy("id").as[(Long, String)].collect().toSeq ===
        Seq((1L, "x"), (2L, "y")))
    }
  }

  test("CDF reads resolve renamed logical names across the rename boundary") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      val w = writer
      // v0: plain append; v1: upgrade to mapping; v2: rename s -> label;
      // v3: append WITH a cdc file — the cdc file carries the UNCHANGED
      // physical name ("s") plus _change_type, and the v0 data file also
      // carries "s"; both must surface under the NEW logical name
      w.write(Seq((1L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      w.upgradeToColumnMapping(t)
      w.renameColumn(t, "s", "label")
      val changes = Seq((2L, "b", "insert"))
        .toDF("id", "label", Cdc.ChangeTypeCol)
      w.write(Seq((2L, "b")).toDF("id", "label"), t, DeltaWriteMode.Append,
        cdfChanges = Some(changes))
      val src = new DeltaSource(t, new DeltaTableCheckpoint(cp, conf),
        DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest,
          readChangeFeed = true))
      val b = src.planBatch().get
      val df = src.readBatch(spark, b)
      assert(df.columns.take(2).toSeq === Seq("id", "label"),
        s"CDF must speak the renamed logical names: ${df.columns.toSeq}")
      val rows = df.select(col("id"), col("label"), col(Cdc.ChangeTypeCol),
        col(Cdc.CommitVersionCol)).orderBy(Cdc.CommitVersionCol).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(rows.toSeq === Seq((1L, "a", "insert", 0L), (2L, "b", "insert", 3L)),
        "pre-rename files and post-rename cdc files must both resolve")
      // the cdc file itself is stored under the PHYSICAL column name
      val cdcFiles = new DeltaLogReader(conf).readCommit(t, 3L).cdcs
      assert(cdcFiles.nonEmpty)
      val rawCdc = spark.read.parquet(s"$t/${cdcFiles.head.path}")
      assert(rawCdc.columns.contains("s") && !rawCdc.columns.contains("label"),
        s"cdc file must carry physical names: ${rawCdc.columns.toSeq}")
    }
  }

  test("renaming a mapped partition column keeps pruning and layout") {
    import org.apache.spark.sql.types._
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      // our writer lays out hive dirs under the PHYSICAL partition name,
      // so start from a self-built mapped table: v0 metaData declares the
      // mapping, then a partitioned append writes through it
      def mapped(name: String, phys: String, id: Long, dt: DataType) =
        StructField(name, dt, nullable = true,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", phys)
            .putLong("delta.columnMapping.id", id).build())
      val logical = StructType(Seq(
        mapped("id", "col-aaa", 1L, LongType),
        mapped("bucket", "col-bbb", 2L, LongType)))
      val md = graft.util.Jsons.obj()
      md.put("id", "cm-part-ren"); md.put("schemaString", logical.json)
      val cfg = graft.util.Jsons.obj()
      cfg.put("delta.columnMapping.mode", "name")
      cfg.put("delta.columnMapping.maxColumnId", "2")
      md.set[com.fasterxml.jackson.databind.JsonNode]("configuration", cfg)
      writeLog(t, 0, ci(0), s"""{"metaData": ${graft.util.Jsons.render(md)}}""")
      val w = writer
      w.write((0L until 20L).map(i => (i, i % 4)).toDF("id", "bucket"), t,
        DeltaWriteMode.Append, partitionBy = Seq("bucket"))
      // partition dirs are physical
      assert(w.activeAdds(t).forall(_.path.startsWith("col-bbb=")),
        s"expected physical partition dirs: ${w.activeAdds(t).map(_.path).take(3)}")
      w.renameColumn(t, "bucket", "shard")
      // metaData partitionColumns speak the NEW logical name
      val raw = new String(Files.readAllBytes(Paths.get(t, "_delta_log",
        f"${2L}%020d.json")))
      assert(raw.contains(""""partitionColumns":["shard"]"""),
        s"partitionColumns must carry the new logical name:\n$raw")
      // reads surface the new name; pruning still works on it
      val back = w.read(t)
      assert(back.columns.toSeq === Seq("id", "shard"))
      assert(back.filter(col("shard") === 2L).count() === 5)
      val pruned = w.readSkipping(t, Map("shard" -> (Some(3d), Some(3d))))
      assert(pruned.inputFiles.forall(_.contains("col-bbb=3")),
        s"pruning must hold after rename: ${pruned.inputFiles.toSeq}")
      assert(pruned.count() === 5)
      // appends keep composing after the rename
      w.write(Seq((100L, 2L)).toDF("id", "shard"), t, DeltaWriteMode.Append,
        partitionBy = Seq("shard"))
      assert(w.read(t).count() === 21)
      // dropping the partition column refuses
      intercept[GraftError](w.dropColumn(t, "shard"))
    }
  }

  test("column-mapped tables read with logical names, write physically") {
    import org.apache.spark.sql.types._
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      // data lives under physical col-<uuid> names, as delta-spark writes
      // for columnMapping.mode=name
      Seq((1L, "a"), (2L, "b")).toDF("col-111-aaa", "col-222-bbb")
        .coalesce(1).write.parquet(s"$tmp/stage")
      val part = new File(s"$tmp/stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(t))
      Files.move(part.toPath, Paths.get(t, "data.parquet"))
      def mapped(name: String, phys: String, dt: DataType) =
        StructField(name, dt, nullable = true,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", phys)
            .putLong("delta.columnMapping.id", 1L).build())
      val logical = StructType(Seq(
        mapped("id", "col-111-aaa", LongType),
        mapped("s", "col-222-bbb", StringType)))
      val md = graft.util.Jsons.obj()
      md.put("id", "cm-table"); md.put("schemaString", logical.json)
      writeLog(t, 0,
        """{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}""",
        ci(0), s"""{"metaData": ${graft.util.Jsons.render(md)}}""",
        add("data.parquet"))
      val w = writer
      val out = w.read(t).orderBy("id")
      assert(out.columns.toSeq === Seq("id", "s"), "logical names must surface")
      assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "a"), (2L, "b")))
      // skipping path resolves too (no stats -> full scan, correct rows)
      assert(w.readSkipping(t, Map("id" -> (Some(0d), Some(9d)))).count() === 2)
      // the STREAMING source resolves the mapping as well — a raw read
      // would stream physical col-uuid names
      val src = new DeltaSource(t, new DeltaTableCheckpoint(s"$tmp/cp", conf))
      val b = src.planBatch().get
      val sdf = src.readBatch(spark, b)
      assert(sdf.columns.toSeq === Seq("id", "s"), s"streamed: ${sdf.columns.toSeq}")
      assert(sdf.count() === 2)
      // APPENDS write under the PHYSICAL names (delta-spark mode=name
      // shape) and read back logically
      w.write(Seq((3L, "c")).toDF("id", "s"), t, DeltaWriteMode.Append)
      assert(w.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      val newFile = w.activeAdds(t).map(_.path).filterNot(_ == "data.parquet").head
      val rawCols = spark.read.parquet(s"$t/$newFile").columns.toSeq
      assert(rawCols === Seq("col-111-aaa", "col-222-bbb"),
        s"data files must carry physical names, got $rawCols")
      // CDC merge into the mapped table (Auto falls back to the rewrite
      // path; the merge reads logically and writes physically)
      val changes = Seq((2L, Some("B"), "update_postimage", 1L))
        .toDF("id", "s", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id"))
      assert(w.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "a"), (2L, "B"), (3L, "c")))
      // touched-file pruning worked through the mapping: the appended
      // file's stats (physical keys, id=3) exclude change key 2, so the
      // merge carried it forward unrewritten
      assert(w.activeAdds(t).map(_.path).contains(newFile),
        "stats-pruning must keep the disjoint mapped file untouched")
      // stats skipping translates logical keys to physical stat keys:
      // our appended file carries task stats under col-111-aaa, and a
      // logical `id` range that misses it schedules NOTHING
      assert(w.readSkipping(t, Map("id" -> (Some(100d), Some(200d))))
        .inputFiles.isEmpty, "mapped stats skipping must prune by file")
      assert(w.readSkipping(t, Map("id" -> (Some(0d), Some(9d)))).count() === 3)
      // overwrite keeps the mapped schema; adding a column refuses loudly
      w.write(Seq((9L, "z")).toDF("id", "s"), t, DeltaWriteMode.Overwrite)
      assert(w.tableSchema(t).exists(graft.delta.ColumnMapping.isMapped),
        "overwrite must preserve the mapping metadata")
      assert(w.read(t).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((9L, "z")))
      intercept[GraftError](w.write(
        Seq((4L, "d", 1.0)).toDF("id", "s", "extra"), t, DeltaWriteMode.Append))
      // CDF emission into a mapped table writes cdc files under PHYSICAL
      // names plus the literal _change_type (delta-spark's shape), and
      // the mapped-aware CDF source reads them back logically
      val cdfSrc = new DeltaSource(t, new DeltaTableCheckpoint(s"$tmp/cdfcp", conf),
        DeltaSourceOptions(startOffset = DeltaStartOffset.Latest,
          readChangeFeed = true))
      assert(cdfSrc.planBatch().isEmpty) // positioned at latest
      DeltaCdc.applyCdcDelta(spark,
        Seq((9L, Some("y"), "update_postimage", 2L))
          .toDF("id", "s", Cdc.ChangeTypeCol, Cdc.CommitVersionCol),
        t, Seq("id"), emitCdf = true)
      assert(w.read(t).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((9L, "y")))
      val cdcRaw = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$t/_change_data")
      assert(cdcRaw.columns.toSet ===
        Set("col-111-aaa", "col-222-bbb", Cdc.ChangeTypeCol),
        s"cdc files must carry physical names: ${cdcRaw.columns.toSeq}")
      val cdfBatch = cdfSrc.planBatch().get
      val cdfRows = cdfSrc.readBatch(spark, cdfBatch)
        .select("id", "s", Cdc.ChangeTypeCol).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(cdfRows.toSeq === Seq((9L, "y", "update_postimage")),
        s"mapped CDF must read back logically: ${cdfRows.toSeq}")
    }
  }

  test("deletion vectors work on column-mapped tables: delete, stream, widen-merge") {
    import org.apache.spark.sql.types._
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      // start from OUR writes into a foreign-declared mapped table
      Seq((1L, "a")).toDF("col-111", "col-222")
        .coalesce(1).write.parquet(s"$tmp/stage")
      val part = new File(s"$tmp/stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(t))
      Files.move(part.toPath, Paths.get(t, "data.parquet"))
      def mapped(name: String, phys: String, id: Long, dt: DataType) =
        StructField(name, dt, nullable = true,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", phys)
            .putLong("delta.columnMapping.id", id).build())
      val logical = StructType(Seq(
        mapped("id", "col-111", 1L, LongType),
        mapped("s", "col-222", 2L, StringType)))
      val md = graft.util.Jsons.obj()
      md.put("id", "cm-dv"); md.put("schemaString", logical.json)
      val cfg = graft.util.Jsons.obj()
      cfg.put("delta.columnMapping.mode", "name")
      cfg.put("delta.columnMapping.maxColumnId", "2")
      md.set[com.fasterxml.jackson.databind.JsonNode]("configuration", cfg)
      // stats (physical keys) let the widen-merge below prune this file
      // out of its DV candidate set
      val foreignAdd =
        """{"add": {"path": "data.parquet", "size": 10, "dataChange": true, """ +
        """"stats": "{\"numRecords\":1,\"minValues\":{\"col-111\":1},\"maxValues\":{\"col-111\":1}}"}}"""
      writeLog(t, 0,
        """{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}""",
        ci(0), s"""{"metaData": ${graft.util.Jsons.render(md)}}""",
        foreignAdd)
      val w = writer
      // one file with three rows, so the delete must BITMAP one of them
      // and a survivor keeps the vector alive through the merge below
      // (a fully-deleted file would optimize into a whole-file remove)
      w.write(Seq((2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s").coalesce(1),
        t, DeltaWriteMode.Append)
      assert(w.deleteWhere(t, col("id") === 2L) === 1L)
      assert(w.activeAdds(t).exists(_.deletionVector.isDefined),
        "delete must land as a deletion vector, not a rewrite")
      assert(w.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "a"), (3L, "c"), (4L, "d")))
      // streaming a mapped DV table serves SURVIVING rows logically
      val src = new DeltaSource(t, new DeltaTableCheckpoint(s"$tmp/cp", conf),
        DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest,
          ignoreChanges = true))
      val streamed = Iterator.continually(src.planBatch())
        .takeWhile(_.isDefined).take(5).flatMap { b =>
          val rows = src.readBatch(spark, b.get)
            .select("id", "s").collect()
            .map(r => (r.getLong(0), r.getString(1)))
          src.commitBatch(b.get, Map.empty)
          rows
        }.toSeq
      assert(streamed.sorted.distinct === Seq((1L, "a"), (3L, "c"), (4L, "d")),
        s"mapped DV stream must serve survivors logically: $streamed")
      // a WIDENING DV merge mints a physical name in the same commit
      val changes = Seq((3L, Some("C"), Some(7.5), "update_postimage", 1L))
        .toDF("id", "s", "score", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id"),
        strategy = MergeStrategy.DeletionVectors)
      val schema = w.tableSchema(t).get
      assert(schema.fieldNames.toSeq === Seq("id", "s", "score"))
      assert(schema("score").metadata
        .getString("delta.columnMapping.physicalName").startsWith("col-"))
      assert(schema("score").metadata.getLong("delta.columnMapping.id") === 3L)
      val rows = w.read(t).orderBy("id").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "a"), (3L, "C"), (4L, "d")))
      assert(rows(0).isNullAt(2) && rows(1).getDouble(2) === 7.5 &&
        rows(2).isNullAt(2),
        "old rows null-fill the minted column; merged row carries its value")
      val raw = new String(Files.readAllBytes(Paths.get(t, "_delta_log",
        f"${new DeltaLogReader(conf).latestVersion(t).get}%020d.json")))
      assert(raw.contains(""""delta.columnMapping.maxColumnId":"3""""),
        s"widening DV merge must bump maxColumnId:\n$raw")
      // PURGE rewrites vector-bearing files under PHYSICAL names and
      // drops the vectors; data and mapping survive
      assert(w.purgeDeletionVectors(t) >= 1)
      assert(w.activeAdds(t).forall(_.deletionVector.isEmpty))
      val purged = w.activeAdds(t).find(_.path.startsWith("purged-"))
        .getOrElse(fail(s"no purged file: ${w.activeAdds(t).map(_.path)}"))
      assert(spark.read.parquet(s"$t/${purged.path}").columns
        .forall(_.startsWith("col-")),
        "purged files must keep physical names")
      assert(w.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "a"), (3L, "C"), (4L, "d")))
      // z-order rewrite keeps the mapping and the rows
      w.optimizeZOrder(t, Seq("id"), numFiles = 2)
      assert(w.tableSchema(t).exists(graft.delta.ColumnMapping.isMapped))
      assert(w.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "a"), (3L, "C"), (4L, "d")))
    }
  }

  test("nested column-mapped schemas round-trip: logical names at every level") {
    import org.apache.spark.sql.types._
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      // foreign file: physical names at BOTH levels (col-top long,
      // col-obj struct{col-a string, col-b long})
      Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("t", "a", "b")
        .select(col("t").as("col-top"),
          struct(col("a").as("col-a"), col("b").as("col-b")).as("col-obj"))
        .coalesce(1).write.parquet(s"$tmp/stage")
      val part = new File(s"$tmp/stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(t))
      Files.move(part.toPath, Paths.get(t, "data.parquet"))
      def m(name: String, phys: String, id: Long, dt: DataType) =
        StructField(name, dt, nullable = true,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", phys)
            .putLong("delta.columnMapping.id", id).build())
      val logical = StructType(Seq(
        m("top", "col-top", 1L, LongType),
        m("obj", "col-obj", 2L, StructType(Seq(
          m("a", "col-a", 3L, StringType),
          m("b", "col-b", 4L, LongType))))))
      val md = graft.util.Jsons.obj()
      md.put("id", "cm-nested"); md.put("schemaString", logical.json)
      writeLog(t, 0,
        """{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}""",
        ci(0), s"""{"metaData": ${graft.util.Jsons.render(md)}}""",
        add("data.parquet"))
      val w = writer
      val out = w.read(t).orderBy("top")
      assert(out.columns.toSeq === Seq("top", "obj"))
      assert(out.schema("obj").dataType.asInstanceOf[StructType]
        .fieldNames.toSeq === Seq("a", "b"), "nested logical names must surface")
      assert(out.collect().map(r =>
        (r.getLong(0), r.getStruct(1).getString(0), r.getStruct(1).getLong(1)))
        .toSeq === Seq((1L, "x", 10L), (2L, "y", 20L)))
      // appends relabel nested fields to physical names on disk; a NULL
      // struct stays NULL through the rebuild
      val addDf = Seq((3L, Some(("z", 30L))), (4L, None))
        .toDF("top", "obj")
        .select(col("top"), col("obj").cast(
          StructType(Seq(StructField("a", StringType), StructField("b", LongType))))
          .as("obj"))
      w.write(addDf, t, DeltaWriteMode.Append)
      val back = w.read(t).orderBy("top").collect()
      assert(back.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
      assert(back(2).getStruct(1).getString(0) === "z")
      assert(back(3).isNullAt(1), "null struct must stay null, not struct-of-nulls")
      val newFile = w.activeAdds(t).map(_.path).filterNot(_ == "data.parquet").head
      val rawSchema = spark.read.parquet(s"$t/$newFile").schema
      assert(rawSchema.fieldNames.toSeq === Seq("col-top", "col-obj"))
      assert(rawSchema("col-obj").dataType.asInstanceOf[StructType]
        .fieldNames.toSeq === Seq("col-a", "col-b"),
        "nested physical names must reach the data file")
      // the streaming source resolves nested mapping too
      val src = new DeltaSource(t, new DeltaTableCheckpoint(s"$tmp/cp", conf))
      val sdf = src.readBatch(spark, src.planBatch().get)
      assert(sdf.schema("obj").dataType.asInstanceOf[StructType]
        .fieldNames.toSeq === Seq("a", "b"))
      assert(sdf.count() === 4)
    }
  }

  test("mapping relabels through arrays and maps of structs") {
    import org.apache.spark.sql.types._
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      // physical file: arr = array<struct<col-a>>, m = map<string, struct<col-b>>
      Seq(1L).toDF("k")
        .select(col("k").as("col-k"),
          array(struct(lit(10L).as("col-a"))).as("col-arr"),
          map(lit("x"), struct(lit(20L).as("col-b"))).as("col-m"))
        .coalesce(1).write.parquet(s"$tmp/stage")
      val part = new File(s"$tmp/stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(t))
      Files.move(part.toPath, Paths.get(t, "data.parquet"))
      def m(name: String, phys: String, id: Long, dt: DataType) =
        StructField(name, dt, nullable = true,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", phys)
            .putLong("delta.columnMapping.id", id).build())
      val logical = StructType(Seq(
        m("k", "col-k", 1L, LongType),
        m("arr", "col-arr", 2L,
          ArrayType(StructType(Seq(m("a", "col-a", 3L, LongType))))),
        m("m", "col-m", 4L,
          MapType(StringType, StructType(Seq(m("b", "col-b", 5L, LongType)))))))
      val md = graft.util.Jsons.obj()
      md.put("id", "cm-deep"); md.put("schemaString", logical.json)
      writeLog(t, 0,
        """{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}""",
        ci(0), s"""{"metaData": ${graft.util.Jsons.render(md)}}""",
        add("data.parquet"))
      val w = writer
      val out = w.read(t)
      assert(out.schema("arr").dataType.asInstanceOf[ArrayType]
        .elementType.asInstanceOf[StructType].fieldNames.toSeq === Seq("a"))
      assert(out.schema("m").dataType.asInstanceOf[MapType]
        .valueType.asInstanceOf[StructType].fieldNames.toSeq === Seq("b"))
      val row = out.head()
      assert(row.getSeq[org.apache.spark.sql.Row](1).head.getLong(0) === 10L)
      assert(row.getMap[String, org.apache.spark.sql.Row](2)("x").getLong(0) === 20L)
      // write round-trip: appended file carries physical names at depth
      val addDf = Seq(2L).toDF("k")
        .select(col("k"), array(struct(lit(11L).as("a"))).as("arr"),
          map(lit("y"), struct(lit(21L).as("b"))).as("m"))
      w.write(addDf, t, DeltaWriteMode.Append)
      assert(w.read(t).count() === 2)
      val newFile = w.activeAdds(t).map(_.path).filterNot(_ == "data.parquet").head
      val rawSchema = spark.read.parquet(s"$t/$newFile").schema
      assert(rawSchema("col-arr").dataType.asInstanceOf[ArrayType]
        .elementType.asInstanceOf[StructType].fieldNames.toSeq === Seq("col-a"))
      assert(rawSchema("col-m").dataType.asInstanceOf[MapType]
        .valueType.asInstanceOf[StructType].fieldNames.toSeq === Seq("col-b"))
    }
  }

  test("partitioned column-mapped tables: physical dirs, logical surface, pruning") {
    import org.apache.spark.sql.types._
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      // foreign layout: hive dir under the PHYSICAL partition name
      Seq((1L, 10L), (2L, 20L)).toDF("col-iii", "col-vvv")
        .coalesce(1).write.parquet(s"$tmp/stage")
      val part = new File(s"$tmp/stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(t, "col-ppp=1"))
      Files.move(part.toPath, Paths.get(t, "col-ppp=1", "data.parquet"))
      def m(name: String, phys: String, id: Long, dt: DataType) =
        StructField(name, dt, nullable = true,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", phys)
            .putLong("delta.columnMapping.id", id).build())
      val logical = StructType(Seq(
        m("id", "col-iii", 1L, LongType),
        m("v", "col-vvv", 2L, LongType),
        m("p", "col-ppp", 3L, LongType)))
      val md = graft.util.Jsons.obj()
      md.put("id", "cm-part"); md.put("schemaString", logical.json)
      val pc = graft.util.Jsons.arr(); pc.add("p")
      md.set[com.fasterxml.jackson.databind.JsonNode]("partitionColumns", pc)
      val foreignAdd =
        """{"add": {"path": "col-ppp=1/data.parquet", "size": 10, """ +
        """"dataChange": true, "partitionValues": {"col-ppp": "1"}, """ +
        """"stats": "{\"numRecords\":2,\"minValues\":{\"col-iii\":1},\"maxValues\":{\"col-iii\":2}}"}}"""
      writeLog(t, 0,
        """{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}""",
        ci(0), s"""{"metaData": ${graft.util.Jsons.render(md)}}""", foreignAdd)
      val w = writer
      // read: logical names incl. the re-materialized partition column
      val out = w.read(t).orderBy("id")
      assert(out.columns.toSeq === Seq("id", "v", "p"))
      assert(out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq === Seq((1L, 10L, 1L), (2L, 20L, 1L)))
      // append with LOGICAL partition names lands under the PHYSICAL dir
      w.write(Seq((5L, 50L, 2L)).toDF("id", "v", "p"), t,
        DeltaWriteMode.Append, partitionBy = Seq("p"))
      val newAdd = w.activeAdds(t).find(_.path.contains("col-ppp=2")).getOrElse(
        fail(s"append must land under the physical dir: " +
          s"${w.activeAdds(t).map(_.path)}"))
      assert(newAdd.partitionValues === Map("col-ppp" -> "2"),
        "partitionValues must key on the physical name")
      val raw = new String(Files.readAllBytes(
        Paths.get(t, "_delta_log", f"${1L}%020d.json")))
      assert(raw.contains(""""partitionColumns":["p"]"""),
        s"metaData partitionColumns must stay logical:\n$raw")
      assert(w.read(t).count() === 3)
      // partition-pruned reads translate logical keys to physical
      assert(w.readPartitions(t, Map("p" -> "2")).collect()
        .map(_.getLong(0)).toSeq === Seq(5L))
      assert(w.readPartitions(t, Map("p" -> "1")).count() === 2)
      // CDC merge keyed on the partition column prunes whole partitions:
      // the change touches only p=2, so the p=1 file survives untouched
      val changes = Seq((7L, 70L, 2L, "update_postimage", 1L))
        .toDF("id", "v", "p", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      DeltaCdc.applyCdcDelta(spark, changes, t, Seq("p"))
      assert(w.activeAdds(t).map(_.path).contains("col-ppp=1/data.parquet"),
        "partition pruning must carry the untouched partition forward")
      assert(w.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
        Seq((1L, 10L, 1L), (2L, 20L, 1L), (7L, 70L, 2L)))
      // the streaming source resolves partitioned mapping too (basePath
      // re-materializes the physical dirs before the logical projection)
      val src = new DeltaSource(t, new DeltaTableCheckpoint(s"$tmp/cp", conf))
      val sdf = src.readBatch(spark, src.planBatch().get)
      assert(sdf.columns.toSeq === Seq("id", "v", "p"),
        s"streamed mapped partitioned columns: ${sdf.columns.toSeq}")
      assert(sdf.count() === 3)
      // compact rewrites within the PHYSICAL hive layout
      w.write(Seq((3L, 30L, 1L)).toDF("id", "v", "p"), t, DeltaWriteMode.Append)
      w.compact(t, smallFileBytes = 1024 * 1024)
      assert(w.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
        Seq((1L, 10L, 1L), (2L, 20L, 1L), (3L, 30L, 1L), (7L, 70L, 2L)))
      val compacted = w.activeAdds(t)
        .find(a => a.path.contains("col-ppp=1") && a.path != "col-ppp=1/data.parquet")
        .getOrElse(fail(s"no compacted file: ${w.activeAdds(t).map(_.path)}"))
      assert(spark.read.parquet(s"$t/${compacted.path}").columns.toSeq ===
        Seq("col-iii", "col-vvv"),
        "compacted files must keep physical column names")
    }
  }

  test("compact keeps schema-merged column values intact") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      w.write(Seq((2L, "b", 9.5)).toDF("id", "s", "extra"), t,
        DeltaWriteMode.Append, mergeSchema = true)
      // a raw (schema-inferring) compact read could pick the FIRST file's
      // footer and silently drop `extra` from the second — the rewrite
      // must go through the declared schema
      w.compact(t, smallFileBytes = 1024 * 1024)
      val rows = w.read(t).orderBy("id").collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
      assert(rows(0).isNullAt(2) && rows(1).getDouble(2) === 9.5,
        "compaction must not lose schema-merged column values")
    }
  }

  test("txn watermarks make replayed batches no-ops, and survive log expiry") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      // an at-least-once pipeline: write batch iff newer than the watermark
      def writeBatch(app: String, batchId: Long, rows: Seq[Long]): Boolean = {
        if (w.lastTxnVersion(t, app).exists(_ >= batchId)) false
        else {
          w.write(rows.map((_, app)).toDF("id", "s"), t, DeltaWriteMode.Append,
            txn = Some((app, batchId)))
          true
        }
      }
      assert(writeBatch("job1", 0L, Seq(1L, 2L)))
      assert(writeBatch("job1", 1L, Seq(3L)))
      // crash-replay of batch 1 must be skipped, not duplicated
      assert(!writeBatch("job1", 1L, Seq(3L)))
      assert(w.read(t).count() === 3)
      // independent writers keep independent watermarks
      assert(writeBatch("job2", 0L, Seq(10L)))
      assert(w.lastTxnVersion(t, "job1") === Some(1L))
      assert(w.lastTxnVersion(t, "job2") === Some(0L))
      assert(w.lastTxnVersion(t, "nobody") === None)
      // watermarks survive checkpoint + full log expiry
      w.checkpoint(t)
      w.expireLogs(t)
      val fresh = new DeltaWriter(spark, conf)
      assert(fresh.lastTxnVersion(t, "job1") === Some(1L))
      assert(fresh.lastTxnVersion(t, "job2") === Some(0L))
      assert(!writeBatch("job1", 1L, Seq(3L)), "expired log must not forget the watermark")
      // and a genuinely new batch still lands
      assert(writeBatch("job1", 2L, Seq(4L)))
      assert(w.read(t).count() === 5)
    }
  }

  test("timestampAsOf reads the newest commit at or before the timestamp") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      Thread.sleep(5)
      w.write(Seq((2L, "b")).toDF("id", "s"), t, DeltaWriteMode.Append)
      Thread.sleep(5)
      w.write(Seq((9L, "z")).toDF("id", "s"), t, DeltaWriteMode.Overwrite)
      val log = new DeltaLogReader(conf)
      val ts = (0L to 2L).map(v => log.readCommit(t, v).timestampMs.get)
      assert(w.read(t, timestampAsOf = Some(ts(1))).collect().map(_.getLong(0)).sorted
        === Array(1L, 2L))
      assert(w.read(t, timestampAsOf = Some(ts(0))).collect().map(_.getLong(0)).toSeq
        === Seq(1L))
      assert(w.read(t, timestampAsOf = Some(ts(2) + 1000)).collect()
        .map(_.getLong(0)).toSeq === Seq(9L))
      intercept[GraftError](w.read(t, timestampAsOf = Some(ts(0) - 1)))
    }
  }

  test("restore to version is a metadata-only commit that re-activates old files") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, 10L)).toDF("id", "v"), t, DeltaWriteMode.Append)
      w.write(Seq((2L, 20L)).toDF("id", "v"), t, DeltaWriteMode.Append)
      w.write(Seq((9L, 90L)).toDF("id", "v"), t, DeltaWriteMode.Overwrite)
      val log = new DeltaLogReader(conf)
      val dataFilesBefore = graft.delta.DeltaStats.activeAdds(log, t, 1L).map(_.path)
      val v = w.restore(t, 1L)
      assert(v === 3L)
      // restored state = the v1 table, served by the ORIGINAL files
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
      val after = graft.delta.DeltaStats.activeAdds(log, t, v)
      assert(after.map(_.path).sorted === dataFilesBefore.sorted,
        "restore must re-reference the original files, not copy data")
      assert(after.forall(_.stats.isDefined), "restored adds keep their stats")
      // the restore commit itself wrote no parquet: its adds all pre-exist
      val commit = log.readCommit(t, 3L)
      assert(commit.adds.nonEmpty && commit.removes.nonEmpty)
      // restoring past a vacuum fails loudly
      w.write(Seq((5L, 50L)).toDF("id", "v"), t, DeltaWriteMode.Overwrite)
      w.vacuum(t, retentionMs = -1000)
      intercept[GraftError](w.restore(t, 1L))
    }
  }

  test("add actions carry footer stats; readSkipping schedules only matching files") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      // 4 files with disjoint id ranges via range partitioning
      val df = (0L until 400L).map(i => (i, s"name$i")).toDF("id", "name")
        .repartitionByRange(4, col("id"))
      w.write(df, t, DeltaWriteMode.Append)
      val adds = new DeltaLogReader(conf).readCommit(t, 0).adds
      assert(adds.size === 4)
      adds.foreach { a =>
        assert(a.stats.isDefined, s"no stats on ${a.path}")
        val st = graft.util.Jsons.parse(a.stats.get)
        assert(st.get("numRecords").asLong() === 100L)
        assert(st.get("minValues").get("id").isNumber)
        assert(st.get("maxValues").get("name").isTextual)
      }
      // stats ranges are disjoint and cover 0..399
      val ranges = adds.map(a => {
        val st = graft.util.Jsons.parse(a.stats.get)
        (st.get("minValues").get("id").asLong(), st.get("maxValues").get("id").asLong())
      }).sorted
      assert(ranges.head._1 === 0L && ranges.last._2 === 399L)
      // skipping read: ids 150..160 live in ONE file
      val skipped = w.readSkipping(t, Map("id" -> (Some(150d), Some(160d))))
      assert(skipped.inputFiles.length === 1,
        s"expected 1 scheduled file, got ${skipped.inputFiles.length}")
      assert(skipped.filter(col("id").between(150, 160)).count() === 11)
      // unbounded range keeps everything; unknown column can't skip
      assert(w.readSkipping(t, Map("id" -> (None, None))).inputFiles.length === 4)
      assert(w.readSkipping(t, Map("nope" -> (Some(1d), Some(2d)))).inputFiles.length === 4)
    }
  }

  test("commit-time stats come from the write tasks, not a driver footer loop") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val tp = s"$tmp/ptable"
      val w = writer
      val before = graft.delta.DeltaStats.driverFooterReads.get()
      w.write((0L until 400L).map(i => (i, s"n$i")).toDF("id", "name")
        .repartitionByRange(4, col("id")), t, DeltaWriteMode.Append)
      w.write((0L until 100L).map(i => (i, i % 4)).toDF("id", "bucket"),
        tp, DeltaWriteMode.Append, partitionBy = Seq("bucket"))
      assert(graft.delta.DeltaStats.driverFooterReads.get() === before,
        "write commits must not open parquet footers on the driver")
      val log = new DeltaLogReader(conf)
      val adds = log.readCommit(t, 0).adds
      assert(adds.size === 4)
      adds.foreach { a =>
        assert(a.stats.isDefined, s"no stats on ${a.path}")
        assert(a.size > 0L, s"no size on ${a.path}")
        assert(graft.util.Jsons.parse(a.stats.get).get("numRecords").asLong() === 100L)
      }
      val padds = log.readCommit(tp, 0).adds
      assert(padds.nonEmpty && padds.forall(a => a.stats.isDefined && a.size > 0L))
    }
  }

  test("stats survive the parquet checkpoint round-trip") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      val df = (0L until 100L).map(i => (i, i * 2)).toDF("id", "v")
        .repartitionByRange(2, col("id"))
      w.write(df, t, DeltaWriteMode.Append)
      w.checkpoint(t)
      w.expireLogs(t)
      // activeAdds now reconstructs from the checkpoint parquet alone
      val log = new DeltaLogReader(conf)
      val adds = graft.delta.DeltaStats.activeAdds(log, t, 0L)
      assert(adds.size === 2)
      assert(adds.forall(_.stats.isDefined), "stats lost in checkpoint")
      val one = w.readSkipping(t, Map("id" -> (Some(0d), Some(10d))))
      assert(one.inputFiles.length === 1)
      assert(one.count() === 50) // the whole first file is scheduled
    }
  }

  test("partitioned writes: hive layout, partitionValues, pruning, round-trip") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      val df = (0L until 100L).map(i => (i, i % 4, s"r$i")).toDF("id", "bucket", "s")
      w.write(df, t, DeltaWriteMode.Append, partitionBy = Seq("bucket"))
      // hive layout directly under the root; partitionValues on every add
      val adds = new DeltaLogReader(conf).readCommit(t, 0).adds
      assert(adds.nonEmpty)
      adds.foreach { a =>
        assert(a.path.matches("""bucket=\d/part-.*\.parquet"""), a.path)
        assert(a.partitionValues.keySet === Set("bucket"))
      }
      assert(w.partitionColumnsOf(t) === Seq("bucket"))
      // read re-materializes the partition column with declared types/order
      val back = w.read(t)
      assert(back.columns.toSeq === Seq("id", "bucket", "s"))
      assert(back.count() === 100)
      assert(back.filter($"bucket" === 2).count() === 25)
      // append keeps the layout; mismatched partitioning errors
      w.write((100L until 120L).map(i => (i, i % 4, s"r$i")).toDF("id", "bucket", "s"),
        t, DeltaWriteMode.Append)
      assert(w.read(t).count() === 120)
      intercept[GraftError](w.write(df, t, DeltaWriteMode.Append,
        partitionBy = Seq("s")))
      // partition pruning: only bucket=3 files scheduled
      val pruned = w.readSkipping(t, Map("bucket" -> (Some(3d), Some(3d))))
      assert(pruned.inputFiles.forall(_.contains("bucket=3")),
        s"unpruned: ${pruned.inputFiles.filterNot(_.contains("bucket=3")).toSeq}")
      assert(pruned.count() === 30)
      // partitionValues survive checkpoint + log expiry
      (0 until 9).foreach(i => w.write(
        Seq((1000L + i, i.toLong % 4, "x")).toDF("id", "bucket", "s"),
        t, DeltaWriteMode.Append)) // versions 2..10, auto-checkpoint at 10
      w.expireLogs(t)
      val fromCkpt = graft.delta.DeltaStats.activeAdds(new DeltaLogReader(conf), t, 10L)
      assert(fromCkpt.forall(_.partitionValues.nonEmpty))
      assert(w.read(t).count() === 129)
      // z-order rewrite preserves the partition layout
      w.optimizeZOrder(t, Seq("id"), numFiles = 2)
      assert(w.partitionColumnsOf(t) === Seq("bucket"))
      assert(w.read(t).count() === 129)
      // per-partition compact keeps the layout too
      val vc = w.compact(t, smallFileBytes = 1024 * 1024)
      assert(w.partitionColumnsOf(t) === Seq("bucket"))
      assert(w.read(t).count() === 129)
      val compacted = graft.delta.DeltaStats.activeAdds(new DeltaLogReader(conf), t, vc)
      compacted.foreach(a => assert(
        a.path.startsWith(s"bucket=${a.partitionValues("bucket")}/"), a.path))
    }
  }

  test("per-partition compact consolidates within each hive partition") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      (0 until 6).foreach(i => w.write(
        Seq((i.toLong, i % 2)).toDF("id", "bucket"), t, DeltaWriteMode.Append,
        partitionBy = Seq("bucket")))
      val log = new DeltaLogReader(conf)
      assert(graft.delta.DeltaStats.activeAdds(log, t, 5L).size === 6)
      val v = w.compact(t, smallFileBytes = 1024 * 1024)
      val after = graft.delta.DeltaStats.activeAdds(log, t, v)
      assert(after.size === 2,
        s"expected one compacted file per partition, got ${after.map(_.path)}")
      after.foreach { a =>
        assert(a.partitionValues.keySet === Set("bucket"))
        assert(a.path.startsWith(s"bucket=${a.partitionValues("bucket")}/"), a.path)
        assert(a.stats.isDefined, s"compacted file lost stats: ${a.path}")
      }
      assert(w.partitionColumnsOf(t) === Seq("bucket"))
      assert(w.read(t).count() === 6)
      assert(w.read(t).filter(col("bucket") === 1).count() === 3)
      // partition pruning schedules only the one compacted file per value
      val pruned = w.readSkipping(t, Map("bucket" -> (Some(1d), Some(1d))))
      assert(pruned.inputFiles.length === 1)
      // compaction stays invisible to tailing readers (dataChange=false)
      val c = new DeltaTableCheckpoint(s"$tmp/cp", conf)
      val b = c.planBatch(t, DeltaSourceOptions(
        startOffset = DeltaStartOffset.Earliest)).get
      assert(b.files.size === 6)
    }
  }

  test("compact salt routing survives spaces and NULLs in partition values") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      // partition values with a space (would shift a space-joined key) and
      // NULL (concat_ws drops the slot entirely) — both made the salt-map
      // lookup miss and nulled the fan-out before the sentinel encoding
      val vals = Seq("a b", "a", null)
      (0 until 6).foreach { i =>
        w.write(Seq((i.toLong, vals(i % 3))).toDF("id", "p"), t,
          DeltaWriteMode.Append, partitionBy = Seq("p"))
      }
      val v = w.compact(t, smallFileBytes = 1024 * 1024)
      val log = new DeltaLogReader(conf)
      val after = graft.delta.DeltaStats.activeAdds(log, t, v)
      assert(after.size === 3,
        s"expected one compacted file per partition: ${after.map(_.path)}")
      val rows = w.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), Option(r.getString(1))))
      assert(rows.toSeq === (0 until 6).map(i =>
        (i.toLong, Option(vals(i % 3)))))
    }
  }

  test("string-interval skipping schedules only lexically intersecting files") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      // 4 files with disjoint ISO-date ranges via range partitioning
      val days = (0 until 120).map(i => (i.toLong, f"2024-01-${i % 30 + 1}%02d"))
      w.write(days.toDF("id", "day").repartitionByRange(4, col("day")),
        t, DeltaWriteMode.Append)
      val jan5to8 = w.readSkippingStrings(t,
        Map("day" -> (Some("2024-01-05"), Some("2024-01-08"))))
      assert(jan5to8.inputFiles.length < 4,
        s"no file skipped: ${jan5to8.inputFiles.length}")
      assert(jan5to8.filter(col("day").between("2024-01-05", "2024-01-08"))
        .count() === 16)
      // unbounded keeps all; unknown column can't skip
      assert(w.readSkippingStrings(t, Map("day" -> (None, None)))
        .inputFiles.length === 4)
      assert(w.readSkippingStrings(t, Map("nope" -> (Some("a"), Some("b"))))
        .inputFiles.length === 4)
    }
  }

  test("a string max at the truncation length never skips on the upper side") {
    import graft.delta.{DeltaAction, DeltaStats}
    // 64 chars = MaxStatString: a foreign writer may have stored a
    // truncated PREFIX of a longer true max — only a lower bound
    val trunc = "z" * 64
    def add(path: String, mn: String, mx: String) = DeltaAction.AddFile(path, 1L,
      dataChange = true, stats = Some(
        s"""{"numRecords":1,"minValues":{"s":"$mn"},"maxValues":{"s":"$mx"}}"""))
    val truncated = add("a.parquet", "a", trunc)
    val exact = add("b.parquet", "a", "m")
    // lo above both maxima: the exact max proves disjoint, the
    // possibly-truncated one cannot
    val (kept, _) = DeltaStats.pruneStrings(Seq(truncated, exact),
      Map("s" -> (Some(trunc + "zzz"), None)))
    assert(kept.map(_.path) === Seq("a.parquet"))
    // a truncated MIN prefix is still a valid lower bound: hi below it skips
    val (kept2, _) = DeltaStats.pruneStrings(Seq(truncated),
      Map("s" -> (None, Some("Z"))))
    assert(kept2.isEmpty)
  }

  test("string partition values prune exactly via readPartitions") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      val langs = Seq("en", "de", "fr")
      w.write((0L until 90L).map(i => (i, langs((i % 3).toInt), s"t$i"))
        .toDF("id", "lang", "text"), t, DeltaWriteMode.Append,
        partitionBy = Seq("lang"))
      val en = w.readPartitions(t, Map("lang" -> "en"))
      assert(en.inputFiles.forall(_.contains("lang=en")),
        s"unpruned: ${en.inputFiles.filterNot(_.contains("lang=en")).toSeq}")
      assert(en.count() === 30)
      assert(en.select("lang").distinct().collect().map(_.getString(0)).toSeq === Seq("en"))
      // unknown partition value -> empty, still with the declared schema
      val none = w.readPartitions(t, Map("lang" -> "xx"))
      assert(none.count() === 0 && none.columns.toSeq === Seq("id", "lang", "text"))
      // a non-partition column can't prune (kept, never filtered)
      assert(w.readPartitions(t, Map("nope" -> "v")).count() === 90)
    }
  }

  test("delta source streams partitioned tables with partition columns intact") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      val w = writer
      w.write((0L until 20L).map(i => (i, i % 2)).toDF("id", "bucket"),
        t, DeltaWriteMode.Append, partitionBy = Seq("bucket"))
      val src = new DeltaSource(t, new DeltaTableCheckpoint(cp, conf))
      val b = src.planBatch().get
      val df = src.readBatch(spark, b)
      assert(df.columns.contains("bucket"), s"partition column lost: ${df.columns.toSeq}")
      assert(df.count() === 20)
      assert(df.filter(col("bucket") === 1).count() === 10)
    }
  }

  test("commits carry protocol-spec actions a real delta reader requires") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writer.write(Seq((1L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      val lines = new String(Files.readAllBytes(
        Paths.get(t, "_delta_log", f"${0L}%020d.json"))).linesIterator.toSeq
      val protocol = lines.find(_.contains("\"protocol\"")).map(graft.util.Jsons.parse)
      assert(protocol.isDefined, "version-0 commit must declare a protocol action")
      assert(protocol.get.get("protocol").get("minReaderVersion").asInt() === 1)
      val md = lines.find(_.contains("\"metaData\"")).map(graft.util.Jsons.parse).get
        .get("metaData")
      assert(md.get("format").get("provider").asText() === "parquet")
      assert(md.get("partitionColumns").isArray)
      assert(md.get("configuration").isObject)
      assert(md.get("schemaString").asText().contains("struct"))
      // protocol appears only at v0; later commits are unaffected
      writer.write(Seq((2L, "b")).toDF("id", "s"), t, DeltaWriteMode.Append)
      val v1 = new String(Files.readAllBytes(
        Paths.get(t, "_delta_log", f"${1L}%020d.json")))
      assert(!v1.contains("\"protocol\""))
    }
  }

  test("checkpoints carry a protocol row; a DV table's 3/7 upgrade survives log expiry") {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    withTmpDir { tmp =>
      val w = writer
      val log = new DeltaLogReader(conf)
      // plain table: the base 1/2 protocol row lands in the checkpoint
      val t0 = s"$tmp/plain"
      w.write(Seq((1L, "a")).toDF("id", "s"), t0, DeltaWriteMode.Append)
      w.checkpoint(t0)
      w.expireLogs(t0)
      assert(log.snapshot(t0, 0L).protocol ===
        Some(graft.delta.DeltaAction.Protocol(1, Seq.empty, 2, Seq.empty)))
      // DV table: deleteWhere upgrades to reader 3 / writer 7 in its JSON
      // commit; after checkpoint + FULL expiry (keepVersions = 0) the
      // upgrade must survive in the checkpoint parquet, or a foreign
      // reader legally defaults to 1/2, ignores the deletion vectors, and
      // resurrects the deleted rows
      val t = s"$tmp/dv"
      w.write(spark.range(0, 10).toDF("id").coalesce(1), t, DeltaWriteMode.Append)
      assert(w.deleteWhere(t, col("id") < 3) === 3L)
      val dv = log.latestVersion(t).get // the DV delete's commit
      w.checkpoint(t)
      w.expireLogs(t)
      assert(log.listVersions(t) === Seq(dv), "expiry must leave only the checkpointed tail")
      val p = log.snapshot(t, dv).protocol
      assert(p.map(_.minReaderVersion) === Some(3))
      assert(p.map(_.minWriterVersion) === Some(7))
      assert(p.exists(_.readerFeatures.contains("deletionVectors")))
      assert(p.exists(_.writerFeatures.contains("deletionVectors")))
      // a foreign reader (Spark's parquet scan) sees standard protocol
      // columns: int versions + array<string> feature lists, not private
      // encodings
      val ck = spark.read.parquet(
        s"$t/_delta_log/${"%020d".format(dv)}.checkpoint.parquet")
      val pt = ck.schema("protocol").dataType.asInstanceOf[StructType]
      assert(pt("readerFeatures").dataType.isInstanceOf[ArrayType],
        s"readerFeatures must be a parquet LIST: ${pt("readerFeatures").dataType}")
      val prow = ck.filter(col("protocol").isNotNull)
        .select("protocol.minReaderVersion", "protocol.minWriterVersion",
          "protocol.readerFeatures").head()
      assert(prow.getInt(0) === 3 && prow.getInt(1) === 7)
      assert(prow.getSeq[String](2) === Seq("deletionVectors"))
      assert(ck.filter(col("protocol").isNotNull).count() === 1,
        "exactly one protocol action per checkpoint")
      // and our own reader still reconstructs the DV-filtered table
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq ===
        (3L until 10L))
    }
  }

  test("large snapshots checkpoint multi-part and round-trip") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      writeLog(t, 0, (Seq(ci(0), meta("mp-table")) ++
        (1 to 7).map(i => add(s"f$i.parquet", i * 10))): _*)
      val cw = new graft.delta.CheckpointWriter(conf, actionsPerPart = 3)
      cw.checkpoint(t, Some(0))
      val log = new DeltaLogReader(conf)
      // 7 adds / 3 per part -> 3 parts, pointer carries parts
      assert(log.lastCheckpoint(t) === Some(graft.delta.CheckpointInstance(0, Some(3))))
      cw.expireLogs(t) // v0 json is NOT below the checkpoint; keep
      writeLog(t, 1, ci(100), add("f8.parquet", 80), remove("f1.parquet"))
      val state = new DeltaLogReader(conf).snapshot(t, 1).adds
      assert(state.map(_.path) === (2 to 8).map(i => s"f$i.parquet"))
      assert(new DeltaLogReader(conf).latestSnapshot(t).flatMap(_.meta).map(_.id) === Some("mp-table"))
    }
  }

  test("expireLogs without a checkpoint deletes nothing") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = new DeltaWriter(spark, conf, checkpointInterval = 0)
      (1 to 3).foreach(i =>
        w.write(Seq((i.toLong, "x")).toDF("id", "s"), t, DeltaWriteMode.Append))
      assert(w.expireLogs(t) === 0)
      assert(new DeltaLogReader(conf).listVersions(t).size === 3)
    }
  }

  test("append with new column requires mergeSchema and null-fills") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      intercept[GraftError](
        w.write(Seq((2L, "b", 5.0)).toDF("id", "s", "x"), t, DeltaWriteMode.Append))
      w.write(Seq((2L, "b", 5.0)).toDF("id", "s", "x"), t, DeltaWriteMode.Append,
        mergeSchema = true)
      val out = w.read(t).orderBy("id").collect()
      assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
      assert(out(0).isNullAt(2) && out(1).getDouble(2) === 5.0)
    }
  }

  test("our own writes are tailable by the delta source (self-hosting)") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      val w = writer
      w.write(Seq((1L, 10L)).toDF("id", "v"), t, DeltaWriteMode.Append)
      val c = new DeltaTableCheckpoint(cp, conf)
      val src = new DeltaSource(t, c,
        DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest))
      val b0 = src.planBatch().get
      val df0 = src.readBatch(spark, b0)
      assert(df0.count() === 1)
      src.commitBatch(b0, Map.empty)
      w.write(Seq((2L, 20L)).toDF("id", "v"), t, DeltaWriteMode.Append)
      val b1 = src.planBatch().get
      assert(src.readBatch(spark, b1).select("id").head().getLong(0) === 2L)
    }
  }

  test("CDF reads from a foreign column-mapped table resolve logical names") {
    import org.apache.spark.sql.types._
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      var stageN = 0
      def stage(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
        stageN += 1
        val sd = s"$tmp/stage$stageN"
        df.coalesce(1).write.parquet(sd)
        val part = new File(sd).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.createDirectories(Paths.get(dest).getParent)
        Files.move(part.toPath, Paths.get(dest))
      }
      // foreign mapped table: v0 insert, v1 update with a cdc file — all
      // files carry PHYSICAL names; the cdc file's _change_type column is
      // protocol metadata stored under its literal name
      stage(Seq((1L, "a")).toDF("col-111", "col-222"), s"$t/data0.parquet")
      stage(Seq((1L, "A")).toDF("col-111", "col-222"), s"$t/data1.parquet")
      stage(Seq((1L, "A", "update_postimage"))
        .toDF("col-111", "col-222", "_change_type"),
        s"$t/_change_data/cdc-0.parquet")
      def mapped(name: String, phys: String, id: Long, dt: DataType) =
        StructField(name, dt, nullable = true,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", phys)
            .putLong("delta.columnMapping.id", id).build())
      val logical = StructType(Seq(
        mapped("id", "col-111", 1L, LongType),
        mapped("s", "col-222", 2L, StringType)))
      val md = graft.util.Jsons.obj()
      md.put("id", "cm-cdf"); md.put("schemaString", logical.json)
      val cfg = graft.util.Jsons.obj()
      cfg.put("delta.enableChangeDataFeed", "true")
      cfg.put("delta.columnMapping.mode", "name")
      md.set[com.fasterxml.jackson.databind.JsonNode]("configuration", cfg)
      writeLog(t, 0,
        """{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}""",
        ci(0), s"""{"metaData": ${graft.util.Jsons.render(md)}}""",
        add("data0.parquet"))
      writeLog(t, 1, ci(10), add("data1.parquet"), remove("data0.parquet"),
        cdc("_change_data/cdc-0.parquet"))
      val src = new DeltaSource(t, new DeltaTableCheckpoint(cp, conf),
        DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest,
          readChangeFeed = true))
      val b = src.planBatch().get
      val df = src.readBatch(spark, b)
      assert(df.columns.take(2).toSeq === Seq("id", "s"),
        s"logical names must surface: ${df.columns.toSeq}")
      val rows = df.select(col("id"), col("s"), col(Cdc.ChangeTypeCol),
        col(Cdc.CommitVersionCol)).orderBy(Cdc.CommitVersionCol).collect()
      assert(rows.map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq ===
        Seq((1L, "a", "insert", 0L), (1L, "A", "update_postimage", 1L)))
    }
  }

  test("CDF write + CDF read round-trip with metadata columns") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      val w = writer
      w.write(Seq((1L, 10L)).toDF("id", "v"), t, DeltaWriteMode.Append)
      val changes = Seq((2L, 20L, "insert")).toDF("id", "v", Cdc.ChangeTypeCol)
      w.write(Seq((2L, 20L)).toDF("id", "v"), t, DeltaWriteMode.Append,
        cdfChanges = Some(changes))
      val src = new DeltaSource(t, new DeltaTableCheckpoint(cp, conf),
        DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest, readChangeFeed = true))
      val b = src.planBatch().get
      val df = src.readBatch(spark, b).orderBy(Cdc.CommitVersionCol)
      assert(df.columns.contains(Cdc.ChangeTypeCol))
      assert(df.columns.contains(Cdc.CommitVersionCol))
      val rows = df.select("id", Cdc.ChangeTypeCol, Cdc.CommitVersionCol).collect()
      // v0 has no cdc action -> insert fallback; v1 prefers the cdc file
      assert(rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
        Seq((1L, "insert", 0L), (2L, "insert", 1L)))
    }
  }

  test("CDF read with default snapshot start returns existing rows as inserts") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"; val cp = s"$tmp/cp"
      val w = writer
      w.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), t, DeltaWriteMode.Append)
      val src = new DeltaSource(t, new DeltaTableCheckpoint(cp, conf),
        DeltaSourceOptions(startOffset = DeltaStartOffset.Snapshot,
          readChangeFeed = true))
      val b = src.planBatch().get
      val rows = src.readBatch(spark, b)
        .select("id", Cdc.ChangeTypeCol, Cdc.CommitVersionCol).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(rows === Seq((1L, "insert", 0L), (2L, "insert", 0L)))
      src.commitBatch(b, Map.empty)
      w.write(Seq((3L, 30L)).toDF("id", "v"), t, DeltaWriteMode.Append)
      val b1 = src.planBatch().get
      val r1 = src.readBatch(spark, b1).select("id", Cdc.ChangeTypeCol).collect()
      assert(r1.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((3L, "insert")))
    }
  }

  test("compact consolidates small files invisibly to tailing readers") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      (1 to 3).foreach(i => w.write(Seq((i.toLong, i.toLong)).toDF("id", "v"), t,
        DeltaWriteMode.Append))
      val vBefore = new DeltaLogReader(conf).latestVersion(t).get
      val vAfter = w.compact(t, smallFileBytes = 1024 * 1024)
      assert(vAfter === vBefore + 1)
      assert(w.read(t).count() === 3)
      // tailing from scratch sees only the original dataChange adds
      val c = new DeltaTableCheckpoint(s"$tmp/cp", conf)
      val b = c.planBatch(t, DeltaSourceOptions(
        startOffset = DeltaStartOffset.Earliest)).get
      assert(b.files.size === 3)
    }
  }

  test("optimistic retry: two concurrent appenders both land every commit") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      (0 until 2).foreach { writerIdx =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val w = new DeltaWriter(spark, conf)
            start.await()
            try (0 until 8).foreach { i =>
              w.write(Seq((writerIdx * 100L + i, s"w$writerIdx")).toDF("id", "s"),
                t, DeltaWriteMode.Append)
            } catch { case e: Throwable => failures.add(e) }
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS))
      assert(failures.isEmpty, s"appenders must retry through conflicts: ${failures.peek()}")
      // every append landed in a contiguous version chain
      val log = new DeltaLogReader(conf)
      assert(log.listVersions(t) === (0L until 16L))
      assert(writer.read(t).count() === 16L)
    }
  }

  test("conflict matrix: appends compose; stale overwrite/merge/optimize fail") {
    import graft.delta.{DeltaAction, DeltaCommit, DeltaWriter => DW}
    def commitOf(actions: DeltaAction*) = DeltaCommit(1L, actions)
    val addC = DeltaAction.AddFile("x.parquet", 1L, dataChange = true)
    val removeC = DeltaAction.RemoveFile("a.parquet", dataChange = false)
    val metaOnly = commitOf(DeltaAction.CommitInfo(Some(1L)))
    // blind append survives anything
    assert(DW.conflictReason("WRITE_APPEND", Nil, None, Seq(commitOf(addC, removeC))).isEmpty)
    // optimize survives concurrent appends, dies when its input was removed
    assert(DW.conflictReason("OPTIMIZE", Seq("a.parquet"), None, Seq(commitOf(addC))).isEmpty)
    assert(DW.conflictReason("OPTIMIZE", Seq("a.parquet"), None, Seq(commitOf(removeC))).isDefined)
    // overwrite / merge survive only metadata-only interveners
    assert(DW.conflictReason("WRITE_OVERWRITE", Seq("a.parquet"), None, Seq(metaOnly)).isEmpty)
    assert(DW.conflictReason("WRITE_OVERWRITE", Seq("a.parquet"), None, Seq(commitOf(addC))).isDefined)
    assert(DW.conflictReason("MERGE", Seq("a.parquet"), None, Seq(commitOf(removeC))).isDefined)
    // SetTransaction conflicts cut across the matrix: even a blind append
    // dies when an intervening commit recorded the same appId's batch
    // at-or-above ours (zombie writer racing its replacement)
    val sameTxn = commitOf(DeltaAction.Txn("app", 7L))
    assert(DW.conflictReason("WRITE_APPEND", Nil, Some(("app", 7L)), Seq(sameTxn)).isDefined)
    assert(DW.conflictReason("WRITE_APPEND", Nil, Some(("app", 8L)), Seq(sameTxn)).isEmpty,
      "an older intervening batch does not block a newer one")
    assert(DW.conflictReason("WRITE_APPEND", Nil, Some(("other", 7L)), Seq(sameTxn)).isEmpty)
    assert(DW.conflictReason("MERGE", Nil, Some(("app", 7L)), Seq(sameTxn)).isDefined)
    // intervening metaData: a same-content re-emission (every concurrent
    // append does one) and purely additive schema growth compose; a
    // configuration change or a non-additive schema change conflicts —
    // our commit would clobber it with the stale planning copy
    import org.apache.spark.sql.types._
    val baseSchema = StructType(Seq(StructField("id", LongType)))
    val widened = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType)))
    val retyped = StructType(Seq(StructField("id", StringType)))
    val base = graft.delta.TableMeta("t", Some(baseSchema.json),
      Some("""{"delta.appendOnly":"false"}"""))
    def metaCommit(schema: StructType, cfg: Option[String]) =
      commitOf(DeltaAction.MetaData("t", Some(schema.json), cfg))
    assert(DW.conflictReason("WRITE_APPEND", Nil, None,
      Seq(metaCommit(baseSchema, Some("""{"delta.appendOnly":"false"}"""))),
      Some(base)).isEmpty, "same-content re-emission must compose")
    assert(DW.conflictReason("WRITE_APPEND", Nil, None,
      Seq(metaCommit(widened, Some("""{"delta.appendOnly":"false"}"""))),
      Some(base)).isEmpty, "additive schema growth must compose (retry folds it)")
    assert(DW.conflictReason("WRITE_APPEND", Nil, None,
      Seq(metaCommit(baseSchema, Some("""{"delta.appendOnly":"true"}"""))),
      Some(base)).isDefined, "a configuration change must conflict")
    assert(DW.conflictReason("WRITE_APPEND", Nil, None,
      Seq(metaCommit(baseSchema, Some("{}"))),
      Some(base)).isDefined, "clearing the configuration must conflict")
    assert(DW.conflictReason("WRITE_APPEND", Nil, None,
      Seq(metaCommit(retyped, Some("""{"delta.appendOnly":"false"}"""))),
      Some(base)).isDefined, "a column type change must conflict")
  }

  test("commits landing in the planning window are conflict-checked on the first attempt") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, 10L)).toDF("id", "v"), t, DeltaWriteMode.Append) // v0
      val planned = w.latestVersion(t) // plan a merge against v0's snapshot
      val touched = w.activeAdds(t).map(_.path)
      // a concurrent append lands BETWEEN planning and commit (v1): no
      // version race ever happens (we'd commit at v2), so only the
      // first-attempt readVersion check can catch it
      w.write(Seq((2L, 20L)).toDF("id", "v"), t, DeltaWriteMode.Append) // v1
      val e = intercept[graft.core.CommitError] {
        w.replaceFiles(Seq((1L, 11L)).toDF("id", "v"), t, touched,
          readVersion = planned)
      }
      assert(e.getMessage.contains("read version"), e.getMessage)
      // the intervening append's file is still alive and the merge did not land
      assert(w.read(t).count() === 2)
    }
  }

  test("replayed txn batch racing its replacement fails instead of double-appending") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, 10L)).toDF("id", "v"), t, DeltaWriteMode.Append) // v0
      val planned = w.latestVersion(t) // zombie checks lastTxnVersion here
      assert(w.lastTxnVersion(t, "app").isEmpty)
      // the replacement commits batch 5 first (v1)
      w.write(Seq((2L, 20L)).toDF("id", "v"), t, DeltaWriteMode.Append,
        txn = Some(("app", 5L)))
      // the zombie replays batch 5 against its stale read: must conflict
      val e = intercept[graft.core.CommitError] {
        w.replaceFiles(Seq((3L, 30L)).toDF("id", "v"), t, Nil,
          txn = Some(("app", 5L)), readVersion = planned)
      }
      assert(e.getMessage.contains("appId app"), e.getMessage)
      assert(w.read(t).count() === 2, "the replayed batch must not land")
    }
  }

  test("vacuum removes unreferenced files older than retention") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, 1L)).toDF("id", "v"), t, DeltaWriteMode.Append)
      w.write(Seq((2L, 2L)).toDF("id", "v"), t, DeltaWriteMode.Overwrite)
      val deleted = w.vacuum(t, retentionMs = -1000) // everything old enough
      assert(deleted >= 1)
      assert(w.read(t).collect().map(_.getLong(0)).toSeq === Seq(2L))
    }
  }

  test("vacuum spares files a concurrent RESTORE re-referenced after planning") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, 1L)).toDF("id", "v"), t, DeltaWriteMode.Append)   // v0
      w.write(Seq((2L, 2L)).toDF("id", "v"), t, DeltaWriteMode.Overwrite) // v1
      // vacuum plans with v0's file unreferenced; the restore lands between
      // planning and deletion and re-references it — the conflict re-check
      // must drop it from the delete set
      val deleted = w.vacuum(t, retentionMs = -1000,
        afterPlan = () => w.restore(t, 0L))
      assert(w.read(t).collect().map(_.getLong(0)).toSeq === Seq(1L),
        "restored snapshot must read back intact after the racing vacuum")
      // re-running vacuum with a quiet log reclaims v1's now-orphaned file
      assert(w.vacuum(t, retentionMs = -1000) >= 1)
      assert(w.read(t).collect().map(_.getLong(0)).toSeq === Seq(1L))
      assert(deleted >= 0)
    }
  }

  test("apply_cdc_delta: merge path read-modify-overwrite with metrics") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), t, DeltaWriteMode.Append)
      val changes = Seq(
        (1L, Some(11L), "update_postimage", 1L),
        (3L, Some(30L), "insert", 1L),
        (2L, Option.empty[Long], "delete", 1L))
        .toDF("id", "v", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      val result = DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id"))
      assert(result.action === "merge")
      assert(result.rowsIn === 3)
      assert(result.rowsOut === 2)
      val out = w.read(t).orderBy("id").collect()
      assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 11L), (3L, 30L)))
    }
  }

  test("CDC merge rewrites only files whose stats intersect the change keys") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      // two single-file appends with disjoint key ranges
      w.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1),
        t, DeltaWriteMode.Append)
      w.write(Seq((1000L, 1L), (1001L, 2L)).toDF("id", "v").coalesce(1),
        t, DeltaWriteMode.Append)
      val log = new DeltaLogReader(conf)
      val before = graft.delta.DeltaStats.activeAdds(log, t, 1L)
      assert(before.size === 2)
      def maxId(a: graft.delta.DeltaAction.AddFile): Long =
        graft.util.Jsons.parse(a.stats.get).get("maxValues").get("id").asLong()
      val lowFile = before.minBy(maxId).path
      val highFile = before.maxBy(maxId).path
      // the change batch touches only the high key range
      val changes = Seq(
        (1000L, Some(11L), "update_postimage", 1L),
        (1002L, Some(3L), "insert", 1L))
        .toDF("id", "v", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      val res = DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id"),
        strategy = MergeStrategy.Rewrite)
      // rows_out counts carried-forward rows via untouched numRecords stats
      assert(res.rowsOut === 5, s"expected 5 rows out, got ${res.rowsOut}")
      val commit = log.readCommit(t, 2)
      assert(commit.removes.map(_.path) === Seq(highFile),
        "merge must remove exactly the touched file")
      val after = graft.delta.DeltaStats.activeAdds(log, t, 2L).map(_.path)
      assert(after.contains(lowFile), "untouched file's add action must survive unchanged")
      assert(!after.contains(highFile))
      assert(w.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        Seq((1L, 10L), (2L, 20L), (1000L, 11L), (1001L, 2L), (1002L, 3L)))
      // a batch of only brand-new keys removes nothing at all
      val freshInserts = Seq((5000L, Some(50L), "insert", 2L))
        .toDF("id", "v", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      val res2 = DeltaCdc.applyCdcDelta(spark, freshInserts, t, Seq("id"))
      assert(res2.rowsOut === 6)
      assert(log.readCommit(t, 3).removes.isEmpty,
        "insert-only batch outside every file's range must rewrite nothing")
      assert(w.read(t).count() === 6)
    }
  }

  test("CDC merge into a partitioned table keeps the layout and prunes by partition") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write((0L until 40L).map(i => (i, i % 4, i * 10L)).toDF("id", "bucket", "v"),
        t, DeltaWriteMode.Append, partitionBy = Seq("bucket"))
      val log = new DeltaLogReader(conf)
      val before = graft.delta.DeltaStats.activeAdds(log, t, 0L)
      val untouchedBuckets = before.filterNot(_.partitionValues("bucket") == "2").map(_.path)
      // all change keys live in bucket 2 (ids 2, 6, ... ≡ 2 mod 4): key
      // range [2,38] overlaps every file's id stats, but the merge keys
      // include the partition column, so partition pruning must confine
      // the rewrite to bucket=2 files
      val changes = (0L until 10L).map(i => (i * 4 + 2, 2L, 9999L, "update_postimage", 1L))
        .toDF("id", "bucket", "v", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      val res = DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id", "bucket"))
      assert(res.rowsOut === 40)
      val commit1 = log.readCommit(t, 1)
      assert(commit1.removes.map(_.path).forall(_.startsWith("bucket=2/")),
        s"merge must only rewrite bucket=2 files, removed: ${commit1.removes.map(_.path)}")
      assert(commit1.adds.map(_.path).forall(_.startsWith("bucket=2/")),
        s"merged rows must stay hive-partitioned, added: ${commit1.adds.map(_.path)}")
      val after = graft.delta.DeltaStats.activeAdds(log, t, 1L).map(_.path)
      untouchedBuckets.foreach(p => assert(after.contains(p), s"$p must survive"))
      assert(w.partitionColumnsOf(t) === Seq("bucket"))
      val out = w.read(t)
      assert(out.count() === 40)
      assert(out.filter(col("v") === 9999L).count() === 10)
      assert(out.filter(col("bucket") === 1).agg(sum("v")).head().getLong(0) ===
        (0L until 40L).filter(_ % 4 == 1).map(_ * 10).sum)
    }
  }

  test("apply_cdc_delta: append_only fast path appends without rewrite") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      val w = writer
      w.write(Seq((1L, 10L)).toDF("id", "v"), t, DeltaWriteMode.Append)
      val changes = Seq((2L, 20L, "insert", 1L), (1L, 0L, "delete", 1L))
        .toDF("id", "v", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      val result = DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id"),
        mode = CdcMode.AppendOnly)
      assert(result.action === "append")
      assert(w.read(t).orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    }
  }
}
