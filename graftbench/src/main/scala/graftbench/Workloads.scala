package graftbench

import graft._
import graft.delta.{DeltaWriteMode, DeltaWriter}
import graft.sinks.ParquetSink
import graft.sources._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark workload: seeded inputs, a closed loop of ops, and the
  * correctness checks that run after the timed phase. Op `i` counts from
  * the first warm-up op. */
trait Workload {
  def warmupOps: Int
  /** Path prefixes the traced run attributes file-system calls to. */
  def roots: Seq[(String, String)]
  /** Generates the inputs of `totalOps` ops; returns their digest. */
  def generate(totalOps: Int): String
  /** Set-up's fixed warm-up: by default ops 0 until `warmupOps`. */
  def warmup(): Unit = (0 until warmupOps).foreach { i => prepare(i); op(i) }
  /** Untimed work before op `i`: lands its input. */
  def prepare(i: Int): Unit = ()
  /** Runs op `i`; returns its label and the input rows it consumed. */
  def op(i: Int): (String, Long)
  /** Traced runs only: facts read after each op, which started at
    * `startMs`, outside its timing. */
  def afterOp(startMs: Long, trace: OpTrace): Unit = ()
  /** (check name, passed, detail), run after the timed phase. */
  def check(): Seq[(String, Boolean, String)]
}

object Workload {
  def hconf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  /** Bytes of the files under `dir` modified at or after `sinceMs`. */
  def bytesWrittenSince(dir: String, sinceMs: Long): Long = {
    val root = new File(dir)
    if (!root.exists()) return 0L
    java.nio.file.Files.walk(root.toPath).iterator().asScala
      .map(_.toFile)
      .filter(f => f.isFile && f.lastModified() >= sinceMs - 1)
      .map(_.length()).sum
  }

  def sha256(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Runs `f` over `names` on a pool of `n` threads; results in order. */
  def parallel[T](names: Seq[String], n: Int)(f: String => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val futures = names.map(q => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = f(q)
      }))
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** Moves the single parquet part Spark wrote under `dir` to `dst`. */
  def movePart(spark: SparkSession, dir: String, dst: String): Unit = {
    val fs = new Path(dir).getFileSystem(hconf(spark))
    val part = fs.globStatus(new Path(dir, "part-*.parquet")).head.getPath
    fs.mkdirs(new Path(dst).getParent)
    if (!fs.rename(part, new Path(dst)))
      throw new IllegalStateException(s"could not land $part at $dst")
  }
}

/** Zipf(s) sampler over [0, n) with ranks mapped to keys by a seeded
  * permutation, so the hot keys are spread over the key space. */
final class Zipf(n: Int, s: Double, rnd: SplittableRandom) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  private val keyOfRank: Array[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  def next(): Int = {
    val u = rnd.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    keyOfRank(math.min(i, n - 1))
  }
}

/** `ingest_cdc`: one op is one `Pipeline.runOnce` of FileSource over a
  * landing dir → SchemaEvolution (one column added mid-run) → a writer
  * calling `DeltaCdc.applyCdcDelta` with a txn watermark into a silver
  * Delta table. Keys are Zipf over a fixed key space; a share of the
  * changes are deletes and new keys arrive as inserts. */
final class IngestCdc(spark: SparkSession, work: String, seed: Long) extends Workload {
  val KeySpace = 20000
  val BatchKeys = 300
  val DeleteShare = 0.10
  val NewKeyShare = 0.05
  val AppId = "graftbench-ingest"
  val warmupOps = 2

  private val landing = s"$work/landing"
  private val staging = s"$work/staging"
  private val cp = s"$work/checkpoint"
  private val silver = s"$work/silver"
  def roots: Seq[(String, String)] =
    Seq(cp -> "wal", silver -> "table", landing -> "landing")

  private val delta = new DeltaWriter(spark, Workload.hconf(spark))
  /** The generator's keyed model of silver: id -> (v, cat, note). */
  private val model = mutable.HashMap.empty[Long, (Long, String, String)]
  private var batchRows = Array.empty[Int]
  private var noteFrom = 0
  private var totalBatches = 0
  private val Cats = Array.tabulate(8)(i => s"cat$i")

  private val baseSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType),
    StructField("cat", StringType), StructField(Cdc.ChangeTypeCol, StringType),
    StructField(Cdc.CommitVersionCol, LongType), StructField("batch", IntegerType)))

  def generate(totalOps: Int): String = {
    val rnd = new SplittableRandom(seed)
    val initial = (0 until KeySpace).map { k =>
      val v = rnd.nextLong(1000000L); val c = Cats(rnd.nextInt(Cats.length))
      model(k.toLong) = (v, c, null)
      Row(k.toLong, v, c)
    }
    delta.write(spark.createDataFrame(initial.asJava, StructType(baseSchema.take(3))),
      silver, DeltaWriteMode.Overwrite)

    // one batch per op plus the one the forced replay lands
    totalBatches = totalOps + 1
    noteFrom = warmupOps + 4 + (seed % 4).toInt
    val zipf = new Zipf(KeySpace, 1.1, rnd)
    var nextNew = KeySpace.toLong
    val pre = mutable.ArrayBuffer.empty[Row]
    val post = mutable.ArrayBuffer.empty[Row]
    val digestParts = mutable.ArrayBuffer.empty[String]
    batchRows = Array.tabulate(totalBatches) { b =>
      val keys = mutable.LinkedHashSet.empty[Long]
      var tries = 0
      while (keys.size < BatchKeys && tries < 50 * BatchKeys) {
        keys += (if (rnd.nextDouble() < NewKeyShare) { nextNew += 1; nextNew - 1 }
          else zipf.next().toLong)
        tries += 1
      }
      keys.foreach { k =>
        val v = rnd.nextLong(1000000L); val c = Cats(rnd.nextInt(Cats.length))
        val note = if (b >= noteFrom) s"n$b-${rnd.nextInt(100)}" else null
        val kind =
          if (!model.contains(k)) "insert"
          else if (rnd.nextDouble() < DeleteShare) "delete"
          else "update_postimage"
        if (kind == "delete") model.remove(k) else model(k) = (v, c, note)
        digestParts += s"$b,$k,$v,$c,$note,$kind"
        if (b >= noteFrom) post += Row(k, v, c, kind, b.toLong, b, note)
        else pre += Row(k, v, c, kind, b.toLong, b)
      }
      keys.size
    }
    // every batch's file in two partitioned writes: the batches before the
    // column add lack `note`, the later ones carry it
    def stage(rows: Seq[Row], schema: StructType, dir: String): Unit =
      if (rows.nonEmpty)
        spark.createDataFrame(rows.asJava, schema).coalesce(1)
          .write.partitionBy("batch").parquet(dir)
    Workload.parallel(Seq("pre", "post"), 2) {
      case "pre" => stage(pre.toSeq, baseSchema, s"$staging/pre")
      case _ => stage(post.toSeq, baseSchema.add(StructField("note", StringType)), s"$staging/post")
    }
    new File(landing).mkdirs()
    Workload.sha256(digestParts.iterator)
  }

  override def prepare(i: Int): Unit = {
    val group = if (i >= noteFrom) "post" else "pre"
    Workload.movePart(spark, s"$staging/$group/batch=$i", f"$landing/changes_$i%05d.parquet")
  }

  private def writer(crash: Boolean)(df: DataFrame, ctx: BatchContext): Map[String, String] =
    if (delta.lastTxnVersion(silver, AppId).exists(_ >= ctx.batchId))
      Map("skipped" -> "replay")
    else {
      val t0 = System.nanoTime()
      val r = DeltaCdc.applyCdcDelta(spark, df, silver, Seq("id"),
        txn = Some((AppId, ctx.batchId)))
      Tracer.add("merge.s", (System.nanoTime() - t0) / 1e9)
      Tracer.add("merge.rows_in", r.rowsIn.toDouble)
      if (crash) throw new IllegalStateException("injected crash after the merge")
      Map("rows_out" -> r.rowsOut.toString)
    }

  private def pipeline(crash: Boolean): Pipeline = {
    val source = new FileSource(landing, new FileStreamCheckpoint(cp, Workload.hconf(spark)),
      "parquet", FileSourceOptions(pattern = "*.parquet", maxFilesPerTrigger = Some(1)))
    new Pipeline(source = source, writer = writer(crash),
      schemaEvolution = Some(new SchemaEvolution(SchemaPolicy.AddNewColumns)),
      observer = new TraceObserver, spark = spark)
  }
  private lazy val main = pipeline(crash = false)

  def op(i: Int): (String, Long) = main.runOnce() match {
    case Some(id) if id == i => ("batch", batchRows(i).toLong)
    case other => throw new IllegalStateException(s"op $i processed batch $other")
  }

  override def afterOp(startMs: Long, trace: OpTrace): Unit = {
    trace.add("delta.active_files", delta.activeAdds(silver).size)
    if (delta.latestVersion(silver).exists(_ % 10 == 0)) trace.add("delta.checkpoint_batch", 1)
    trace.add("wal.bytes_written", Workload.bytesWrittenSince(cp, startMs))
    trace.add("merge.table_bytes", Workload.bytesWrittenSince(silver, startMs))
  }

  def check(): Seq[(String, Boolean, String)] = {
    // forced replay: the writer throws after the merge, before the WAL
    // commit; a fresh pipeline replays the batch and must skip it
    val replay = totalBatches - 1
    prepare(replay)
    val crashed =
      try { pipeline(crash = true).runOnce(); false }
      catch { case _: graft.core.GraftError => true }
    val afterCrash = delta.latestVersion(silver)
    val replayed = pipeline(crash = false).runOnce()
    val afterReplay = delta.latestVersion(silver)
    val watermark = delta.lastTxnVersion(silver, AppId)

    val table = delta.read(silver)
    val note = if (table.columns.contains("note")) col("note") else lit(null).cast("string")
    val rows = table.select(col("id"), col("v"), col("cat"), note).collect()
    val got = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getString(3)))).toMap
    val diff = (got.keySet ++ model.keySet).count(k => got.get(k) != model.get(k))
    Seq(
      ("ingest.replay_crashed", crashed, s"writer crash surfaced: $crashed"),
      ("ingest.replay_skipped", replayed.contains(replay.toLong) && afterReplay == afterCrash &&
        watermark.contains(replay.toLong),
        s"replayed=$replayed versions $afterCrash -> $afterReplay watermark=$watermark"),
      ("ingest.silver_equals_model", diff == 0 && got.size == model.size,
        s"${got.size} rows, model ${model.size}, $diff keys differ"))
  }
}

/** `cdf_tail`: before each op one upstream commit lands through the
  * engine's writer — an append, a CDF-emitting merge or a deletion-vector
  * `deleteWhere`, in a seeded order. One op is one `Pipeline.runOnce` of
  * `DeltaSource(readChangeFeed = true)` → a per-version aggregation →
  * `ParquetSink`. Op 0 consumes the initial snapshot. */
final class CdfTail(spark: SparkSession, work: String, seed: Long) extends Workload {
  val InitialRows = 20000
  val CommitRows = 200
  val warmupOps = 7

  private val upstream = s"$work/upstream"
  private val cp = s"$work/checkpoint"
  private val out = s"$work/out"
  def roots: Seq[(String, String)] = Seq(cp -> "wal", upstream -> "table", out -> "sink")

  private val delta = new DeltaWriter(spark, Workload.hconf(spark))
  private val schema = StructType(Seq(StructField("id", LongType), StructField("v", LongType)))
  private val changeSchema = schema
    .add(StructField(Cdc.ChangeTypeCol, StringType))
    .add(StructField(Cdc.CommitVersionCol, LongType))

  private sealed abstract class Commit(val label: String) { def changeRows: Int }
  private case class Append(rows: Seq[(Long, Long)]) extends Commit("append") {
    def changeRows: Int = rows.size
  }
  private case class Merge(changes: Seq[(Long, Long, String)]) extends Commit("merge") {
    def changeRows: Int = changes.size
  }
  private case class Delete(mod: Int, rem: Int, n: Int) extends Commit("delete") {
    def changeRows: Int = n
  }

  private var commits = Array.empty[Commit]
  /** Expected CDF per (version, change type): (rows, sum id, sum v). */
  private val expected = mutable.HashMap.empty[(Long, String), (Long, Long, Long)]
  private var consumed = 0

  private def expect(version: Long, kind: String, id: Long, v: Long): Unit = {
    val (n, si, sv) = expected.getOrElse((version, kind), (0L, 0L, 0L))
    expected((version, kind)) = (n + 1, si + id, sv + v)
  }

  def generate(totalOps: Int): String = {
    val rnd = new SplittableRandom(seed)
    val live = mutable.LinkedHashMap.empty[Long, Long]
    val initial = (0 until InitialRows).map { k =>
      val v = rnd.nextLong(1000000L); live(k.toLong) = v; expect(0, "insert", k, v)
      Row(k.toLong, v)
    }
    delta.write(spark.createDataFrame(initial.asJava, schema), upstream, DeltaWriteMode.Overwrite)
    var nextId = InitialRows.toLong
    val digest = mutable.ArrayBuffer.empty[String]
    // The warm-up lands two commits of each kind; the timed ops land half
    // appends, 30% merges and 20% deletes, in an order the seed shuffles.
    val timed = totalOps - warmupOps
    val mix = Array.fill(timed / 2)('a') ++ Array.fill(timed * 3 / 10)('m')
    val order = mix ++ Array.fill(timed - mix.length)('d')
    for (i <- order.length - 1 to 1 by -1) {
      val k = rnd.nextInt(i + 1); val t = order(i); order(i) = order(k); order(k) = t
    }
    val kinds = Array('m', 'd', 'a', 'm', 'd', 'a') ++ order
    // commit j lands as upstream version j + 1, before op j + 1
    commits = Array.tabulate(totalOps - 1) { j =>
      val version = j + 1L
      val c: Commit =
        if (kinds(j) == 'a') Append(Seq.fill(CommitRows) {
          val row = (nextId, rnd.nextLong(1000000L)); nextId += 1; row
        })
        else if (kinds(j) == 'm') {
          val keys = live.keysIterator.toArray
          val picked = mutable.LinkedHashSet.empty[Long]
          while (picked.size < CommitRows * 8 / 10) picked += keys(rnd.nextInt(keys.length))
          val deletes = picked.take(CommitRows / 10)
          Merge(picked.toSeq.map { k =>
            if (deletes(k)) (k, live(k), "delete") else (k, rnd.nextLong(1000000L), "update_postimage")
          } ++ Seq.fill(CommitRows - picked.size) {
            nextId += 1; (nextId - 1, rnd.nextLong(1000000L), "insert")
          })
        } else {
          val mod = 97
          var rem = rnd.nextInt(mod)
          while (!live.keysIterator.exists(_ % mod == rem)) rem = (rem + 1) % mod
          Delete(mod, rem, live.keysIterator.count(_ % mod == rem))
        }
      c match {
        case Append(rows) => rows.foreach { case (k, v) =>
          live(k) = v; expect(version, "insert", k, v); digest += s"a,$k,$v" }
        case Merge(changes) => changes.foreach { case (k, v, t) =>
          if (t == "delete") live.remove(k) else live(k) = v
          expect(version, t, k, v); digest += s"m,$k,$v,$t" }
        case Delete(mod, rem, _) =>
          live.filter(_._1 % mod == rem).toSeq.foreach { case (k, v) =>
            live.remove(k); expect(version, "delete", k, v) }
          digest += s"d,$mod,$rem"
      }
      c
    }
    new File(out).mkdirs()
    Workload.sha256(digest.iterator ++ Iterator(seed.toString))
  }

  override def prepare(i: Int): Unit = if (i > 0) {
    val before = delta.latestVersion(upstream)
    commits(i - 1) match {
      case Append(rows) =>
        delta.write(spark.createDataFrame(rows.map { case (k, v) => Row(k, v) }.asJava, schema),
          upstream, DeltaWriteMode.Append)
      case Merge(changes) =>
        val df = spark.createDataFrame(
          changes.map { case (k, v, t) => Row(k, v, t, i.toLong) }.asJava, changeSchema)
        DeltaCdc.applyCdcDelta(spark, df, upstream, Seq("id"), emitCdf = true)
      case Delete(mod, rem, _) =>
        delta.deleteWhere(upstream, col("id") % mod === rem)
    }
    val after = delta.latestVersion(upstream)
    if (after != Some(i.toLong))
      throw new IllegalStateException(s"upstream commit $i landed as $before -> $after")
  }

  private lazy val main = new Pipeline(
    source = new DeltaSource(upstream, new DeltaTableCheckpoint(cp, Workload.hconf(spark)),
      DeltaSourceOptions(readChangeFeed = true)),
    transform = Some((df: DataFrame, _: BatchContext) =>
      df.groupBy(Cdc.CommitVersionCol, Cdc.ChangeTypeCol)
        .agg(count(lit(1)).as("n"), sum("id").as("sum_id"), sum("v").as("sum_v"))),
    writer = (df: DataFrame, ctx: BatchContext) => ParquetSink.writeBatch(df, out, ctx.batchId),
    observer = new TraceObserver, spark = spark)

  def op(i: Int): (String, Long) = main.runOnce() match {
    case Some(id) if id == i =>
      consumed = i + 1
      if (i == 0) ("snapshot", InitialRows.toLong)
      else (commits(i - 1).label, commits(i - 1).changeRows.toLong)
    case other => throw new IllegalStateException(s"op $i processed batch $other")
  }

  override def afterOp(startMs: Long, trace: OpTrace): Unit = {
    trace.add("delta.active_files", delta.activeAdds(upstream).size)
    trace.add("wal.bytes_written", Workload.bytesWrittenSince(cp, startMs))
  }

  def check(): Seq[(String, Boolean, String)] = {
    val got = spark.read.parquet(s"$out/batch_*").collect().map { r =>
      (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))
    }.toMap
    val want = expected.filter { case ((v, _), _) => v < consumed }.toMap
    val diff = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
    Seq(("cdf.changes_equal_upstream_record", diff == 0,
      s"${got.size} (version, type) groups emitted, ${want.size} expected, $diff differ"))
  }
}
