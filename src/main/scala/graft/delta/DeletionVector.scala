package graft.delta

import graft.core.PlanningError
import graft.util.Fs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.roaringbitmap.RoaringBitmap

import java.nio.{ByteBuffer, ByteOrder}
import java.util.UUID
import java.util.zip.CRC32

/** Delta-protocol deletion-vector descriptor, as carried on an add action
  * (`{"storageType":"u|i|p","pathOrInlineDv":..,"offset":..,
  * "sizeInBytes":..,"cardinality":..}`). The descriptor tells a reader
  * which ROW INDICES of the add's parquet file are logically deleted —
  * the file itself is never rewritten (that is the point: a delete
  * touching one row of a 1 GB file costs a bitmap, not a rewrite).
  *
  *  - `u`: the bitmap lives in `deletion_vector_<uuid>.bin` under the
  *    table root; `pathOrInlineDv` is `[prefix]<z85-uuid>` (the last 20
  *    chars decode to the 16-byte UUID; anything before them is a random
  *    path prefix).
  *  - `i`: the bitmap bytes are z85-encoded inline in `pathOrInlineDv`.
  *  - `p`: `pathOrInlineDv` is an absolute path to the `.bin` file.
  */
case class DvDescriptor(storageType: String, pathOrInlineDv: String,
    offset: Option[Long], sizeInBytes: Long, cardinality: Long)

/** Reads (and, for fixtures/round-trips, writes) Delta deletion vectors:
  * Z85 string coding, the `.bin` file framing (version byte; per-vector
  * `[size:int32 BE][data][crc32:int32 BE]`), and the 64-bit
  * RoaringBitmapArray "portable" format (magic + bitmap count, little
  * endian, then standard-portable 32-bit RoaringBitmaps; row index
  * `(i << 32) | low` is bit `low` of bitmap `i`).
  *
  * All formats are from the public Delta protocol spec
  * (PROTOCOL.md "Deletion Vectors") and the Z85 spec (ZeroMQ RFC 32).
  * Bitmaps never funnel through the driver: scans broadcast descriptors
  * and executors lazy-load the bytes ([[DvScan]], once per executor via
  * [[DeletionVector.cachedBitmaps]] — never a per-row file open), and
  * deletes fold and write vectors in tasks
  * ([[DeletionVector.writeDvPartition]]).
  */
object DeletionVector {

  /** Bitmap BYTES materialized on the DRIVER (loads, unions, (de)serializes,
    * frame writes) — the scale instrument for the DV paths: DELETE/MERGE
    * folds and writes vectors in executor tasks, and scans broadcast only
    * descriptors with executors lazy-loading the bytes ([[DvScan]]), so
    * this counter must not move on either path (DeletionVectorSuite pins
    * the delete path). */
  val driverBitmapBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  private def noteDriverBytes(n: Long): Unit =
    if (org.apache.spark.TaskContext.get() == null) driverBitmapBytes.addAndGet(n)

  private val Z85Chars =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Index: Array[Int] = {
    val idx = Array.fill(128)(-1)
    Z85Chars.zipWithIndex.foreach { case (c, i) => idx(c.toInt) = i }
    idx
  }

  /** RFC 32 Z85: every 5 chars decode to 4 bytes (big-endian base 85). */
  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"z85 length ${s.length} not a multiple of 5")
    val out = ByteBuffer.allocate(s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var acc = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val v = if (c < 128) Z85Index(c.toInt) else -1
        if (v < 0) throw new PlanningError(s"invalid z85 character '$c' in deletion vector")
        acc = acc * 85 + v
        j += 1
      }
      out.putInt(acc.toInt)
      i += 5
    }
    out.array()
  }

  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"z85 input length ${bytes.length} not a multiple of 4")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    val bb = ByteBuffer.wrap(bytes)
    while (bb.hasRemaining) {
      var acc = bb.getInt.toLong & 0xFFFFFFFFL
      val chunk = new Array[Char](5)
      var j = 4
      while (j >= 0) { chunk(j) = Z85Chars((acc % 85).toInt); acc /= 85; j -= 1 }
      sb.appendAll(chunk)
    }
    sb.toString
  }

  /** Absolute path of a `u`/`p`-stored DV file (None for inline). */
  def resolvePath(tablePath: String, d: DvDescriptor): Option[Path] =
    d.storageType match {
      case "p" => Some(new Path(d.pathOrInlineDv))
      case "u" =>
        val enc = d.pathOrInlineDv
        require(enc.length >= 20, s"uuid dv reference too short: $enc")
        val prefix = enc.dropRight(20)
        val raw = z85Decode(enc.takeRight(20))
        val bb = ByteBuffer.wrap(raw)
        val uuid = new UUID(bb.getLong, bb.getLong)
        val dir = if (prefix.isEmpty) new Path(tablePath) else new Path(tablePath, prefix)
        Some(new Path(dir, s"deletion_vector_$uuid.bin"))
      case "i" => None
      case other => throw new PlanningError(s"unknown deletion vector storageType '$other'")
    }

  /** The serialized RoaringBitmapArray bytes for a descriptor — inline
    * decode or a framed read of the `.bin` file (version byte checked,
    * size and CRC32 validated: a bitmap read wrong silently resurfaces or
    * over-deletes rows, so any mismatch is an error, never a fallback). */
  def loadBytes(tablePath: String, d: DvDescriptor, conf: Configuration): Array[Byte] =
    d.storageType match {
      // inline z85 is zero-padded up to the 4-byte group; sizeInBytes
      // recovers the true length
      case "i" => z85Decode(d.pathOrInlineDv).take(d.sizeInBytes.toInt)
      case _ =>
        val p = resolvePath(tablePath, d).get
        val in = Fs.fs(p, conf).open(p)
        try {
          val version = in.readByte()
          if (version != 1)
            throw new PlanningError(s"unsupported deletion vector file version $version at $p")
          val off = d.offset.getOrElse(1L)
          in.seek(off)
          val size = in.readInt() // big-endian framing
          if (size != d.sizeInBytes)
            throw new PlanningError(
              s"deletion vector size mismatch at $p: framed $size, descriptor ${d.sizeInBytes}")
          val data = new Array[Byte](size)
          in.readFully(data)
          val checksum = in.readInt()
          val crc = new CRC32(); crc.update(data)
          if (crc.getValue.toInt != checksum)
            throw new PlanningError(s"deletion vector checksum mismatch at $p")
          noteDriverBytes(data.length.toLong)
          data
        } finally in.close()
    }

  private val Magic = 1681511377

  /** Deserialize the portable RoaringBitmapArray; returns one 32-bit
    * bitmap per high word (index i covers row indices [i<<32, (i+1)<<32)). */
  def deserialize(bytes: Array[Byte]): Array[RoaringBitmap] = {
    noteDriverBytes(bytes.length.toLong)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    if (magic != Magic)
      throw new PlanningError(s"bad RoaringBitmapArray magic $magic (expected $Magic)")
    val n = bb.getLong
    if (n < 0 || n > Int.MaxValue)
      throw new PlanningError(s"implausible RoaringBitmapArray bitmap count $n")
    Array.fill(n.toInt) {
      val rb = new RoaringBitmap()
      val start = bb.position()
      rb.deserialize(bb)
      // deserialize(ByteBuffer) must not be trusted to advance: step by the
      // canonical serialized size so multi-bitmap arrays parse exactly
      bb.position(start + rb.serializedSizeInBytes())
      rb
    }
  }

  def serialize(bitmaps: Array[RoaringBitmap]): Array[Byte] = {
    bitmaps.foreach(_.runOptimize())
    val size = 4 + 8 + bitmaps.map(_.serializedSizeInBytes()).sum
    noteDriverBytes(size.toLong)
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(Magic)
    bb.putLong(bitmaps.length.toLong)
    bitmaps.foreach(_.serialize(bb))
    bb.array()
  }

  /** Inline descriptor for a set of deleted row indices (`storageType=i`,
    * zero-padded z85). */
  def inlineDescriptor(rows: Seq[Long]): DvDescriptor = {
    val data = fromRowIndices(rows)
    val padded = data ++ Array.fill((4 - data.length % 4) % 4)(0.toByte)
    DvDescriptor("i", z85Encode(padded), None, data.length.toLong,
      rows.distinct.size.toLong)
  }

  /** Build the serialized array for a set of deleted row indices (test
    * fixtures and future DV writes). */
  def fromRowIndices(rows: Seq[Long]): Array[Byte] = {
    require(rows.forall(_ >= 0), "row indices must be >= 0")
    val byHigh = rows.groupBy(r => (r >>> 32).toInt)
    val n = if (byHigh.isEmpty) 0 else byHigh.keys.max + 1
    serialize(Array.tabulate(n) { i =>
      val rb = new RoaringBitmap()
      byHigh.getOrElse(i, Seq.empty).foreach(r => rb.add(r.toInt))
      rb
    })
  }

  /** Membership probe over a deserialized array. */
  def contains(bitmaps: Array[RoaringBitmap], rowIndex: Long): Boolean = {
    val high = (rowIndex >>> 32).toInt
    high < bitmaps.length && bitmaps(high).contains(rowIndex.toInt)
  }

  /** Scheme-insensitive path key: `_metadata.file_path` URIs
    * (`file:///a/b`) and Hadoop-qualified paths (`file:/a/b`) must hit the
    * same map entry. */
  def normUri(s: String): String =
    if (s.contains(":")) try new java.net.URI(s).getPath catch {
      case _: java.net.URISyntaxException => s
    } else s

  private val bitmapCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[RoaringBitmap]]()

  /** Executor-side lazy load-and-deserialize cache: the broadcast ships
    * only DESCRIPTORS; each executor loads a vector's bytes on first probe
    * and deserializes at most once. Bounded by a wholesale clear — entries
    * are per (table, vector) and a long-lived executor would otherwise
    * accrete dead tables'. */
  def cachedBitmaps(key: String, load: () => Array[Byte]): Array[RoaringBitmap] = {
    if (bitmapCache.size > 4096) bitmapCache.clear()
    bitmapCache.computeIfAbsent(key, _ => deserialize(load()))
  }

  /** Write a framed `.bin` DV file (version byte, then one
    * `[size:int32 BE][data][crc32:int32 BE]` frame per vector) and return
    * one `storageType="u"` descriptor per input, offsets assigned in
    * order — one file per COMMIT regardless of how many data files the
    * delete touched, delta's packing. Cardinality is computed from the
    * bytes themselves. */
  def writeDvFrames(tablePath: String, datas: Seq[Array[Byte]],
      conf: Configuration): Seq[DvDescriptor] = {
    require(datas.nonEmpty, "no deletion vectors to write")
    val uuid = UUID.randomUUID()
    val p = new Path(tablePath, s"deletion_vector_$uuid.bin")
    val uuidBytes = ByteBuffer.allocate(16)
      .putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits)
    val ref = z85Encode(uuidBytes.array())
    val out = Fs.fs(p, conf).create(p, false)
    val descs = Seq.newBuilder[DvDescriptor]
    try {
      out.writeByte(1)
      var offset = 1L
      datas.foreach { data =>
        out.writeInt(data.length)
        out.write(data)
        val crc = new CRC32(); crc.update(data)
        out.writeInt(crc.getValue.toInt)
        val cardinality = deserialize(data).map(_.getLongCardinality).sum
        descs += DvDescriptor("u", ref, Some(offset), data.length.toLong, cardinality)
        offset += 4L + data.length + 4L
      }
    } finally out.close()
    descs.result()
  }

  /** Single-vector convenience over [[writeDvFrames]]. */
  def writeDvFile(tablePath: String, rows: Seq[Long], conf: Configuration): DvDescriptor =
    writeDvFrames(tablePath, Seq(fromRowIndices(rows)), conf).head

  /** EXECUTOR-side body of the distributed DV write: one partition of
    * freshly folded per-file bitmaps ([[DvFileFold]]) is unioned with each
    * file's existing vector (loaded HERE, never on the driver), framed, and
    * written into ONE `.bin` file for the whole partition; only the
    * descriptor fields travel back ([[DvWriteResult]] — the driver commit
    * sees O(#files) metadata, zero bitmap bytes). A file whose union
    * cardinality equals its physical row count gets NO frame (it will be
    * plain-removed); a partition where every file is fully deleted creates
    * no `.bin` at all. This is the DV analogue of the parquet-stats rule
    * ([[DirectCommitProtocol.commitTask]]): at 100 TB a wide DELETE touches
    * millions of files, and their bitmaps must never funnel through one
    * driver thread — delta-spark writes DV files from tasks the same way. */
  def writeDvPartition(tablePath: String, conf: Configuration,
      oldDvs: Map[String, DvDescriptor], physRows: Map[String, Long])(
      folds: Iterator[DvFileFold]): Iterator[DvWriteResult] = {
    var out: org.apache.hadoop.fs.FSDataOutputStream = null
    var ref: String = null
    var offset = 1L
    val results = Seq.newBuilder[DvWriteResult]
    try {
      folds.foreach { fold =>
        val norm = normUri(fold.path)
        val (unioned, card) = oldDvs.get(norm) match {
          case Some(old) => unionCounted(loadBytes(tablePath, old, conf), fold.dv)
          case None => (fold.dv, cardinalityOf(fold.dv))
        }
        if (physRows.get(norm).contains(card)) {
          // every physical row now deleted: plain remove, no vector
          results += DvWriteResult(fold.path, fold.n, card, None, None, None)
        } else {
          if (out == null) {
            val uuid = UUID.randomUUID()
            val p = new Path(tablePath, s"deletion_vector_$uuid.bin")
            val uuidBytes = ByteBuffer.allocate(16)
              .putLong(uuid.getMostSignificantBits)
              .putLong(uuid.getLeastSignificantBits)
            ref = z85Encode(uuidBytes.array())
            out = Fs.fs(p, conf).create(p, false)
            out.writeByte(1)
            offset = 1L
          }
          out.writeInt(unioned.length)
          out.write(unioned)
          val crc = new CRC32(); crc.update(unioned)
          out.writeInt(crc.getValue.toInt)
          results += DvWriteResult(fold.path, fold.n, card,
            Some(ref), Some(offset), Some(unioned.length.toLong))
          offset += 4L + unioned.length + 4L
        }
      }
    } finally if (out != null) out.close()
    results.result().iterator
  }

  /** Union of two serialized arrays — a second DELETE on an already-DV'd
    * file widens the existing bitmap instead of chaining vectors. */
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] = unionCounted(a, b)._1

  /** [[union]] plus the union's cardinality, counted before it is
    * serialized instead of by deserializing the result again. */
  def unionCounted(a: Array[Byte], b: Array[Byte]): (Array[Byte], Long) = {
    val x = deserialize(a); val y = deserialize(b)
    val n = math.max(x.length, y.length)
    val u = Array.tabulate(n) { i =>
      val rb = new RoaringBitmap()
      if (i < x.length) rb.or(x(i))
      if (i < y.length) rb.or(y(i))
      rb
    }
    val card = u.map(_.getLongCardinality).sum
    (serialize(u), card)
  }

  /** Total deleted-row count of a serialized array. */
  def cardinalityOf(bytes: Array[Byte]): Long =
    deserialize(bytes).map(_.getLongCardinality).sum
}

/** What a DV scan broadcasts: each data file's vector descriptor keyed by
  * normalized path (with the vector's bitmap-cache key), plus the Hadoop
  * conf executors load vectors with — one broadcast per scan, so no task
  * deserializes a `Configuration` of its own. */
case class DvScanMeta(vectors: Map[String, (String, DvDescriptor)],
    conf: graft.util.SerializableConf)

/** Codegen'd DV membership probe — the expression form of the scan
  * filter (previously a scalar ScalaUDF, the one UDF left in a query
  * path): whole-stage codegen calls [[probe]]/[[probeDelta]] directly on
  * the scan's UTF8String path + long row index, skipping the UDF's
  * encoder boundary and boxing. Same broadcast-descriptor / lazy-load /
  * per-executor-cache shape; result is bit-identical to the UDF
  * formulation (both sides wrap the same probe body).
  *
  * `oldVectors` None = the [[DvScan.filterDeleted]] probe ("row deleted
  * in the current vector?"); Some = the [[DvScan.filterToDeltas]] CDF
  * reconstruction ("in new, not in old", with a missing new vector
  * meaning the whole file was removed and every survivor is a delta).
  *
  * Scans deliver rows file by file, so the probe resolves a file's
  * vectors once per run of same-file rows: a per-instance memo of the
  * last path (compared byte-wise) skips the path normalization and map
  * lookups on every other row. The memo is thread-confined — each task
  * deserializes its own copy of the expression. */
case class DvProbeExpr(
    pathExpr: org.apache.spark.sql.catalyst.expressions.Expression,
    idxExpr: org.apache.spark.sql.catalyst.expressions.Expression,
    meta: org.apache.spark.broadcast.Broadcast[DvScanMeta],
    oldVectors: Option[org.apache.spark.broadcast.Broadcast[Map[String, (String, DvDescriptor)]]],
    tablePath: String)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{BooleanType, DataType}
  import org.apache.spark.unsafe.types.UTF8String

  override def left: Expression = pathExpr
  override def right: Expression = idxExpr
  override def dataType: DataType = BooleanType

  @transient private var lastPath: UTF8String = _
  // the last file's new vector: absent from the map, or its bitmaps
  @transient private var lastInNew: Boolean = false
  @transient private var lastNewBits: Array[RoaringBitmap] = _
  // the last file's old vector entry (null = none), loaded on first need
  @transient private var lastOld: (String, DvDescriptor) = _
  @transient private var lastOldBits: Array[RoaringBitmap] = _

  private def bitmaps(e: (String, DvDescriptor)): Array[RoaringBitmap] =
    DeletionVector.cachedBitmaps(e._1,
      () => DeletionVector.loadBytes(tablePath, e._2, meta.value.conf.value))

  private def resolve(path: UTF8String): Unit =
    if (lastPath == null || !lastPath.equals(path)) {
      val key = DeletionVector.normUri(path.toString)
      val entry = meta.value.vectors.get(key)
      lastInNew = entry.isDefined
      lastNewBits = entry.map(bitmaps).orNull
      lastOld = oldVectors.flatMap(_.value.get(key)).orNull
      lastOldBits = null
      lastPath = path.clone()
    }

  private def inOld(idx: Long): Boolean = lastOld != null && {
    if (lastOldBits == null) lastOldBits = bitmaps(lastOld)
    DeletionVector.contains(lastOldBits, idx)
  }

  /** filterDeleted probe: is (file, idx) marked deleted? */
  def probe(path: UTF8String, idx: Long): Boolean = {
    resolve(path)
    lastInNew && DeletionVector.contains(lastNewBits, idx)
  }

  /** filterToDeltas probe: deleted by the NEW vector (or whole file
    * removed) and not already deleted by the OLD one. */
  def probeDelta(path: UTF8String, idx: Long): Boolean = {
    resolve(path)
    (!lastInNew || DeletionVector.contains(lastNewBits, idx)) && !inOld(idx)
  }

  private def method: String = if (oldVectors.isEmpty) "probe" else "probeDelta"

  override def nullSafeEval(path: Any, idx: Any): Any =
    if (oldVectors.isEmpty) probe(path.asInstanceOf[UTF8String], idx.asInstanceOf[Long])
    else probeDelta(path.asInstanceOf[UTF8String], idx.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvProbe", this, classOf[DvProbeExpr].getName)
    nullSafeCodeGen(ctx, ev, (p, i) => s"${ev.value} = $ref.$method($p, $i);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DvProbeExpr =
    copy(pathExpr = newLeft, idxExpr = newRight)

  override def prettyName: String =
    if (oldVectors.isEmpty) "dv_deleted" else "dv_cdf_delta"
  // never dereferences the broadcast: AQE stringifies the plan on every
  // stage update, and a destroyed broadcast must not break that
  override def toString: String = s"$prettyName(${pathExpr}, ${idxExpr})"
  override def sql: String = s"$prettyName(${pathExpr.sql}, ${idxExpr.sql})"
}

/** DV application at scan time, shared by the batch reader
  * ([[DeltaWriter]]) and the streaming source
  * ([[graft.sources.DeltaSource]]): the broadcast carries only
  * DESCRIPTORS (O(#files) metadata); each executor lazily loads and
  * deserializes a vector's bytes on first probe and caches it
  * ([[DeletionVector.cachedBitmaps]]) — the driver never touches a bitmap
  * byte, delta-spark's read shape. Plan shape (pushdown, pruning) is
  * unchanged: the probe is a post-scan filter on the hidden
  * `_metadata.file_path`/`row_index` columns. */
object DvScan {
  /** Default ceiling on the summed DECLARED vector sizes one scan may
    * carry (descriptor `sizeInBytes`, known without loading anything).
    * Roaring bitmaps are ~2 bytes/row worst-case, so 1 GiB covers ~500M
    * deleted rows in the scanned file set — a table so DV-laden it blows
    * this needs `purgeDeletionVectors`, not a bigger heap. Override per
    * session with spark conf `graft.delta.maxDvScanBytes`. */
  val DefaultMaxScanBytes: Long = 1L << 30

  def maxScanBytes(spark: SparkSession): Long =
    spark.conf.getOption("graft.delta.maxDvScanBytes").map(_.toLong)
      .getOrElse(DefaultMaxScanBytes)

  /** Drop rows whose file's deletion vector marks them deleted. Fails
    * LOUDLY (never OOMs quietly) when the scanned vectors' declared sizes
    * exceed the budget. */
  def filterDeleted(spark: SparkSession, tablePath: String,
      dvByPath: Map[String, DvDescriptor], df: DataFrame,
      conf: Configuration): DataFrame = {
    if (dvByPath.isEmpty) return df
    val declared = dvByPath.valuesIterator.map(_.sizeInBytes).sum
    val cap = maxScanBytes(spark)
    if (declared > cap)
      throw new PlanningError(
        s"scan of $tablePath carries $declared bytes of deletion vectors " +
        s"across ${dvByPath.size} files, over the ${cap}-byte budget " +
        "(graft.delta.maxDvScanBytes); run purgeDeletionVectors to fold " +
        "the vectors into a rewrite, or raise the budget")
    val bc = spark.sparkContext.broadcast(
      DvScanMeta(cacheKeyed(dvByPath), new graft.util.SerializableConf(conf)))
    // codegen'd probe expression, not a ScalaUDF — same broadcast +
    // lazy-load body, minus the UDF's encoder boundary per row
    df.filter(org.apache.spark.sql.functions.not(probeColumn(bc, None, tablePath)))
  }

  /** Keep only the rows a DV update DELETED — the Change-Data-Feed
    * reconstruction for deletion-vector commits: a row is a delta when
    * the NEW vector contains it (no new vector = the whole file was
    * removed, so every surviving row is a delta) and the OLD vector does
    * not. Same broadcast-descriptor/lazy-load/budget shape as
    * [[filterDeleted]]. */
  def filterToDeltas(spark: SparkSession, tablePath: String,
      newByPath: Map[String, DvDescriptor], oldByPath: Map[String, DvDescriptor],
      df: DataFrame, conf: Configuration): DataFrame = {
    val declared = (newByPath.valuesIterator ++ oldByPath.valuesIterator)
      .map(_.sizeInBytes).sum
    val cap = maxScanBytes(spark)
    if (declared > cap)
      throw new PlanningError(
        s"CDF reconstruction of $tablePath carries $declared bytes of " +
        s"deletion vectors, over the ${cap}-byte budget " +
        "(graft.delta.maxDvScanBytes); raise the budget or read the " +
        "changes from a cdc-emitting writer")
    val bcNew = spark.sparkContext.broadcast(
      DvScanMeta(cacheKeyed(newByPath), new graft.util.SerializableConf(conf)))
    val bcOld = spark.sparkContext.broadcast(cacheKeyed(oldByPath))
    df.filter(probeColumn(bcNew, Some(bcOld), tablePath))
  }

  // cache key = the VECTOR's identity, not the data file's: a file
  // re-added with a widened DV (second delete) must not hit the previous
  // vector's cached bitmaps
  private def cacheKeyed(m: Map[String, DvDescriptor]): Map[String, (String, DvDescriptor)] =
    m.map { case (p, d) => p -> (s"${d.pathOrInlineDv}@${d.offset.getOrElse(0L)}", d) }

  private def probeColumn(meta: org.apache.spark.broadcast.Broadcast[DvScanMeta],
      oldVectors: Option[org.apache.spark.broadcast.Broadcast[Map[String, (String, DvDescriptor)]]],
      tablePath: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(DvProbeExpr(Bridge.expression(col("_metadata.file_path")),
      Bridge.expression(col("_metadata.row_index")), meta, oldVectors, tablePath))
  }
}

/** One touched file's freshly folded bitmap — the row shape shuffled from
  * the [[DvRowAgg]] aggregation to the distributed DV writer tasks. */
case class DvFileFold(path: String, dv: Array[Byte], n: Long)

/** One touched file's outcome from a DV writer task: fresh-delete count,
  * union cardinality, and the descriptor fields of its new vector (all
  * None = the file is now fully deleted and gets plain-removed). */
case class DvWriteResult(path: String, freshCount: Long, cardinality: Long,
    ref: Option[String], offset: Option[Long], sizeInBytes: Option[Long])

/** Typed aggregator folding matched row indices into a serialized
  * RoaringBitmapArray — the per-file reduction a DV delete shuffles.
  * Partial aggregation runs map-side, so the exchange carries one
  * bitmap-sized buffer per (partition, file), never a row-index list: a
  * delete matching a billion rows still shuffles only #files bitmaps. */
class DvRowAgg extends org.apache.spark.sql.expressions.Aggregator[
    Long, Array[RoaringBitmap], Array[Byte]] {
  import org.apache.spark.sql.{Encoder, Encoders}
  def zero: Array[RoaringBitmap] = Array.empty
  def reduce(b: Array[RoaringBitmap], rowIdx: Long): Array[RoaringBitmap] = {
    val high = (rowIdx >>> 32).toInt
    val grown =
      if (high < b.length) b
      else b ++ Array.fill(high + 1 - b.length)(new RoaringBitmap())
    grown(high).add(rowIdx.toInt)
    grown
  }
  def merge(a: Array[RoaringBitmap], c: Array[RoaringBitmap]): Array[RoaringBitmap] = {
    val n = math.max(a.length, c.length)
    Array.tabulate(n) { i =>
      val rb = new RoaringBitmap()
      if (i < a.length) rb.or(a(i))
      if (i < c.length) rb.or(c(i))
      rb
    }
  }
  def finish(b: Array[RoaringBitmap]): Array[Byte] = DeletionVector.serialize(b)
  // RoaringBitmap is Externalizable; buffers only serialize at the
  // partial-agg exchange boundary
  def bufferEncoder: Encoder[Array[RoaringBitmap]] =
    Encoders.javaSerialization(classOf[Array[RoaringBitmap]])
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
