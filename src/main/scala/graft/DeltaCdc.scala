package graft

import graft.core.StageMetadata
import graft.delta.{DeltaAction, DeltaStats, DeltaWriteMode, DeltaWriter}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import org.apache.spark.storage.StorageLevel

/** Outcome of a CDC merge into a Delta table
  * (the reference returns `{rows_in, rows_out, action, change_types}` —
  * `sinks/delta.py:158`). */
case class MergeResult(
    rowsIn: Long,
    rowsOut: Long,
    action: String,
    changeTypes: Map[String, Long])

/** One partition's share of the change-batch profile: rows per change
  * type (a NULL type counts under a null key), and per numeric merge key
  * the partition's (min, max). */
private[graft] case class BatchProfile(counts: Seq[(String, Long)],
    mins: Seq[Option[Double]], maxs: Seq[Option[Double]])

/** How a Merge materializes its changes.
  *  - `Auto`: deletion-vector merge whenever eligible (every candidate
  *    file has numRecords stats), otherwise the touched-file rewrite.
  *    Schema-widening batches stay DV-eligible: the commit widens the
  *    metaData schema and old rows null-fill the new columns at read.
  *  - `Rewrite`: always rewrite touched files (the delta-spark classic
  *    MERGE shape).
  *  - `DeletionVectors`: require the DV shape; error if ineligible.
  * Both shapes write their payload through the writer's one staged append
  * path, so they obey the same write checks (CHECK constraints, column
  * invariants, generated columns) and fail alike on a violating row. */
sealed trait MergeStrategy
object MergeStrategy {
  case object Auto extends MergeStrategy
  case object Rewrite extends MergeStrategy
  case object DeletionVectors extends MergeStrategy
}

/** CDC merge into a Delta table. Semantics follow the reference
  * (`sinks/delta.py:32-158`): keyed upsert/delete with latest-change-wins;
  * `append_only` dedups/strips and appends without rewriting (fast path
  * `:88-116`). Optionally emits the applied changes as CDF `cdc` actions so
  * downstream CDF readers can consume the merge itself.
  *
  * The MERGE execution shape is delta-spark's touched-files MERGE, not the
  * reference's read-modify-overwrite: the change batch's key bounds (min/max
  * per numeric merge key) prune the table's per-file stats
  * ([[graft.delta.DeltaStats.prune]]) down to the files that can possibly
  * contain a matched key; ONLY those files are read, merged, and rewritten,
  * and the commit removes exactly them — every untouched add action carries
  * forward unchanged. A batch touching 0.1% of the key space rewrites 0.1%
  * of the table instead of 100% — at 100 TB that is the difference between
  * a minutes-long and an hours-long merge, and it stops churning storage
  * the vacuum horizon would have to absorb. Files without usable stats and
  * non-numeric-keyed tables degrade conservatively to the full rewrite.
  *
  * Job structure (matters at scale): the merge is planned once.
  *  - The change stream is persisted so its upstream plan — often a
  *    window or join — executes once, and ONE map-side pass over it (the
  *    job that fills the cache) yields both the per-type counters and the
  *    per-key bounds the file pruning needs.
  *  - The log is replayed once into a [[graft.delta.DeltaSnapshot]]:
  *    pruning, the DV fold, the parts write and the commit all read it,
  *    and the commit conflict-checks against its version.
  *  - Both shapes stage their parts through the writer's one append
  *    path (schema alignment, generated columns, write checks, physical
  *    names) before the one commit. In the deletion-vector shape that
  *    payload (and CDF) parts write runs at the same time as the bitmap
  *    fold, and the one atomic commit follows both. The fold broadcasts
  *    the touched keys straight off the persisted batch (no window or
  *    distinct of its own). A 300-row batch
  *    into a multi-file table takes 3 query executions and 6 jobs: the
  *    profile pass, the payload's window and write, and the fold's key
  *    broadcast, map and result.
  *  - `rows_out` rides the write job via `observe()` plus the untouched
  *    files' `numRecords` stats (no second scan of anything).
  * Rewrite safety needs no pre-materialization: old files are only
  * dereferenced in the log commit, never deleted before the new parts land.
  * Each merge records its decision (`merge_strategy`, touched/untouched
  * file counts, `merge_read_version`) in [[graft.core.StageMetadata]], so
  * the pipeline's write-stage event explains it.
  */
object DeltaCdc {
  /** `txn`: an optional SetTransaction (appId, batchVersion) stamped onto
    * the SAME commit as the merge — the atomic watermark that lets an
    * at-least-once caller skip replayed batches with
    * [[graft.delta.DeltaWriter.lastTxnVersion]] (no window where data
    * landed without its watermark). */
  def applyCdcDelta(
      spark: SparkSession,
      changes: DataFrame,
      tablePath: String,
      keys: Seq[String],
      mode: CdcMode = CdcMode.Merge,
      changeCol: String = Cdc.ChangeTypeCol,
      changeTypeMap: Map[String, String] = Map.empty,
      dropDeletes: Boolean = false,
      emitCdf: Boolean = false,
      txn: Option[(String, Long)] = None,
      strategy: MergeStrategy = MergeStrategy.Auto): MergeResult = {
    val writer = new DeltaWriter(spark, spark.sparkContext.hadoopConfiguration)
    val normalized = Cdc.normalizeChangeTypes(changes, changeCol, changeTypeMap)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val numericKeys = keys.filter(k =>
        normalized.schema.fields.exists(f =>
          f.name == k && f.dataType.isInstanceOf[NumericType]))
      // one pass for the per-type counters and the key bounds; it also
      // populates the cache the merge below reads, so the (possibly
      // expensive) change-stream plan runs exactly once. A merge into an
      // existing table replays the log into its one snapshot meanwhile.
      val mergeInto = mode == CdcMode.Merge && writer.tableExists(tablePath)
      val ((changeTypes, bounds), snap) =
        if (mergeInto) DeltaWriter.concurrently(spark)(
          profile(normalized, changeCol, numericKeys))(writer.snapshot(tablePath))
        else (profile(normalized, changeCol, numericKeys), None)
      val rowsIn = changeTypes.values.sum

      val cdf = if (emitCdf) Some(normalized) else None
      val outObs = Observation()
      def rowsOut = outObs.get("rows_out").asInstanceOf[Long]

      mode match {
        case CdcMode.AppendOnly =>
          val payload = Cdc.applyCdc(normalized, existing = None, keys, CdcMode.AppendOnly,
            changeCol, Map.empty, dropDeletes)
            .observe(outObs, count(lit(1)).as("rows_out"))
          writer.write(payload, tablePath, DeltaWriteMode.Append,
            mergeSchema = true, cdfChanges = cdf, txn = txn)
          StageMetadata.put("merge_strategy", "append")
          MergeResult(rowsIn, rowsOut, "append", changeTypes)
        case CdcMode.Merge if !mergeInto =>
          val merged = Cdc.applyCdc(normalized, None, keys, CdcMode.Merge,
            changeCol, Map.empty, dropDeletes)
            .observe(outObs, count(lit(1)).as("rows_out"))
          writer.write(merged, tablePath, DeltaWriteMode.Overwrite,
            mergeSchema = true, cdfChanges = cdf, txn = txn)
          StageMetadata.put("merge_strategy", "create")
          MergeResult(rowsIn, rowsOut, "merge", changeTypes)

        case CdcMode.Merge =>
          // one snapshot covers the planning read, the parts write and the
          // commit's conflict check: anything landing after its version is
          // detected at commit time, not silently overwritten
          val adds = snap.map(_.adds).getOrElse(Seq.empty)
          // stats key on PHYSICAL names for column-mapped tables — prune
          // with translated key names or the bounds match nothing and the
          // merge degrades to a full rewrite
          val statKeys = snap.flatMap(_.schema)
            .filter(graft.delta.ColumnMapping.isMapped)
            .map(graft.delta.ColumnMapping.physicalNames)
            .getOrElse(Map.empty[String, String])
          val (touched, untouched) =
            partitionByKeyBounds(bounds, adds, statKeys)
          val carried = untouched.map(numRecordsOf(_).getOrElse(0L)).sum

          // DV eligibility: every candidate file's logical row count is
          // derivable (rows_out accounting). Schema widening does NOT
          // disqualify — the DV commit grows the metaData schema (minting
          // physical names on mapped tables) and old rows null-fill the
          // new columns at read (no rewrite needed). Column-mapped tables
          // are eligible too: the mark scan keeps _metadata through the
          // mapped projection and the payload writes physically.
          val dvEligible = touched.nonEmpty &&
            touched.forall(numRecordsOf(_).isDefined)
          val useDv = strategy match {
            case MergeStrategy.Rewrite => false
            case MergeStrategy.Auto => dvEligible
            case MergeStrategy.DeletionVectors =>
              if (!dvEligible && touched.nonEmpty)
                throw new graft.core.GraftError(
                  s"deletion-vector merge into $tablePath is ineligible " +
                  "(a candidate file lacks numRecords stats); use " +
                  "MergeStrategy.Auto or Rewrite")
              touched.nonEmpty
          }
          StageMetadata.put("merge_strategy",
            if (useDv) "deletion_vectors" else "rewrite")
          StageMetadata.put("merge_touched_files", touched.size.toString)
          StageMetadata.put("merge_untouched_files", untouched.size.toString)
          snap.foreach(s => StageMetadata.put("merge_read_version", s.version.toString))

          if (useDv) {
            // mark the old versions of every touched key deleted (per-file
            // bitmaps; the change-key set broadcasts) and append only the
            // changed keys' post-state: data volume is O(change batch),
            // surviving rows of touched files are never read or rewritten.
            // The touched keys are the keys of the changes that survive
            // `prepareChanges` — exactly the keys of the latest-per-key
            // frame — so the broadcast reads them straight off the
            // persisted batch, with no window or distinct of its own (the
            // semi join ignores repeats). Each frame is built on the
            // concurrent half that runs it.
            def marked = writer.scanAddsWithRowMeta(tablePath, touched)
              .join(broadcast(Cdc.prepareChanges(normalized, changeCol,
                CdcMode.Merge, dropDeletes).select(keys.map(col): _*)), keys, "left_semi")
              .select(col(writer.RowMetaFile), col(writer.RowMetaIndex))
            def payload = Cdc.upsertsOf(
              Cdc.latestChanges(normalized, keys, changeCol, dropDeletes), changeCol)
              .observe(outObs, count(lit(1)).as("rows_out"))
            val deleted = writer.dvMerge(snap.get, touched, marked, payload, cdf, txn)
            val touchedLogical = touched.flatMap(numRecordsOf).sum
            MergeResult(rowsIn, carried + touchedLogical - deleted + rowsOut,
              "merge", changeTypes)
          } else {
            // rewrite shape: only files that can contain a matched key are
            // read and merged; an empty touched set means every change is
            // a brand-new key and the merge degenerates to writing just
            // the change payload. A generated column the batch omits is
            // dropped from the kept rows too, so the write computes it for
            // every row instead of validating the changed keys' nulls.
            val omitted = snap.flatMap(_.schema).toSeq
              .flatMap(graft.delta.WriteChecks.generatedOf).map(_._1)
              .filterNot(normalized.columns.contains)
            val existing =
              if (touched.isEmpty) None
              else Some(writer.readAdds(tablePath, touched).drop(omitted: _*))
            val merged = Cdc.applyCdc(normalized, existing, keys, CdcMode.Merge,
              changeCol, Map.empty, dropDeletes)
              .observe(outObs, count(lit(1)).as("rows_out"))
            writer.replaceFilesAt(merged, tablePath, snap, touched.map(_.path),
              mergeSchema = true, cdfChanges = cdf, txn = txn)
            MergeResult(rowsIn, rowsOut + carried, "merge", changeTypes)
          }
      }
    } finally normalized.unpersist(blocking = false)
  }

  // derived once: a product encoder is built by Scala reflection
  private lazy val profileEncoder = org.apache.spark.sql.Encoders.product[BatchProfile]

  /** ONE pass over the (persisted) change batch: each change type's row
    * count, and each numeric merge key's batch-wide (min, max) as doubles.
    * Every partition folds its rows into one small [[BatchProfile]] and
    * the driver merges them — no exchange, so the pass that populates the
    * batch's cache is the only job (a grouped aggregate over a cached
    * frame runs three). */
  private def profile(changes: DataFrame, changeCol: String,
      numericKeys: Seq[String])
      : (Map[String, Long], Map[String, (Option[Double], Option[Double])]) = {
    val n = numericKeys.size
    val parts = changes
      .select(col(changeCol).cast("string") +: numericKeys.map(k => col(k).cast("double")): _*)
      .mapPartitions { rows =>
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        val lo = Array.fill[Option[Double]](n)(None)
        val hi = Array.fill[Option[Double]](n)(None)
        rows.foreach { r =>
          val t = r.getString(0)
          counts(t) = counts.getOrElse(t, 0L) + 1
          var i = 0
          while (i < n) {
            if (!r.isNullAt(i + 1)) {
              val v = r.getDouble(i + 1)
              if (lo(i).forall(v < _)) lo(i) = Some(v)
              if (hi(i).forall(v > _)) hi(i) = Some(v)
            }
            i += 1
          }
        }
        Iterator(BatchProfile(counts.toSeq, lo.toSeq, hi.toSeq))
      }(profileEncoder).collect()
    val counts = parts.flatMap(_.counts).groupMapReduce(_._1)(_._2)(_ + _)
    val bounds = numericKeys.zipWithIndex.map { case (k, i) =>
      k -> (parts.flatMap(_.mins(i)).minOption, parts.flatMap(_.maxs(i)).maxOption)
    }.toMap
    (counts, bounds)
  }

  /** Split the table's active files into (touched, untouched) by the change
    * batch's per-key min/max bounds. A file is untouched only when its
    * stats prove NO change key can live in it (the stats bounding-box
    * argument: every change key lies inside the per-column [min,max] box,
    * so a file disjoint from the box in ANY key column matches nothing).
    * Conservative by construction: non-numeric key columns contribute no
    * bounds, files without stats or without `numRecords` count as touched,
    * and no-numeric-keys-at-all degrades to touching everything (the
    * reference's full rewrite). */
  private def partitionByKeyBounds(
      bounds: Map[String, (Option[Double], Option[Double])],
      adds: Seq[DeltaAction.AddFile],
      statKeys: Map[String, String])
      : (Seq[DeltaAction.AddFile], Seq[DeltaAction.AddFile]) = {
    if (bounds.isEmpty || adds.isEmpty) return (adds, Seq.empty)
    val ranges = bounds.map { case (k, b) => statKeys.getOrElse(k, k) -> b }
    val (kept, _) = DeltaStats.prune(adds, ranges)
    val keptPaths = kept.map(_.path).toSet
    val (skippable, uncounted) = adds.filterNot(a => keptPaths(a.path))
      .partition(numRecordsOf(_).isDefined)
    // a pruned-out file whose numRecords is unreadable still merges
    // correctly if carried forward, but rows_out would undercount — rewrite
    // it instead (cannot happen with our own writes; foreign tables only)
    (kept ++ uncounted, skippable)
  }

  // stats count PHYSICAL rows; a deletion vector hides `cardinality` of
  // them, so the carried logical row count subtracts it
  private def numRecordsOf(a: DeltaAction.AddFile): Option[Long] =
    DeltaWriter.physRows(a).map(n => n - a.deletionVector.map(_.cardinality).getOrElse(0L))

  /** Merge one CDC change batch into an SCD Type-2 dimension persisted as
    * a Delta table — [[Cdc.scd2Merge]] with the table itself as both the
    * state and the sink. The replacement rows ([[Cdc.scd2MergeChanges]]:
    * the touched keys' re-closed open rows plus their new intervals) are
    * keyed uniquely by `(keys…, valid_from)`, so they upsert through
    * [[applyCdcDelta]]'s touched-files/DV merge unchanged — the
    * dimension's closed history is never read, merged, or rewritten. A
    * missing table bootstraps from the batch alone ([[Cdc.scd2]] over
    * the changes — first-batch semantics identical to the merge law).
    *
    * `txn` stamps a SetTransaction on the same commit, so an
    * at-least-once caller replaying this batch skips it via
    * [[graft.delta.DeltaWriter.lastTxnVersion]] — the exactly-once
    * discipline every other Delta sink here follows. */
  def scd2MergeDelta(
      spark: SparkSession,
      changes: DataFrame,
      tablePath: String,
      keys: Seq[String],
      versionCol: String,
      changeTypeCol: Option[String] = None,
      txn: Option[(String, Long)] = None,
      strategy: MergeStrategy = MergeStrategy.Auto): MergeResult = {
    val writer = new DeltaWriter(spark, spark.sparkContext.hadoopConfiguration)
    val replacement =
      if (!writer.tableExists(tablePath))
        Cdc.scd2(changes, keys, col(versionCol),
            changeTypeCol.map(col))
          .drop(changeTypeCol.toSeq: _*).drop(versionCol)
      else Cdc.scd2MergeChanges(writer.read(tablePath), changes, keys,
        versionCol, changeTypeCol)
    // replacement rows are already unique per (keys…, valid_from), so the
    // latest-wins dedup inside the merge is a no-op — a constant commit
    // version satisfies its ordering contract
    applyCdcDelta(spark,
      replacement.withColumn(Cdc.ChangeTypeCol, lit("update_postimage"))
        .withColumn(Cdc.CommitVersionCol, lit(0L)),
      tablePath, keys :+ "valid_from", CdcMode.Merge, txn = txn,
      strategy = strategy)
  }
}
