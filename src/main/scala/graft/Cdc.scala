package graft

import graft.core.GraftError
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** How CDC changes are applied to an existing table
  * (reference `src/polars_incremental/cdc.py:8-55`). */
sealed trait CdcMode
object CdcMode {
  /** Keyed upsert/delete merge with latest-change-wins. */
  case object Merge extends CdcMode
  /** Keep only inserts (no merge, no delete). */
  case object AppendOnly extends CdcMode
}

/** Keyed CDC merge over DataFrames: normalize change codes, drop preimages,
  * dedupe to the latest change per key, then anti-join deletes and
  * anti-join+union upserts.
  *
  * Re-expresses reference `src/polars_incremental/cdc.py` with Spark
  * primitives: the latest-per-key dedup is a ranking window (shuffles once
  * on the merge keys), the delete/upsert application is two `left_anti`
  * joins plus `unionByName` — semantically Delta's
  * `MERGE INTO … WHEN MATCHED AND type='delete' THEN DELETE / WHEN MATCHED
  * THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *`. At scale both the
  * window and the joins hash-partition on the same keys, so AQE folds them
  * into one exchange where possible.
  */
object Cdc {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTimestampCol = "_commit_timestamp"
  val MetaCols: Seq[String] = Seq(ChangeTypeCol, CommitVersionCol, CommitTimestampCol)

  val CanonicalTypes: Set[String] =
    Set("insert", "update", "update_preimage", "update_postimage", "delete")

  /** Map custom change codes onto canonical values, passing through
    * unmapped values (reference `cdc.py:103-115`). */
  def normalizeChangeTypes(df: DataFrame, changeCol: String,
      mapping: Map[String, String]): DataFrame = {
    if (mapping.isEmpty) return df
    val mapped = mapping.foldLeft(lit(null).cast("string")) { case (acc, (from, to)) =>
      when(col(changeCol) === from, lit(to)).otherwise(acc)
    }
    df.withColumn(changeCol, coalesce(mapped, col(changeCol)))
  }

  /** Drop `update_preimage` rows (and optionally deletes); `append_only`
    * keeps only inserts (reference `cdc.py:86-100`). */
  def prepareChanges(df: DataFrame, changeCol: String, mode: CdcMode,
      dropDeletes: Boolean = false): DataFrame = mode match {
    case CdcMode.AppendOnly => df.filter(col(changeCol) === "insert")
    case CdcMode.Merge =>
      val base = df.filter(col(changeCol) =!= "update_preimage")
      if (dropDeletes) base.filter(col(changeCol) =!= "delete") else base
  }

  /** Latest change per key ordered by `_commit_version` (fallback
    * `_commit_timestamp`, final tiebreak on a stable row id) —
    * reference `cdc.py:195-209` via a ranking window. */
  def dedupeLatest(df: DataFrame, keys: Seq[String], versionCol: Option[Column] = None)
      : DataFrame = {
    val cols = df.columns.toSet
    val order: Seq[Column] = versionCol.map(c => Seq(c.desc)).getOrElse {
      val v = if (cols.contains(CommitVersionCol)) Some(col(CommitVersionCol).desc) else None
      val t = if (cols.contains(CommitTimestampCol)) Some(col(CommitTimestampCol).desc) else None
      val chosen = Seq(v, t).flatten
      if (chosen.isEmpty)
        throw new GraftError(
          s"dedupeLatest needs $CommitVersionCol or $CommitTimestampCol (or an explicit version column)")
      chosen
    }
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  private def stripMeta(df: DataFrame): DataFrame =
    df.drop(MetaCols.filter(df.columns.contains): _*)

  /** Full in-memory merge (reference `apply_cdc`, `cdc.py:8-55,118-192`):
    * returns the merged table with CDC meta columns stripped. */
  def applyCdc(
      changes: DataFrame,
      existing: Option[DataFrame],
      keys: Seq[String],
      mode: CdcMode = CdcMode.Merge,
      changeCol: String = ChangeTypeCol,
      changeTypeMap: Map[String, String] = Map.empty,
      dropDeletes: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    val normalized = normalizeChangeTypes(changes, changeCol, changeTypeMap)
    missingCols(normalized, keys :+ changeCol)
    val prepared = prepareChanges(normalized, changeCol, mode, dropDeletes)

    mode match {
      case CdcMode.AppendOnly =>
        val payload = stripMeta(prepared)
        existing match {
          case Some(e) => e.unionByName(payload, allowMissingColumns = true)
          case None => payload
        }
      case CdcMode.Merge =>
        val latest = dedupeLatest(prepared, keys)
        val upserts = upsertsOf(latest, changeCol)
        existing match {
          case None => upserts
          case Some(e) =>
            val touched = latest.select(keys.map(col): _*).distinct()
            // remove every touched key (delete-wins + upsert-replace), then
            // re-insert the upsert payload (reference cdc.py:175-192)
            val kept = e.join(touched, keys, "left_anti")
            kept.unionByName(upserts, allowMissingColumns = true)
        }
    }
  }

  /** The latest change per key of a Merge batch (preimages, and deletes
    * when `dropDeletes`, dropped first) — one row per key, meta columns
    * kept: what [[applyCdc]] merges, and, as it is, the set of keys the
    * batch touches. */
  def latestChanges(changes: DataFrame, keys: Seq[String],
      changeCol: String = ChangeTypeCol, dropDeletes: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    missingCols(changes, keys :+ changeCol)
    dedupeLatest(prepareChanges(changes, changeCol, CdcMode.Merge, dropDeletes), keys)
  }

  /** The post-state rows of a [[latestChanges]] frame: its non-delete
    * changes with the CDC meta columns stripped. */
  def upsertsOf(latest: DataFrame, changeCol: String = ChangeTypeCol): DataFrame =
    stripMeta(latest.filter(col(changeCol) =!= "delete"))

  private def missingCols(df: DataFrame, required: Seq[String]): Unit = {
    val missing = required.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new GraftError(s"CDC frame is missing columns: ${missing.mkString(", ")}")
  }

  /** Slowly-changing-dimension Type 2 build from a change stream — the
    * warehouse sibling of [[applyCdc]]: instead of keeping only each
    * key's LATEST version, every version becomes a validity interval
    * `[valid_from, valid_to)` with `is_current` marking the open one, so
    * time-travel joins ("what did this dimension row say when the fact
    * happened") work without Delta time travel. Deletes CLOSE the
    * interval they carry (the delete's version is the prior row's
    * valid_to) and emit no row themselves.
    *
    * Input: one row per (key, version) change, `versionCol` totally
    * ordered within a key (the CDC commit version). Preimages should be
    * dropped first ([[prepareChanges]]). Output: the non-delete rows
    * plus `valid_from` (own version), `valid_to` (next change's version,
    * NULL when open), `is_current`.
    *
    * Scale shape: ONE window over the key (keys' version chains are
    * bounded by update frequency, not corpus size) — `lead` finds the
    * closing version; no join, no second pass. A duplicate
    * `(key, version)` pair — a CDC feed replaying a commit — makes the
    * `lead` order arbitrary, so the operator REFUSES LOUDLY instead of
    * emitting nondeterministic intervals: the check is a `lead` equality
    * over the same window (no extra exchange — not a second
    * partition-by-(key, version) window). */
  def scd2(changes: DataFrame, keys: Seq[String], versionCol: Column,
      changeTypeCol: Option[Column] = None): DataFrame = {
    require(keys.nonEmpty, "scd2 needs at least one key column")
    // NULL change types are NOT deletes: a bare `c === "delete"` yields
    // NULL, and the filter below would silently drop the row (its
    // version already closed the predecessor) — data loss shaped
    // exactly like a delete
    val isDelete = changeTypeCol
      .map(c => coalesce(c === "delete", lit(false)))
      .getOrElse(lit(false))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(versionCol.asc)
    // the duplicate guard lives in the FILTER predicate, not a projected
    // column: a projected guard on valid_to would let Catalyst push the
    // !__del filter between the Window and the guard projection, so a
    // duplicate observed only by a DELETE row (which the filter removes)
    // would silently escape — the filter predicate itself references the
    // window output, cannot move below it, and evaluates for EVERY row
    changes
      .withColumn("__del", isDelete)
      .withColumn("valid_from", versionCol)
      .withColumn("__next", lead(versionCol, 1).over(w))
      .filter(when(col("__next") === versionCol,
        raise_error(concat(lit("scd2: duplicate (key, version) change — " +
            "versionCol must be totally ordered within a key; offending " +
            "key: "),
          concat_ws(",", keys.map(k => col(k).cast("string")): _*),
          lit(" version: "), versionCol.cast("string"))).cast("boolean"))
        .otherwise(!col("__del")))
      .withColumn("valid_to", col("__next"))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__del", "__next")
  }

  /** The three interval columns [[scd2]] adds to the payload. */
  val Scd2MetaCols: Seq[String] = Seq("valid_from", "valid_to", "is_current")

  /** Merge one CDC change batch into an EXISTING SCD Type-2 dimension —
    * the incremental sibling of [[scd2]] (which rebuilds from the full
    * change stream; a warehouse consumes batches): CLOSE the
    * currently-open interval of every touched key at the key's first
    * change version, chain the batch's changes into new intervals, and
    * carry every untouched row forward byte-identical. This is the
    * [[applyCdc]] anti-join/replace discipline applied to interval
    * semantics — only touched keys' OPEN rows re-enter a window; closed
    * history never recomputes.
    *
    * Schema contract: `dim` = payload + `valid_from`/`valid_to`/
    * `is_current` (an [[scd2]] output); `changes` = the same payload +
    * `versionCol` (+ optional `changeTypeCol`). `versionCol` must NOT be
    * a payload column — the chain version reconstructs from the open
    * row's `valid_from` on the dim side.
    *
    * Late/replayed feeds refuse loudly (the [[scd2]] discipline): a
    * change whose version sorts BEFORE the key's newest recorded
    * boundary — `max(coalesce(valid_to, valid_from))`, i.e. the open
    * row's valid_from, or the closing delete's version on a fully-closed
    * chain — would overlap committed history; equality to the OPEN row's
    * version trips [[scd2]]'s duplicate guard inside the rebuild window.
    * (Equality to a closing delete's version is legal: intervals are
    * half-open, so a re-insert at exactly the delete version tiles.)
    *
    * Returns the full post-merge dimension. For the replacement-rows-only
    * view (the Delta-merge payload), see [[scd2MergeChanges]].
    *
    * Scale shape: one `groupBy(keys)` bound aggregate + one left join
    * stamps the guard on the batch (batch-sized); the rebuild window
    * runs over open-rows-of-touched-keys + batch only; untouched dim
    * rows move through a single `left_anti` on the touched-key set —
    * all exchanges key on the dimension keys, so AQE co-partitions, and
    * a batch touching 0.1% of keys re-windows 0.1% of open rows. */
  def scd2Merge(dim: DataFrame, changes: DataFrame, keys: Seq[String],
      versionCol: String, changeTypeCol: Option[String] = None): DataFrame = {
    // ONE touched-key distinct and ONE dim semi-join, shared by the
    // carried-closed branch and the rebuild (identical subtrees, so
    // exchange reuse deduplicates them physically) — building them per
    // consumer would shuffle the batch and scan the dimension repeatedly
    val touched = changes.select(keys.map(col): _*).distinct()
    val dimTouched = dim.join(touched, keys, "left_semi")
    val untouched = dim.join(touched, keys, "left_anti")
    val closedTouched = dimTouched.filter(!col("is_current"))
    untouched
      .unionByName(closedTouched)
      .unionByName(scd2Rebuilt(dimTouched, changes, keys, versionCol,
        changeTypeCol))
  }

  /** Only the rows [[scd2Merge]] REPLACES or ADDS — the touched keys'
    * re-windowed chains (their previously-open row, now closed, plus the
    * batch's new intervals), keyed uniquely by `(keys…, valid_from)`.
    * This is the change payload for a Delta-sink merge
    * ([[DeltaCdc.scd2MergeDelta]]): upserting these on
    * `keys :+ valid_from` converts the open row in place and inserts the
    * new intervals, so the table merge is O(touched chains), never a
    * dimension rewrite. */
  def scd2MergeChanges(dim: DataFrame, changes: DataFrame,
      keys: Seq[String], versionCol: String,
      changeTypeCol: Option[String] = None): DataFrame = {
    val touched = changes.select(keys.map(col): _*).distinct()
    scd2Rebuilt(dim.join(touched, keys, "left_semi"), changes, keys,
      versionCol, changeTypeCol)
  }

  /** Point-in-time dimension lookup — the CONSUMER side of [[scd2]]:
    * join each fact row to the dimension version whose validity interval
    * `[valid_from, valid_to)` contains the fact's `atCol` ("what did
    * this dimension row say when the fact happened"). Facts before the
    * key's first interval, after a closing delete, or with no key at all
    * keep their row with NULL dimension columns (left join — a fact
    * must never silently vanish because the dimension was late).
    *
    * Intervals are half-open, so a fact AT a version boundary sees the
    * NEW row — consistent with [[scd2]]'s tiling (`valid_to(n) ==
    * valid_from(n+1)`) and with re-inserts at exactly a delete's
    * version. At most one interval can match per fact BY CONSTRUCTION
    * (intervals of a key never overlap), suite-pinned.
    *
    * Scale shape: ONE equi-join on the dimension keys with the range
    * predicates as join residuals — a hash join, not a range/theta
    * join; per-key version chains are bounded by update frequency, so
    * the residual scan per probe is short. Facts never shuffle twice. */
  def scd2Lookup(facts: DataFrame, dim: DataFrame, keys: Seq[String],
      atName: String): DataFrame = {
    require(keys.nonEmpty, "scd2Lookup needs at least one key column")
    Scd2MetaCols.foreach(c => require(dim.columns.contains(c),
      s"scd2Lookup: dim is not an SCD2 table — missing '$c'"))
    require(facts.columns.contains(atName),
      s"scd2Lookup: facts are missing the as-of column '$atName'")
    val overlap = facts.columns.toSet
      .intersect(dim.columns.toSet.diff(keys.toSet))
    require(overlap.isEmpty,
      s"scd2Lookup: facts and dim share non-key columns " +
        s"${overlap.mkString(", ")} — alias one side first")
    // string-qualified aliases, not df("col") resolution: dim is often
    // DERIVED from the same scan as the facts (scd2 over the same feed),
    // and common-lineage df("col") references trip AMBIGUOUS_SELF_JOIN
    def fq(c: String) = col("__sfact.`" + c.replace("`", "``") + "`")
    def dq(c: String) = col("__sdim.`" + c.replace("`", "``") + "`")
    val cond = keys.map(k => fq(k) === dq(k)).reduce(_ && _) &&
      fq(atName) >= dq("valid_from") &&
      (dq("valid_to").isNull || fq(atName) < dq("valid_to"))
    val dimPayload = dim.columns.filterNot(keys.contains).toSeq
    facts.alias("__sfact").join(dim.alias("__sdim"), cond, "left")
      .select(facts.columns.toSeq.map(fq) ++ dimPayload.map(dq): _*)
  }

  /** Shared rebuild of [[scd2Merge]] over the ALREADY-RESTRICTED
    * touched-key slice of the dimension: guard the batch against late
    * versions, fold touched keys' open rows back into change form, and
    * re-run the [[scd2]] window over open + batch. */
  private def scd2Rebuilt(dimTouched: DataFrame, changes: DataFrame,
      keys: Seq[String], versionCol: String,
      changeTypeCol: Option[String]): DataFrame = {
    require(keys.nonEmpty, "scd2Merge needs at least one key column")
    Scd2MetaCols.foreach(c => require(dimTouched.columns.contains(c),
      s"scd2Merge: dim is not an SCD2 table — missing '$c'"))
    require(!dimTouched.columns.contains(versionCol),
      s"scd2Merge: versionCol '$versionCol' must not be a dim payload " +
        "column (the chain version reconstructs from valid_from)")
    require(changes.columns.contains(versionCol),
      s"scd2Merge: changes are missing versionCol '$versionCol'")
    val payload = dimTouched.columns.filterNot(Scd2MetaCols.contains).toSeq
    val typeName = changeTypeCol.getOrElse("__scd2_type")
    changeTypeCol.foreach(c => require(changes.columns.contains(c),
      s"scd2Merge: changes are missing changeTypeCol '$c'"))

    // newest recorded boundary per touched key: the open row's
    // valid_from, or the closing delete's version when the chain is
    // fully closed
    val bounds = dimTouched
      .groupBy(keys.map(col): _*)
      .agg(max(coalesce(col("valid_to"), col("valid_from"))).as("__bound"))
    // late change = silent overlap with committed intervals → refuse
    // loudly. The guard is a FILTER predicate, not a projected column
    // (the repo's guard-carrier rule): a guard folded into versionCol
    // would be deleted by ColumnPruning the moment a consumer reads only
    // payload columns, and this guard protects committed dimension
    // intervals from corruption. Anchored on the join output so it
    // cannot push below the bounds join it depends on.
    val guarded = changes
      .select((payload.map(col) :+ col(versionCol) :+
        changeTypeCol.map(col).getOrElse(lit(null).cast("string"))
          .as(typeName)): _*)
      .join(bounds, keys, "left")
      .filter(when(col(versionCol) < col("__bound"),
        raise_error(concat(lit("scd2Merge: late change — version "),
          col(versionCol).cast("string"),
          lit(" sorts before the key's committed boundary "),
          col("__bound").cast("string"), lit(" (key: "),
          concat_ws(",", keys.map(k => col(k).cast("string")): _*),
          lit("); CDC batches must arrive version-ordered")))
          .cast("boolean"))
        .otherwise(lit(true)))
      .drop("__bound")
    val openAsChanges = dimTouched
      .filter(col("is_current"))
      .select((payload.map(col) :+ col("valid_from").as(versionCol) :+
        lit(null).cast("string").as(typeName)): _*)
    scd2(openAsChanges.unionByName(guarded), keys, col(versionCol),
        Some(col(typeName)))
      .select((payload ++ Scd2MetaCols).map(col): _*)
  }
}
