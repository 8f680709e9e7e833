package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, SpecializedGetters, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** In-bucket pair generation for every dedup family (MinHash/LSH,
  * SimHash/hash64, winnowing): one row per (i, j), i < j, pair of a
  * sorted bucket membership of ANY element type, streamed — nothing sized
  * by C(n, 2) is ever built, so no bucket size turns the stage into a
  * crash; `maxBucket`/`maxDf` caps bound the work, not an array.
  *
  * `maxHamming = None` pairs the members themselves: `array<T>` →
  * `(id_a: T, id_b: T)`. `Some(m)` is the Hamming variant: the members
  * are `struct<id: T, sh: long>` and each pair is verified INSIDE the
  * walk, `(id_a, id_b, hamming)` kept only when `bit_count(sh_a ^ sh_b)
  * <= m` — non-near-dup candidates never become rows.
  *
  * Parity contract (pinned in PairsKernelSuite against the interpreted
  * `flatten(transform(slice(...)))` formulation it replaced, and
  * oracle-gated by every consuming query):
  *  - pairs are exactly the (i, j), i < j, combinations IN ARRAY ORDER;
  *    callers pass `sort_array`ed memberships, so emitted order and id
  *    ordering follow the sort;
  *  - a null member pairs through as a null id; in the Hamming variant a
  *    null member or a null `sh` makes every pair it is in fail the
  *    verify (a null XOR), while a null `id` rides through;
  *  - a null bucket yields no rows;
  *  - every output field is declared nullable.
  *
  * The generator is whole-stage codegen'd through `GenerateExec`'s
  * iterator path: the generated code asks [[pairs]] for one bucket's
  * iterator and consumes each pair before the next is produced, so one
  * row per bucket is reused for every pair.
  */
case class BucketPairs(child: Expression, maxHamming: Option[Int])
    extends UnaryExpression with Generator {

  private def idType: DataType = (child.dataType, maxHamming) match {
    case (ArrayType(StructType(Array(id, _)), _), Some(_)) => id.dataType
    case (ArrayType(t, _), None) => t
    case (t, _) => t
  }

  override def elementSchema: StructType = StructType(
    Seq(StructField("id_a", idType), StructField("id_b", idType)) ++
      maxHamming.map(_ => StructField("hamming", IntegerType)))

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, maxHamming) match {
      case (ArrayType(_, _), None) => TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StructType(Array(_, StructField(_, LongType, _, _))), _), Some(_)) =>
        TypeCheckResult.TypeCheckSuccess
      case (t, None) =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array, got $t")
      case (t, Some(_)) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<struct<id, sh: bigint>>, got $t")
    }

  @transient private lazy val idOf: (SpecializedGetters, Int) => Any =
    InternalRow.getAccessor(idType, nullable = true)

  /** The pairs of one bucket, in (i, j) order. */
  def pairs(items: ArrayData): Iterator[InternalRow] = {
    if (items == null) return Iterator.empty
    val n = items.numElements()
    // unpack once: the O(n^2) walk then reads plain arrays
    val ids = new Array[Any](n)
    maxHamming match {
      case None =>
        var i = 0
        while (i < n) { ids(i) = idOf(items, i); i += 1 }
        new BucketPairs.Walk(ids, null, null, 0)
      case Some(m) =>
        val shs = new Array[Long](n)
        val live = new Array[Boolean](n) // false: null member or null sh
        var i = 0
        while (i < n) {
          if (!items.isNullAt(i)) {
            val member = items.getStruct(i, 2)
            if (!member.isNullAt(1)) {
              live(i) = true
              shs(i) = member.getLong(1)
              ids(i) = idOf(member, 0)
            }
          }
          i += 1
        }
        new BucketPairs.Walk(ids, shs, live, m)
    }
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    pairs(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val self = ctx.addReferenceObj("bucketPairs", this)
    ev.copy(
      code = childGen.code +
        code"""
          |scala.collection.Iterator ${ev.value} = $self.pairs(
          |  ${childGen.isNull} ? null : ${childGen.value});
          |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BucketPairs =
    copy(child = newChild)

  override def prettyName: String = "bucket_pairs"
  override def toString: String =
    s"bucket_pairs($child${maxHamming.fold("")(m => s", maxHamming=$m")})"
}

object BucketPairs {
  /** The (i, j), i < j, walk over one unpacked bucket, in (i, j) order,
    * each pair written into the one reused row `(ids(i), ids(j))`. With
    * `shs` it is the Hamming variant: a pair of two `live` members is
    * kept, with its distance, only when within `maxHamming`. */
  private final class Walk(ids: Array[Any], shs: Array[Long], live: Array[Boolean],
      maxHamming: Int) extends scala.collection.AbstractIterator[InternalRow] {
    private val n = ids.length
    private val row = new GenericInternalRow(if (shs == null) 2 else 3)
    private var i = 0
    private var j = 0
    private var h = 0
    private var ready = false // (i, j) is found and not yet returned

    private def advance(): Boolean = {
      while (i < n - 1) {
        j += 1
        if (j == n) { i += 1; j = i }
        else if (shs == null) return true
        else if (!live(i)) { i += 1; j = i }
        else if (live(j)) {
          h = java.lang.Long.bitCount(shs(i) ^ shs(j))
          if (h <= maxHamming) return true
        }
      }
      false
    }

    override def hasNext: Boolean = ready || { ready = advance(); ready }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("no pair left in the bucket")
      ready = false
      row.update(0, ids(i))
      row.update(1, ids(j))
      if (shs != null) row.setInt(2, h)
      row
    }
  }
}

/** Column-level entry points: generators, used as a `select` item. */
object PairsFunctions {
  /** all (i < j) member pairs of a sorted bucket, as `id_a, id_b`. */
  def idPairs(sortedIds: Column): Column =
    Bridge.column(BucketPairs(Bridge.expression(sortedIds), None))

  /** verified near-dup pairs of a sorted `array<struct<id, sh>>` bucket,
    * as `id_a, id_b, hamming`. */
  def hammingPairs(sortedItems: Column, maxHamming: Int): Column =
    Bridge.column(BucketPairs(Bridge.expression(sortedItems), Some(maxHamming)))
}
