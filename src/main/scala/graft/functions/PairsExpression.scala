package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Codegen'd in-bucket pair generation for the LSH/simhash dedup
  * families — the fused replacement for the interpreted
  * `flatten(transform(sorted, (x, i) => transform(slice(sorted, i+2, n),
  * y => struct(x, y))))` formulation (`Dedup.pairStructs`), which paid a
  * Catalyst-lambda dispatch per PAIR: a template-heavy corpus puts
  * thousands of members into one hot bucket, and C(1900, 2) ≈ 1.8M
  * interpreted struct-of-struct allocations in ONE task was the measured
  * wall of `d_simhash_pairs_poly` at sf0.1 (4.1 s of a 5.2 s query).
  * Each kernel is one tight primitive loop per bucket row inside
  * whole-stage codegen.
  *
  * Parity contract (suite-pinned in PairsKernelSuite, oracle-gated by
  * every consuming query):
  *  - pairs are exactly the (i, j), i < j, combinations IN ARRAY ORDER —
  *    the operators pass `array_sort`ed memberships, so emitted order and
  *    id ordering match the HOF formulation element for element;
  *  - [[Hash64HammingPairs]] additionally applies the
  *    `bit_count(a.sh ^ b.sh) <= maxHamming` verify INSIDE the loop —
  *    dropping a failing pair exactly where the old plan's post-explode
  *    filter dropped it, so millions of non-near-dup candidates no longer
  *    materialize as rows at all. A null element or a null `sh` field
  *    yields a null XOR → null hamming, which the old filter dropped —
  *    the kernel skips those pairs identically. A null `id` rides
  *    through (the old struct carried it; such pairs survived when their
  *    hamming passed).
  */
object PairsKernel {
  private val HamOut = Array[DataType](LongType, LongType, IntegerType)

  /** All (i < j) pairs with Hamming(sh_i, sh_j) <= maxHamming from a
    * bucket's `array<struct<id: long, sh: long>>` membership. Returns
    * `array<struct<id_a, id_b, hamming>>`. */
  def hammingPairs(items: ArrayData, maxHamming: Int): ArrayData = {
    if (items == null) return new GenericArrayData(Array.empty[Any])
    val n = items.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    // unpack once: the O(n^2) loop then runs over primitive arrays
    val ids = new Array[Long](n)
    val idNull = new Array[Boolean](n)
    val shs = new Array[Long](n)
    val dead = new Array[Boolean](n) // null element / null sh: every pair dropped
    var i = 0
    while (i < n) {
      if (items.isNullAt(i)) dead(i) = true
      else {
        val row = items.getStruct(i, 2)
        if (row.isNullAt(1)) dead(i) = true
        else {
          shs(i) = row.getLong(1)
          if (row.isNullAt(0)) idNull(i) = true else ids(i) = row.getLong(0)
        }
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuilder.make[Any]
    i = 0
    while (i < n) {
      if (!dead(i)) {
        val shi = shs(i)
        var j = i + 1
        while (j < n) {
          if (!dead(j)) {
            val h = java.lang.Long.bitCount(shi ^ shs(j))
            if (h <= maxHamming)
              out += new GenericInternalRow(Array[Any](
                if (idNull(i)) null else ids(i),
                if (idNull(j)) null else ids(j), h))
          }
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.result())
  }

  /** C(n, 2), the pair count of an n-member bucket, as an array size:
    * computed in Long (n * (n - 1) overflows Int from n = 46,342), and a
    * bucket whose pairs exceed the JVM's array range fails with a
    * [[graft.core.GraftError]] naming its size instead of allocating a
    * wrong-size array. */
  def pairCount(n: Int): Int = {
    val pairs = n.toLong * (n - 1) / 2
    if (pairs > Int.MaxValue - 8)
      throw new graft.core.GraftError(
        s"a bucket of $n members has $pairs pairs, past the JVM array range " +
        s"(${Int.MaxValue - 8}); cap the bucket size")
    pairs.toInt
  }

  /** All (i < j) pairs from a bucket's `array<long>` membership —
    * `array<struct<a, b>>`, the [[Dedup.candidatePairs]] shape. A null
    * element pairs through as a null field, exactly as the HOF built
    * `struct(null, y)`. */
  def idPairs(items: ArrayData): ArrayData = {
    if (items == null) return new GenericArrayData(Array.empty[Any])
    val n = items.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val ids = new Array[Long](n)
    val idNull = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (items.isNullAt(i)) idNull(i) = true else ids(i) = items.getLong(i)
      i += 1
    }
    val out = new Array[Any](pairCount(n))
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](
          if (idNull(i)) null else ids(i),
          if (idNull(j)) null else ids(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `array<struct<id_a: long, id_b: long, hamming: int>>` — the verified
  * in-bucket near-dup pairs of a sorted `array<struct<id, sh>>` bucket
  * membership (see [[PairsKernel.hammingPairs]]). */
case class Hash64HammingPairs(child: Expression, maxHamming: Int)
    extends UnaryExpression {

  // every field declared nullable like the HOF formulation's struct
  // fields were (schema parity for the Verify dump; values are never
  // null for hamming — passing pairs always carry one)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id_a", LongType, nullable = true),
    StructField("id_b", LongType, nullable = true),
    StructField("hamming", IntegerType, nullable = true))),
    containsNull = false)
  // a null input array yields an EMPTY pair array (the old plan's
  // explode over a null HOF result emitted no rows either way)
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(Array(
          StructField(_, LongType, _, _), StructField(_, LongType, _, _))), _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
          s"hash64_hamming_pairs requires array<struct<long, long>>, got $t")
    }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input).asInstanceOf[ArrayData]
    PairsKernel.hammingPairs(v, maxHamming)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val kernel = PairsKernel.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(
      code = childGen.code +
        code"""
          |$ad ${ev.value} = $kernel.hammingPairs(
          |  ${childGen.isNull} ? null : ${childGen.value}, $maxHamming);
          |""".stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Hash64HammingPairs = copy(child = newChild)

  override def prettyName: String = "hash64_hamming_pairs"
  override def toString: String =
    s"hash64_hamming_pairs(${child}, maxHamming=$maxHamming)"
  override def sql: String = s"hash64_hamming_pairs(${child.sql})"
}

/** `array<struct<a: long, b: long>>` — all (i < j) id pairs of a sorted
  * `array<long>` bucket membership (see [[PairsKernel.idPairs]]). */
case class LongIdPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", LongType, nullable = true),
    StructField("b", LongType, nullable = true))), containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"long_id_pairs requires array<long>, got $t")
    }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input).asInstanceOf[ArrayData]
    PairsKernel.idPairs(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val kernel = PairsKernel.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(
      code = childGen.code +
        code"""
          |$ad ${ev.value} = $kernel.idPairs(
          |  ${childGen.isNull} ? null : ${childGen.value});
          |""".stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : LongIdPairs = copy(child = newChild)

  override def prettyName: String = "long_id_pairs"
  override def toString: String = s"long_id_pairs(${child})"
  override def sql: String = s"long_id_pairs(${child.sql})"
}

/** Column-level entry points. */
object PairsFunctions {
  /** verified near-dup pairs of a sorted `array<struct<id, sh>>` bucket. */
  def hammingPairs(sortedItems: Column, maxHamming: Int): Column =
    Bridge.column(Hash64HammingPairs(Bridge.expression(sortedItems), maxHamming))

  /** all (i < j) id pairs of a sorted `array<long>` bucket. */
  def idPairs(sortedIds: Column): Column =
    Bridge.column(LongIdPairs(Bridge.expression(sortedIds)))
}
