package graft

import graft.functions.{BucketPairs, PairsFunctions}
import graft.functions.TextFunctions.hamming64
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parity laws for the streaming in-bucket pair generator
  * ([[graft.functions.BucketPairs]]): pair set, pair ORDER within a
  * bucket, emitted Hamming values, and the null semantics must all be
  * identical to the interpreted `pairStructs` HOF formulation it
  * replaced — rebuilt here verbatim — for long, int and string ids,
  * including the adversarial corners: null elements, null id fields,
  * null signature fields, empty and single-member buckets, budget 0, and
  * budget 64 (everything passes). Each law holds in both the whole-stage
  * codegen and the interpreted eval path. */
class PairsKernelSuite extends SparkSpec {
  import spark.implicits._

  /** the pre-generator HOF, verbatim from Dedup.pairStructs */
  private def pairStructsHof(sorted: Column) =
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + lit(2), size(sorted)), y =>
        struct(x.as("a"), y.as("b")))))

  private val rng = new scala.util.Random(777)

  private def fmt(r: org.apache.spark.sql.Row): String = r.mkString("|")

  /** `f` under whole-stage codegen, then again on the interpreted path. */
  private def bothPaths(f: String => Unit): Unit = {
    f("codegen")
    val ws = "spark.sql.codegen.wholeStage"
    val fm = "spark.sql.codegen.factoryMode"
    val (ws0, fm0) = (spark.conf.get(ws), spark.conf.get(fm, "FALLBACK"))
    try {
      spark.conf.set(ws, "false"); spark.conf.set(fm, "NO_CODEGEN")
      f("interpreted")
    } finally { spark.conf.set(ws, ws0); spark.conf.set(fm, fm0) }
  }

  /** Generator output per bucket, in emission order: `bucket` first,
    * then the generator's fields. A bucket row's pairs leave the
    * generator consecutively, so grouping the collected rows keeps it. */
  private def perBucket(df: DataFrame): Map[Any, Seq[String]] =
    df.collect().toSeq.groupBy(_.get(0)).map { case (b, rs) => b -> rs.map(fmt) }

  /** The HOF reference in the same shape: `select` maps a pair struct
    * `p` (and its `pos`) to the compared columns; sorted by emission. */
  private def hofPerBucket(df: DataFrame, sorted: String)(
      select: Column => Seq[Column], keep: Column = lit(true)): Map[Any, Seq[String]] =
    perBucket(df.select(col("bucket"),
        posexplode(pairStructsHof(col(sorted))).as(Seq("pos", "p")))
      .select(Seq(col("bucket"), col("pos")) ++ select(col("p")): _*)
      .filter(keep)
      .orderBy("bucket", "pos").drop("pos"))

  private lazy val sigBuckets: DataFrame = {
    def j(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    // buckets of (id, sh) members: clustered signatures so some pairs
    // pass tight budgets, plus null corners
    val buckets: Seq[Seq[(java.lang.Long, java.lang.Long)]] =
      Seq.fill(30) {
        val base = rng.nextLong()
        Seq.fill(2 + rng.nextInt(8))(
          (j(rng.nextInt(1000).toLong),
            j(base ^ (1L << rng.nextInt(64)) ^
              (if (rng.nextBoolean()) 1L << rng.nextInt(64) else 0L))))
      } ++ Seq(
        Seq.empty,
        Seq((j(1L), j(42L))),
        Seq((j(1L), j(7L)), (j(2L), j(7L)), (null, j(7L))), // null id
        Seq((j(1L), j(7L)), (j(2L), null), (j(3L), j(7L))), // null sh
        Seq((j(5L), j(0L)), (j(6L), j(-1L))), // hamming 64
        Seq((j(5L), j(3L)), (j(5L), j(3L)), (j(9L), j(2L))))
    val members = buckets.zipWithIndex
      .map { case (ms, i) => (i, ms.map { case (a, b) => (a, b) }) }
      .toDF("bucket", "members")
      .select(col("bucket"), col("members")
        .cast("array<struct<id: bigint, sh: bigint>>").as("members"))
    // plus one bucket holding a null member
    members.union(Seq(99).toDF("bucket").select(col("bucket"),
        array(struct(lit(4L).as("id"), lit(7L).as("sh")),
          lit(null).cast("struct<id: bigint, sh: bigint>"),
          struct(lit(8L).as("id"), lit(6L).as("sh"))).as("members")))
      .select(col("bucket"), array_sort(col("members")).as("sorted_items"))
  }

  test("hammingPairs == pairStructs + hamming filter, per budget") {
    val stringIds = sigBuckets.select(col("bucket"),
      transform(col("sorted_items"), m =>
        struct(lpad(m("id").cast("string"), 4, "0").as("id"), m("sh").as("sh")))
        .as("sorted_items"))
    for ((ids, idType) <- Seq(sigBuckets -> "long", stringIds -> "string");
         budget <- Seq(0, 3, 6, 16, 64)) bothPaths { path =>
      // both sides in emission order per bucket: the generator must
      // reproduce the HOF's surviving pairs AND their relative order
      val nw = perBucket(ids.select(col("bucket"),
        PairsFunctions.hammingPairs(col("sorted_items"), budget)))
      val od = hofPerBucket(ids, "sorted_items")(p => Seq(p("a")("id"), p("b")("id"),
          hamming64(p("a")("sh"), p("b")("sh")).as("hamming")),
        keep = col("hamming") <= budget)
      assert(nw == od, s"$idType ids, budget=$budget, $path: generator pairs " +
        "diverge from the HOF formulation")
      if (budget >= 16) assert(nw.nonEmpty, "law would be vacuous")
    }
  }

  /** The plain-pairs law over `array<idType>` buckets with null members,
    * empty, single-member and null buckets. */
  private def plainParity(idType: String): Unit = {
    def j(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    val buckets: Seq[Seq[java.lang.Long]] =
      Seq.fill(20)(Seq.fill(2 + rng.nextInt(10))(j(rng.nextInt(100).toLong))) ++
        Seq(Seq.empty, Seq(j(3L)), Seq(j(1L), null, j(5L)), null)
    val df = buckets.zipWithIndex.map { case (ms, i) => (i, ms) }.toDF("bucket", "members")
      .select(col("bucket"),
        array_sort(col("members").cast(s"array<$idType>")).as("sorted_ids"))
    bothPaths { path =>
      val nw = perBucket(df.select(col("bucket"), PairsFunctions.idPairs(col("sorted_ids"))))
      val od = hofPerBucket(df, "sorted_ids")(p => Seq(p("a"), p("b")))
      assert(nw == od, s"$idType ids, $path")
      assert(nw.values.map(_.size).sum > 100, "law would be vacuous")
    }
  }

  test("idPairs == pairStructs over plain long ids, order included") {
    plainParity("bigint")
  }

  test("idPairs == pairStructs over int and string ids, order included") {
    plainParity("int")
    plainParity("string")
  }

  test("output columns: names, types and nullability") {
    val plain = Seq(Seq(1, 2)).toDF("m").select(PairsFunctions.idPairs(col("m")))
    assert(plain.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) ==
      Seq(("id_a", "int", true), ("id_b", "int", true)))
    val ham = Seq(Seq((1L, 2L))).toDF("m")
      .select(PairsFunctions.hammingPairs(col("m").cast("array<struct<id: string, sh: bigint>>"), 3))
    assert(ham.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) ==
      Seq(("id_a", "string", true), ("id_b", "string", true), ("hamming", "int", true)))
    val bad = intercept[org.apache.spark.sql.AnalysisException](
      Seq(Seq(1L)).toDF("m").select(PairsFunctions.hammingPairs(col("m"), 3)))
    assert(bad.getMessage.contains("bucket_pairs"), bad.getMessage)
  }

  test("a 100,000-member bucket streams its pairs in (i, j) order, " +
      "allocating nothing sized by C(n, 2)") {
    val n = 100000
    val items = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array.tabulate(n)(i => i.toLong * 3))
    val gen = BucketPairs(org.apache.spark.sql.catalyst.expressions.Literal(null,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)), None)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    val it = gen.pairs(items)
    var (i, j, k) = (0, 1, 0)
    while (k < 1000000) {
      val r = it.next()
      if (r.getLong(0) != i * 3L || r.getLong(1) != j * 3L)
        fail(s"pair $k is (${r.getLong(0)}, ${r.getLong(1)}), expected ($i, $j) x 3")
      k += 1; j += 1
      if (j == n) { i += 1; j = i + 1 }
    }
    assert(it.hasNext && (i, j) == (10, 66))
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    // the one boxed id per member is O(n); C(n, 2) is 4,999,950,000
    assert(allocated < (64L << 20), s"allocated $allocated bytes for 10^6 pairs")
  }

  test("operator-level law: hash64Pairs over long ids == over string ids") {
    // one generator for every id type: the same signatures keyed by long
    // and by string ids must verify the same pairs
    val sigs = (0L until 300L).map { i =>
      val base = if (i % 3 == 0) 0x0123456789abcdefL else 0x0fedcba987654321L
      (i, base ^ (1L << (i % 7)).toLong)
    }.toDF("doc_id", "sh")
    val viaLong = graft.operators.Dedup
      .hash64Pairs(sigs, "doc_id", "sh", maxHamming = 3)
      .select(col("id_a").cast("string"), col("id_b").cast("string"),
        col("hamming"))
      .orderBy("id_a", "id_b").collect().map(fmt)
    val strSigs = sigs.select(
      format_string("%04d", col("doc_id")).as("doc_id"), col("sh"))
    val viaString = graft.operators.Dedup
      .hash64Pairs(strSigs, "doc_id", "sh", maxHamming = 3)
      .select((col("id_a").cast("long")).cast("string").as("id_a"),
        (col("id_b").cast("long")).cast("string").as("id_b"), col("hamming"))
      .orderBy("id_a", "id_b").collect().map(fmt)
    assert(viaLong.toSeq == viaString.toSeq)
    assert(viaLong.nonEmpty, "law would be vacuous with no pairs")
  }
}
