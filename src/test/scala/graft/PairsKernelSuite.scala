package graft

import graft.functions.PairsFunctions
import graft.functions.TextFunctions.hamming64
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parity laws for the fused in-bucket pair kernels
  * ([[graft.functions.Hash64HammingPairs]] /
  * [[graft.functions.LongIdPairs]]): pair set, pair ORDER within a
  * bucket, emitted Hamming values, and the null semantics must all be
  * identical to the interpreted `pairStructs` HOF formulation they
  * replaced — rebuilt here verbatim — including the adversarial corners:
  * null elements, null id fields, null signature fields, empty and
  * single-member buckets, budget 0, and budget 64 (everything passes). */
class PairsKernelSuite extends SparkSpec {
  import spark.implicits._

  /** the pre-optimization HOF, verbatim from Dedup.pairStructs */
  private def pairStructsHof(sorted: org.apache.spark.sql.Column) =
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + lit(2), size(sorted)), y =>
        struct(x.as("a"), y.as("b")))))

  private val rng = new scala.util.Random(777)

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
    buckets.zipWithIndex
      .map { case (ms, i) => (i, ms.map { case (a, b) => (a, b) }) }
      .toDF("bucket", "members")
      .select(col("bucket"), col("members")
        .cast("array<struct<id: bigint, sh: bigint>>").as("members"))
      .select(col("bucket"), array_sort(col("members")).as("sorted_items"))
  }

  private def fmt(r: org.apache.spark.sql.Row): String = r.mkString("|")

  test("hammingPairs == pairStructs + hamming filter, per budget") {
    for (budget <- Seq(0, 3, 6, 16, 64)) {
      // both sides ordered by (bucket, emission position): the kernel
      // must reproduce the HOF's surviving pairs AND their relative
      // order within every bucket
      val nw = sigBuckets
        .select(col("bucket"), posexplode(PairsFunctions
          .hammingPairs(col("sorted_items"), budget)).as(Seq("pos", "p")))
        .orderBy("bucket", "pos")
        .select(col("bucket"), col("p.id_a"), col("p.id_b"), col("p.hamming"))
        .collect().map(fmt)
      val od = sigBuckets
        .select(col("bucket"),
          posexplode(pairStructsHof(col("sorted_items"))).as(Seq("pos", "p")))
        .select(col("bucket"), col("pos"), col("p.a.id").as("id_a"),
          col("p.b.id").as("id_b"),
          hamming64(col("p.a.sh"), col("p.b.sh")).as("hamming"))
        .filter(col("hamming") <= budget)
        .orderBy("bucket", "pos")
        .select(col("bucket"), col("id_a"), col("id_b"), col("hamming"))
        .collect().map(fmt)
      assert(nw.toSeq == od.toSeq,
        s"budget=$budget: kernel pairs diverge from the HOF formulation")
      if (budget >= 16) assert(nw.nonEmpty, "law would be vacuous")
    }
  }

  test("idPairs == pairStructs over plain long ids, order included") {
    def j(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    val buckets: Seq[Seq[java.lang.Long]] =
      Seq.fill(20)(Seq.fill(2 + rng.nextInt(10))(j(rng.nextInt(100).toLong))) ++
        Seq(Seq.empty, Seq(j(3L)), Seq(j(1L), null, j(5L)))
    val df = buckets.zipWithIndex.map { case (ms, i) => (i, ms) }
      .toDF("bucket", "members")
      .select(col("bucket"),
        array_sort(col("members").cast("array<bigint>")).as("sorted_ids"))
    val nw = df.select(col("bucket"),
        posexplode(PairsFunctions.idPairs(col("sorted_ids"))).as(Seq("pos", "p")))
      .select(col("bucket"), col("pos"), col("p.a"), col("p.b"))
      .orderBy("bucket", "pos").collect().map(fmt)
    val od = df.select(col("bucket"),
        posexplode(pairStructsHof(col("sorted_ids"))).as(Seq("pos", "p")))
      .select(col("bucket"), col("pos"), col("p.a"), col("p.b"))
      .orderBy("bucket", "pos").collect().map(fmt)
    assert(nw.toSeq == od.toSeq)
  }

  test("operator-level law: hash64Pairs fused == HOF shape on real-ish sigs") {
    // long ids take the kernel; STRING ids take the legacy HOF path —
    // both must produce the same pair set modulo the id representation
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

  test("pairCount sizes C(n, 2) in Long and refuses buckets past array range") {
    import graft.functions.PairsKernel.pairCount
    assert(pairCount(0) === 0 && pairCount(1) === 0 && pairCount(2) === 1)
    // n * (n - 1) overflows Int from here on; the count must not
    assert(pairCount(46342) === 1073767311)
    assert(pairCount(65536) === 2147450880)
    val e = intercept[graft.core.GraftError](pairCount(65537))
    assert(e.getMessage.contains("65537") && e.getMessage.contains("2147516416"),
      e.getMessage)
  }
}
