package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication strategies for training-data pipelines, exact → fuzzy.
  *
  * Scale notes (the point of each design):
  *  - exact/fingerprint dedup is one hash-shuffle on the dedup key — the
  *    minimum possible; no window over the whole table, only per-key.
  *  - MinHash-LSH banding turns O(N²) near-dup search into
  *    explode(bands) + ONE shuffle (a groupBy on the band key) + per-bucket
  *    pair generation; verification (true Jaccard) runs only on candidates.
  *  - SimHash buckets on FOUR rotated 16-bit blocks of the 64-bit hash
  *    (Manku et al. WWW'07 multi-table layout): any pair within Hamming
  *    distance 3 leaves at least one block untouched (pigeonhole), so it is
  *    guaranteed to meet in a bucket; larger budgets keep high recall.
  *  - No operator here caches: candidate pairs come from a single
  *    aggregation pass (`collect_set` per bucket), not a bucket self-join,
  *    so the expensive signature scan runs exactly once WITHOUT a
  *    `.persist()` whose lifecycle would leak into the shared session
  *    (at 100 TB a leaked MEMORY_AND_DISK cache per invocation fills
  *    executor storage memory with dead blocks).
  *  - Degenerate buckets (empty docs, zero vectors, shards of identical
  *    rows) are capped at `maxBucket` members — the classic LSH skew
  *    guard: one hot bucket can otherwise go quadratic and take down the
  *    stage. The cap is enforced BEFORE the bucket aggregation (rank
  *    filter inside the same shuffle), so neither the pair count nor the
  *    aggregation buffer is ever unbounded. Capping drops comparisons
  *    (recall, never precision); pass `maxBucket = 0` to disable.
  *
  * All near-dup operators assume ids are unique (they dedup candidate
  * pairs by id).
  */
object Dedup {

  /** Default LSH bucket-size cap. It bounds WORK, not memory: a full
    * bucket costs C(4096, 2) = 8,386,560 pair visits, streamed one at a
    * time by [[graft.functions.BucketPairs]]. No array is sized by the
    * bucket's pair count, so an uncapped bucket (`maxBucket = 0`) is only
    * slow, never a crash. */
  val DefaultMaxBucket = 4096

  /** Exact dedup: keep one row per key set, smallest `tieBreak` wins.
    * One shuffle; the ranking window and the groupBy share partitioning. */
  def exact(df: DataFrame, keys: Seq[String], tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tieBreak))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Fingerprint dedup: exact dedup on md5(textCol) — cheaper shuffle key
    * (16 bytes) than the full text at 100 TB. */
  def byFingerprint(df: DataFrame, textCol: String, tieBreak: String): DataFrame =
    exact(df.withColumn("__fp", fingerprint(col(textCol))), Seq("__fp"), tieBreak)
      .drop("__fp")

  /** Bucket rows → aggregated buckets with membership bounded BEFORE the
    * aggregation: rank members per bucket (`row_number` over the same
    * partition key — rank 1 = smallest id, so truncation is deterministic),
    * keep `maxBucket`, then aggregate. The window and the groupBy share one
    * hash exchange; the window's per-partition sort is the price of never
    * materializing an unbounded bucket in a single aggregation buffer row
    * (a degenerate hot bucket — billions of empty docs on one band key —
    * would otherwise accumulate its whole membership into one in-memory
    * buffer and OOM the executor; pair generation itself streams, so
    * there the cap bounds only the C(maxBucket, 2) pair work). `rows` must
    * carry an `id` column. */
  private[graft] def boundedBuckets(rows: DataFrame, bucketCols: Seq[String],
      agg: Column, maxBucket: Int): DataFrame = {
    val bounded =
      if (maxBucket > 0) {
        val w = Window.partitionBy(bucketCols.map(col): _*).orderBy(col("id"))
        rows.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxBucket).drop("__rn")
      } else rows
    bounded.groupBy(bucketCols.map(col): _*).agg(agg.as("items"))
      .filter(size(col("items")) > 1)
  }

  /** Distinct candidate id pairs `(id_a, id_b)` from bucketed rows. ONE
    * shuffle (window + groupBy on the bucket key); signature/bucket
    * expressions upstream evaluate exactly once. Pairs stream out of each
    * sorted bucket through the [[graft.functions.BucketPairs]] generator,
    * whatever the id type. */
  private def candidatePairs(
      rows: DataFrame, bucketCols: Seq[String], maxBucket: Int): DataFrame =
    boundedBuckets(rows, bucketCols, collect_set(col("id")), maxBucket)
      .select(graft.functions.PairsFunctions.idPairs(sort_array(col("items"))))
      .distinct()

  /** Count of buckets whose membership exceeds `maxBucket` — the
    * comparisons-dropped diagnostic for the skew cap (an eager action;
    * call it from tests or debug tooling, not the hot path). Zero when the
    * cap is disabled (`maxBucket <= 0`), mirroring the cap semantics. */
  def oversizedBuckets(
      rows: DataFrame, bucketCols: Seq[String], maxBucket: Int): Long =
    if (maxBucket <= 0) 0L
    else rows.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket).count()

  /** MinHash + LSH candidate pairs over a text column.
    *
    * shingle → k-minhash signature → `bands` band keys → explode + groupBy
    * on (band, key) → pairs within buckets → verified n-gram Jaccard ≥
    * threshold. Returns (idA, idB, jaccard) with idA < idB, distinct.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    lshPairsBy(df, idCol, textCol, wordShingles(_, shingleWords), k, bands, threshold,
      sigFn = Some(
        graft.functions.FusedMinHashFunctions.minhashWordShingles(_, shingleWords, k)),
      maxBucket = maxBucket)

  /** [[minhashLshPairs]] under a PORTABLE hash family — the oracle-
    * checkable parameterization of the banding structure. The production
    * path's XXH64 mix (4-lane 32-byte stripes, 64-bit rotations, signed
    * wraparound) is not reasonably ANSI-expressible, which is WHY
    * `d_minhash_pairs` is rows-only; this variant swaps in the repo's
    * portable poly-31 modular fold (the d_quality_clf recipe) for the
    * per-shingle hash — `h1 = fold mod mod1`, stride `h2 = 2·(fold mod
    * mod2) + 1` (odd, so the Kirsch-Mitzenmacher walk never degenerates),
    * `hash_i = h1 + i·h2` — the operator requires the whole family under
    * 2^40 (the defaults land under 2^36; no engine wraps, and a caller
    * composing the hashes further downstream keeps >22 bits of signed
    * headroom). This is deliberately STRICTER than the expression-level
    * 2^62 wrap bound: ~2^31 moduli are also the measured sweet spot —
    * small moduli concentrate per-document MINIMA near zero and flood
    * the buckets with false candidates (measured 4× the verify cost at
    * sf0.1), so nothing is lost by the tighter ceiling. Uses
    * the signature slice STRING as the band key (bit-exact bucket
    * equality; no hash in the key path at all). Everything else is the
    * same algorithm, same bounded-bucket cap, same exact-Jaccard verify —
    * so a green hash-check here certifies the LSH structure itself, and
    * the recall gates cover the production hash family.
    *
    * Scale shape: identical to [[minhashLshPairs]] (one FUSED codegen
    * signature scan — [[graft.functions.PolyMinHash]], zero per-shingle
    * allocation, suite-pinned equal to the interpreted
    * `aggregate(split(s,''))` formulation — one (band, key) exchange,
    * id-join verify). The xxhash family remains the default only for
    * its stronger mixing; this path is 100 TB-shaped too. */
  def minhashLshPairsPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      mod1: Long = 2147483647L,
      mod2: Long = 1073741789L,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    require(mod1 > 0 && mod2 > 0 &&
      BigInt(mod1) + BigInt(k) * (2 * BigInt(mod2) + 1) < (BigInt(1) << 40),
      s"portable hash family must satisfy mod1 + k*(2*mod2+1) < 2^40 " +
        s"(got mod1=$mod1, mod2=$mod2, k=$k) — stricter than the " +
        "expression-level 2^62 wrap bound by design; see scaladoc")
    val rowsPerBand = k / bands
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
    val sig = graft.functions.FusedMinHashFunctions
      .polyMinhashWordShingles(col("text"), shingleWords, k, mod1, mod2)
    val keys = array((0 until bands).map(b =>
      concat_ws(",",
        slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand))): _*)
    val bandRows = base
      .withColumn("__sig", sig)
      .select(col("id"), posexplode(keys).as(Seq("band", "key")))
    val shOf = (c: Column) => wordShingles(c, shingleWords)
    candidatePairs(bandRows, Seq("band", "key"), maxBucket)
      .join(base.select(col("id").as("id_a"), col("text").as("t_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("text").as("t_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(shOf(col("t_a")), shOf(col("t_b"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** LSH near-dup pair search generalized over the shingling function
    * (word n-grams, character n-grams, …). `sigFn`, when given, computes the
    * k-entry MinHash signature straight from the text (the fused
    * [[graft.functions.MinHashShingles]] path — no shingle array in the
    * corpus-wide pass); the default composes `minhashSignature ∘ shingleFn`.
    * `shingleFn` is always what verification uses for exact Jaccard.
    *
    * The corpus-wide signature pass feeds a bucket aggregation directly —
    * it runs once, is never cached, and only (band, key, id) triples ever
    * shuffle. Exact-Jaccard verification re-derives shingles ONLY for
    * candidate rows via id joins against the (id, text) projection. */
  def lshPairsBy(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleFn: Column => Column,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      sigFn: Option[Column => Column] = None,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val rows = k / bands
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
    val signature = sigFn.getOrElse((t: Column) => minhashSignature(shingleFn(t), k))
    val bandRows = base
      .select(col("id"), posexplode(lshBandKeys(signature(col("text")), bands, rows))
        .as(Seq("band", "key")))
    val candidates = candidatePairs(bandRows, Seq("band", "key"), maxBucket)
    candidates
      .join(base.select(col("id").as("id_a"), col("text").as("t_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("text").as("t_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(shingleFn(col("t_a")), shingleFn(col("t_b"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Sampled recall AUDIT for [[minhashLshPairs]] — the production
    * recall monitor: at corpus scale the exact pair truth is
    * uncomputable (that's why LSH exists), so recall is ESTIMATED on a
    * deterministic hash-drawn sample: brute-force exact word-shingle
    * Jaccard among the `sampleN` sampled docs (O(sampleN²), bounded by
    * the audit budget, never the corpus), then check which exact sample
    * pairs the FULL-corpus LSH recovered. Output: the exact sample
    * pairs `(id_a, id_b, jaccard)` — deterministic and oracle-checkable
    * — plus one declarative `recall_ok` gate over the whole set (the
    * e_ann_lsh contract: a recall regression flips every row's flag and
    * fails the hash compare). Vacuously true when the sample holds no
    * qualifying pair.
    *
    * The sample is [[graft.operators.Mixing.sampleExactN]] — nested and
    * corpus-growth-stable, so consecutive audits are comparable. */
  def minhashRecallAudit(df: DataFrame, idCol: String, textCol: String,
      sampleN: Int, shingleWords: Int = 3, threshold: Double = 0.5,
      k: Int = 16, bands: Int = 4, minRecall: Double = 0.9,
      seed: Long = 53L): DataFrame = {
    require(sampleN > 1, s"sampleN must be > 1, got $sampleN")
    require(sampleN <= 100000,
      s"sampleN=$sampleN: the audit sample is driver-bounded by contract " +
        "(it is an audit budget, not a corpus cut)")
    // the sample MATERIALIZES once (bounded driver state, the
    // vocab/quantizer discipline): left lazy, PushProjectionThroughLimit
    // sinks the downstream shingle+hash projection BELOW the sample's
    // limit and the whole corpus gets shingled — twice, once per join
    // side (measured 3.2 s for a 250-doc sample over 5k docs; ~0.3 s
    // materialized)
    val spark = df.sparkSession
    val lazySample = Mixing.sampleExactN(
      df.select(col(idCol).as("id"), col(textCol).as("text")),
      "id", sampleN, seed)
    val rows = lazySample.collect()
    val sample = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq,
        math.max(1, math.min(rows.length / 50 + 1, 64))),
      lazySample.schema)
    // The O(sampleN²) pair stage runs on 8-byte shingle HASHES, not
    // strings: ArrayIntersect/Union keep their atomic fast path and the
    // per-pair cost drops to long hashing (strings measured 9 s for a
    // 400-doc sample at sf0.1; hashes ~1 s). A 64-bit collision WITHIN
    // one pair's shingle sets could perturb a count — probability
    // ~|A|·|B|/2^64 ≈ 1e-15 per pair, far below the audit's sampling
    // noise (the candidate-stage argument from
    // charNgramJaccardExactPairs, here applied to the truth side of an
    // ESTIMATE — the string-exact operator remains minhashLshPairs'
    // verify).
    // |A∩B| via an EQUI-join on the shingle hash + a pair count — never
    // a non-equi pair join: Catalyst pushes a jaccard filter into a
    // BroadcastNestedLoopJoin CONDITION, where array set-ops evaluate
    // interpreted per candidate pair (measured 9 s string / 5.5 s hashed
    // for a 400-doc sample at sf0.1; this shape runs ~2 s). |A∪B| =
    // na + nb − inter; pairs sharing no shingle can't reach any
    // positive threshold, so the equi-join's support is exactly the
    // candidate set.
    val ex = sample
      .select(col("id"),
        array_distinct(transform(
          graft.functions.TextFunctions.wordShingles(col("text"), shingleWords),
          xxhash64(_))).as("sh"))
      .withColumn("n", size(col("sh")))
      .select(col("id"), col("n"), explode(col("sh")).as("g"))
      .repartition(col("g"))
    val exact = ex.select(col("id").as("id_a"), col("n").as("na"), col("g"))
      .join(ex.select(col("id").as("id_b"), col("n").as("nb"), col("g")),
        Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("__inter"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .select(col("id_a"), col("id_b"),
        round(col("__inter").cast("double") /
          (col("na") + col("nb") - col("__inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val lsh = minhashLshPairs(df, idCol, textCol, shingleWords, k, bands,
      threshold).select(col("id_a").as("la"), col("id_b").as("lb"))
    exact.join(lsh, col("id_a") === col("la") && col("id_b") === col("lb"),
        "left")
      .withColumn("__found", when(col("la").isNotNull, 1d).otherwise(0d))
      .withColumn("recall_ok",
        coalesce(avg(col("__found")).over(Window.partitionBy()), lit(1d))
          >= minRecall)
      .select("id_a", "id_b", "jaccard", "recall_ok")
  }

  /** Rows that survive MinHash-LSH dedup. Default (`transitive = false`):
    * drop every row whose id appears as the larger member of a near-dup
    * pair — common practice, but it UNDER-deletes on star-shaped
    * similarity graphs (leaves of a star centered on a big id never appear
    * as a pair's larger member, so several rows of one near-dup cluster
    * survive). `transitive = true` resolves the full similarity graph with
    * [[connectedComponents]] and keeps exactly one row (the min id) per
    * component. */
  def minhashLshDedup(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, k: Int = 16, bands: Int = 4,
      transitive: Boolean = false): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, k = k, bands = bands,
      threshold = threshold)
    val losers =
      if (transitive)
        connectedComponents(pairs).filter(col("id") =!= col("component"))
          .select(col("id").as(idCol))
      else pairs.select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** One MinHash index row per document — the unit a CROSS-BATCH
    * incremental pipeline persists per batch into a signature-history
    * Delta table (the near-dup sibling of the fingerprint history and
    * [[SpanDedup.ownerIndex]]): the k-entry signature plus the banded
    * bucket keys, `(doc_id, sig array<long>, bands
    * array<struct<band,key>>)`. History size is O(docs) · (k + bands)
    * longs — a couple hundred bytes per document at the defaults,
    * orders of magnitude under the text it summarizes. */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"minhashIndex needs bands to divide k exactly; k=$k, bands=$bands " +
      "would silently truncate trailing signature entries and change " +
      "banding recall")
    val rows = k / bands
    val sig = graft.functions.FusedMinHashFunctions
      .minhashWordShingles(col(textCol), shingleWords, k)
    df.select(col(idCol).cast("long").as("doc_id"), sig.as("sig"))
      .withColumn("bands",
        zip_with(sequence(lit(0), lit(bands - 1)),
          lshBandKeys(col("sig"), bands, rows),
          (b, key) => struct(b.cast("int").as("band"), key.as("key"))))
  }

  /** [[minhashAgainstHistory]] reading the persisted index from its
    * table directory — validates the
    * [[graft.state.HistoryFormat.MinhashSignature]] marker BEFORE any
    * probe, so a stale-format index refuses from the operator with the
    * rebuild remedy named. The DataFrame overload cannot know the
    * table's directory; there the CALLER owns the marker check. */
  def minhashAgainstHistoryTable(df: DataFrame, historyDir: String,
      idCol: String, textCol: String, threshold: Double = 0.5,
      shingleWords: Int = 3, k: Int = 16, bands: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashAgainstHistory(df,
      graft.state.HistoryTables.readChecked(df.sparkSession, historyDir,
        graft.state.HistoryFormat.MinhashSignature),
      idCol, textCol, threshold, shingleWords, k, bands, maxBucket)

  /** Batch documents that are near-duplicates of any PRIOR batch's
    * document: band-bucket candidates against the accumulated
    * [[minhashIndex]] history, verified by SIGNATURE agreement — the
    * estimated Jaccard (fraction of equal signature entries) — at
    * `threshold`. Prior batches' TEXT is never touched: the batch
    * variant's exact-Jaccard verify needs both texts, while an
    * incremental pipeline deliberately persists only the O(k) signature
    * per document; the estimate's resolution is 1/k and its std at J=t
    * is sqrt(t(1-t)/k) — raise `k` in the index when the cut must be
    * sharp (both sides must be indexed with the SAME shingleWords/k/
    * bands). Returns distinct `(doc_id, hist_id, est_jaccard)` pairs;
    * callers anti-join `doc_id` to drop the later copies (the
    * fingerprint-history pattern in IncrementalCurationDemo).
    *
    * Scale shape — the history is CUMULATIVE, so the batch drives every
    * history access: exploded history band rows first SEMI-JOIN to the
    * batch's (band, key) set, so only buckets the batch actually probes
    * survive into the cap and the join (the cap still bounds each
    * probed bucket's membership — unprobed buckets are irrelevant by
    * construction); only (id, band, key) triples shuffle; signatures
    * fetch once per surviving candidate side through AQE-splittable
    * equi-joins. */
  def minhashAgainstHistory(df: DataFrame, history: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      shingleWords: Int = 3, k: Int = 16, bands: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"minhashAgainstHistory needs bands to divide k exactly; k=$k, " +
      s"bands=$bands would probe history buckets under a different " +
      "banding than the index was built with")
    val batchIdx = minhashIndex(df, idCol, textCol, shingleWords, k, bands)
    val bb = batchIdx
      .select(col("doc_id"), explode(col("bands")).as("m"))
      .select(col("doc_id"), col("m.band").as("band"), col("m.key").as("key"))
    val hb0 = history
      .select(col("doc_id").as("hist_id"), explode(col("bands")).as("m"))
      .select(col("hist_id"), col("m.band").as("band"), col("m.key").as("key"))
      .join(bb.select("band", "key").distinct(), Seq("band", "key"), "left_semi")
    val hb =
      if (maxBucket > 0) {
        val w = Window.partitionBy("band", "key").orderBy("hist_id")
        hb0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxBucket).drop("__rn")
      } else hb0
    val cands = bb.join(hb, Seq("band", "key"))
      .select("doc_id", "hist_id").distinct()
    val est = round(
      aggregate(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / k, 4)
    cands
      .join(batchIdx.select(col("doc_id"), col("sig").as("sig_a")), Seq("doc_id"))
      .join(history.select(col("doc_id").as("hist_id"), col("sig").as("sig_b")),
        Seq("hist_id"))
      .select(col("doc_id"), col("hist_id"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Connected components over a candidate-pair edge list — the principled
    * cluster resolution for near-dup graphs: returns (id, component) with
    * `component` = the smallest id reachable through any chain of pairs.
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round is two
    * group-by-min + join passes over the edge set, and the edge set
    * contracts toward a star per component in O(log²) rounds — no vertex
    * ever materializes its whole component in memory, which is what lets
    * this run where a `collect`-based union-find cannot.
    *
    * Every round materializes its edge set to parquet under `workDir` and
    * reads it back: iterative DataFrame self-reference otherwise grows the
    * logical plan exponentially (each round references the previous 4×),
    * and a disk round-trip both truncates lineage and keeps nothing pinned
    * in executor storage memory — on a cluster, pass a shared `workDir`
    * (the default JVM temp dir is only visible to a single-node session).
    *
    * Graphs of at most `localLimit` edges resolve with driver union-find
    * instead (suite-gated identical to the distributed rounds) — the
    * broadcast-small-side call, made explicit. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", workDir: Option[String] = None,
      maxIterations: Int = 25, localLimit: Long = 100000): DataFrame = {
    val spark = pairs.sparkSession
    val dir = workDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-cc-").toString)
    val nodes = pairs.select(col(aCol).as("id"))
      .union(pairs.select(col(bCol).as("id"))).distinct()
    var edges = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // Small graphs short-circuit to driver union-find — the same call the
    // optimizer makes when it broadcasts a small join side: a candidate
    // graph under `localLimit` edges is model-sized (MBs), and ~10 rounds
    // of distributed star contraction would cost 30+ job launches to
    // resolve it. The threshold is explicit and 0 disables (tests force
    // the distributed path and assert both agree).
    if (localLimit > 0) {
      val sample = edges.limit((localLimit + 1).toInt).collect()
      if (sample.length <= localLimit) {
        val idType = pairs.schema(aCol).dataType
        val parent = scala.collection.mutable.HashMap.empty[Any, Any]
        def find(x: Any): Any = {
          var r = x
          while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
          r
        }
        def lt(x: Any, y: Any): Boolean =
          x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
        sample.foreach { row =>
          val (a, b) = (row.get(0), row.get(1))
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
        }
        val out = parent.keys.toSeq.map(id =>
          org.apache.spark.sql.Row(id, find(id)))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("__comp", idType)))
        val assign = spark.createDataFrame(
          spark.sparkContext.parallelize(out, 1), schema)
        // seed from `nodes`, not the edge map: ids appearing only in
        // self-pairs have no edge (a =!= b filtered them) but are still
        // their own singleton component — same left-join shape as the
        // distributed path, so both sides of localLimit agree exactly
        return nodes.join(assign, Seq("id"), "left")
          .select(col("id"), coalesce(col("__comp"), col("id")).as("component"))
      }
    }
    var prevSig = (-1L, -1L)
    var converged = false
    var it = 0
    while (!converged && it < maxIterations) {
      it += 1
      val path = s"$dir/iter_$it"
      smallStar(largeStar(edges)).write.mode("overwrite").parquet(path)
      edges = spark.read.parquet(path)
      // edge sets are canonical (b < a, distinct): equal (count, hash-sum)
      // signatures on consecutive rounds mean the contraction is done
      val sigRow = edges.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("a"), col("b"))), lit(0L))).head()
      val sig = (sigRow.getLong(0), sigRow.getLong(1))
      converged = sig == prevSig
      prevSig = sig
    }
    if (!converged)
      throw new graft.core.GraftError(
        s"connected components did not converge in $maxIterations rounds")
    // converged edges form stars: every non-root points straight at its
    // component minimum; roots (and isolated nodes) map to themselves
    val assign = edges.groupBy(col("a").as("id")).agg(min(col("b")).as("__comp"))
    nodes.join(assign, Seq("id"), "left")
      .select(col("id"), coalesce(col("__comp"), col("id")).as("component"))
  }

  /** CROSS-BATCH incremental connected components — the cluster-resolution
    * sibling of the minhash/span/sem histories: fold near-dup candidate
    * edges batch by batch while keeping a persisted `(id, component)`
    * assignment table exactly equal to [[connectedComponents]] over the
    * UNION of every edge seen so far (component = min reachable id).
    *
    * The trick that makes it incremental: a maintained assignment IS a
    * star forest, so the new batch's edges can be translated to
    * REPRESENTATIVE space first (`a → rep(a)`, two broadcast-shaped left
    * joins against the history — coalesce to self for unseen ids) and the
    * expensive star-contraction loop then runs over O(batch) translated
    * edges only — never over the corpus graph. Its output maps touched
    * old representatives to their merged new minimum; that change map is
    * O(components touched by the batch) rows, so the history update is a
    * map-only broadcast-hash left join (`component → coalesce(new, old)`)
    * — the corpus-sized side never shuffles, and unmerged components
    * don't move. Returns the full updated assignment; persist it with an
    * atomic replace (JobState table) or, when the history lives in a
    * component-keyed Delta table, MERGE the change map so stats pruning
    * rewrites only the files that can contain a touched component.
    *
    * Correctness of min-id canonicality under translation: every history
    * representative is the minimum of its component, so the minimum over
    * a set of merged representatives equals the minimum over the union of
    * their members; a NEW id smaller than an old representative enters
    * the translated graph as itself and wins the min the same way. */
  def componentsWithHistory(pairs: DataFrame, history: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      workDir: Option[String] = None, localLimit: Long = 100000): DataFrame =
    componentsWithHistoryAndDelta(pairs, history, aCol, bCol, workDir,
      localLimit)._1

  /** [[componentsWithHistory]] that ALSO returns the assignment's
    * per-fold DELTA — exactly the rows whose assignment this fold
    * changed or created: members of the components the batch's merges
    * touched (the change map's inner join against the history —
    * O(touched-component members) rows, the history side never
    * shuffles) plus the batch's genuinely new ids. The full assignment
    * equals {history with the delta's ids removed} ∪ delta, which is
    * what lets a persisted surface commit the delta as one O(Δ) chunk
    * under a last-writer-wins read instead of rewriting the O(reps)
    * assignment per fold ([[nearDupCanonicalizeIncrementTable]]'s cc
    * chunks). Both frames are lazy — a caller that consumes only one
    * pays only that one (the fold's Table surface writes the delta and
    * never materializes the full table except to compact). */
  private[graft] def componentsWithHistoryAndDelta(pairs: DataFrame,
      history: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      workDir: Option[String] = None, localLimit: Long = 100000)
      : (DataFrame, DataFrame) = {
    val rep = history.select(col("id").as("__rid"), col("component").as("__rc"))
    def translate(c: Column): Column = coalesce(col("__rc"), c)
    val ta = pairs.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .join(rep.withColumnRenamed("__rid", "__a"), Seq("__a"), "left")
      .select(translate(col("__a")).as("ra"), col("__b"))
      .join(rep.withColumnRenamed("__rid", "__b"), Seq("__b"), "left")
      .select(col("ra").as("id_a"), translate(col("__b")).as("id_b"))
    // contraction over translated (representative-space) edges only
    val merged = connectedComponents(ta, "id_a", "id_b", workDir,
      localLimit = localLimit)
    // old rep (or brand-new id) -> merged minimum; identity rows dropped
    // so the change map stays O(touched components) and broadcastable
    val changed = broadcast(merged.filter(col("id") =!= col("component"))
      .select(col("id").as("__old"), col("component").as("__new")))
    val updated = history
      .join(changed.withColumnRenamed("__old", "component"),
        Seq("component"), "left")
      .select(col("id"), coalesce(col("__new"), col("component")).as("component"))
    // batch ids not yet in the history enter with their merged component
    val fresh = merged.select(col("id"), col("component"))
      .join(history.select("id"), Seq("id"), "left_anti")
    // the delta's remap side: the same change-map join, INNER — every
    // matched row's assignment genuinely moved (the change map holds no
    // identity entries), every unmatched row is bit-identical history
    val remapped = history
      .join(changed.withColumnRenamed("__old", "component"),
        Seq("component"), "inner")
      .select(col("id"), col("__new").as("component"))
    (updated.unionByName(fresh), remapped.unionByName(fresh))
  }

  /** Large-star round: every node connects its LARGER neighbors to the
    * minimum of its neighborhood (including itself). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
    val mins = sym.groupBy("a").agg(min("b").as("mb"))
      .select(col("a"), least(col("mb"), col("a")).as("m"))
    sym.join(mins, "a").filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b")).distinct()
  }

  /** Small-star round: every node connects its smaller neighbors (and
    * itself) to the minimum among them. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      .filter(col("b") < col("a"))
    val mins = dir.groupBy("a").agg(min("b").as("m"))
    dir.join(mins, "a")
      .select(col("b").as("n"), col("m")).filter(col("n") =!= col("m"))
      .select(col("n").as("a"), col("m").as("b"))
      .union(mins.select(col("a"), col("m").as("b")))
      .distinct()
  }

  /** SimHash of every row via the codegen'd [[graft.functions.SimHash64Expr]]
    * — one pass per document, no exchange. (Earlier formulations — an
    * interpreted HOF fold, then explode + 64 columnar vote sums — were
    * respectively ~10x slower per row and a full shuffle of the tokenized
    * corpus; the custom expression beats both and is the only shape that
    * holds at 100 TB.) */
  private def simhashByRow(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.SimHashFunctions.simhash(tokens(col(textCol))).as("sh"))

  /** Number of 16-bit blocks the 64-bit SimHash is bucketed on. */
  private[operators] val SimhashBlocks = 4

  /** Near-duplicate pairs by SimHash Hamming distance.
    *
    * Each document enters FOUR buckets — one per 16-bit block of its
    * simhash (Manku et al.'s multi-table trick). A pair differing in ≤ 3
    * bits cannot touch all four disjoint blocks, so recall is exact for
    * Hamming ≤ 3 and high for budgets up to ~16 (a single-prefix bucketing
    * misses any pair whose differing bits hit the prefix — ~1/4 chance per
    * bit). Same one-shuffle shape, 4× the (block, key, id, sh) rows. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame =
    hash64Pairs(simhashByRow(df, idCol, textCol), "id", "sh",
      maxHamming, maxBucket)

  /** Near-dup pairs among PRECOMPUTED 64-bit signatures — the Manku
    * 4-block bucketing factored out of [[simhashPairs]] so any 64-bit
    * perceptual/locality hash (simhash, image dHash, audio fingerprint)
    * shares the one-shuffle pair generation and its Hamming ≤ 3 exact-
    * recall guarantee (a pair differing in ≤ 3 bits cannot touch all
    * four disjoint 16-bit blocks). */
  /** The Manku 4-block bucketing key: `(block, key)` pairs from the four
    * disjoint 16-bit windows of a 64-bit signature — THE shared
    * derivation of hash64Pairs, hash64AgainstHistory, and the
    * truncation diagnostic; a change here changes all three together
    * (the diagnostic must always measure the bucketing the join uses). */
  private[operators] def manku16BlockKeys(h: Column): Column =
    posexplode(array((0 until SimhashBlocks).map(j =>
      shiftrightunsigned(h, 16 * j).bitwiseAND(lit(0xffffL))): _*))

  def hash64Pairs(sigs: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val blockRows = sigs.select(col(idCol).as("id"), col(hashCol).as("sh"))
      .select(col("id"), col("sh"),
        manku16BlockKeys(col("sh")).as(Seq("block", "key")))
    val buckets = boundedBuckets(blockRows, Seq("block", "key"),
      collect_set(struct(col("id"), col("sh"))), maxBucket)
    sortedHammingPairs(buckets, maxHamming)
  }

  /** Shared pair emission of [[hash64Pairs]]/[[hash64PairsWide]]: sort
    * the bucket membership, stream its (i < j) pairs with the exact
    * Hamming verify inside the walk ([[graft.functions.BucketPairs]]), so
    * a hot bucket's C(c, 2) non-matching candidates never become rows;
    * distinct. */
  private def sortedHammingPairs(buckets: DataFrame, maxHamming: Int): DataFrame =
    buckets.select(graft.functions.PairsFunctions
        .hammingPairs(sort_array(col("items")), maxHamming))
      .distinct()

  /** [[simhashPairs]] under the PORTABLE hash family — the
    * oracle-checkable parameterization of the whole SimHash pipeline
    * (the d_minhash_pairs_poly discipline applied to the bit-vote
    * family): per-token 62-bit hashes from two poly-31 folds, the
    * standard ±1 bit votes, the same Manku 4×16-bit-block bucketing and
    * bounded-bucket cap, and the same `bit_count(xor)` Hamming verify —
    * every stage pure integer arithmetic an ANSI engine replays
    * bit-for-bit (production [[simhashPairs]] stays rows-only: its
    * XXH64 token hash is not ANSI-expressible). The Hamming ≤ 3
    * exact-recall pigeonhole holds unchanged (4 disjoint blocks) — and,
    * as with the production path, ONLY for `maxHamming` ≤ 3: a larger
    * budget can distribute its differing bits across all four blocks, so
    * above 3 the emitted pair set is candidate-limited, not exhaustive.
    * Fused codegen signature; identical exchanges to the production
    * path. */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, mod1: Long = 2147483647L,
      mod2: Long = 1073741789L, maxBucket: Int = DefaultMaxBucket)
      : DataFrame =
    hash64Pairs(df.select(col(idCol).as("id"),
        graft.functions.FusedMinHashFunctions
          .polySimhash(col(textCol), mod1, mod2).as("sh")),
      "id", "sh", maxHamming, maxBucket)

  /** Per-combination block widths/offsets for [[hash64PairsWide]]:
    * `blocks` near-equal windows tiling the 64 bits (wider windows
    * first), and every size-`blocks − maxHamming` combination of window
    * positions. Shared by the operator and its tests so the key
    * derivation has exactly one definition. */
  private[graft] def wideBlockLayout(blocks: Int, maxHamming: Int)
      : (Array[Int], Array[Int], Seq[Seq[Int]]) = {
    val widths = Array.tabulate(blocks)(j =>
      64 / blocks + (if (j < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    val combos = (0 until blocks).combinations(blocks - maxHamming)
      .map(_.toSeq).toSeq
    (widths, offsets, combos)
  }

  /** Array of `(combo, key)` structs for ONE signature column under the
    * wide layout — the shared key derivation of [[hash64PairsWide]] and
    * [[hash64AgainstHistoryWide]] (one definition, like
    * `manku16BlockKeys` for the narrow layout). Validates the layout. */
  private[operators] def wideComboKeys(h: Column, blocks: Int,
      maxHamming: Int): Column = {
    require(blocks >= 2 && blocks <= 32,
      s"hash64 wide keys: blocks must be in [2, 32], got $blocks")
    require(maxHamming >= 1 && maxHamming < blocks,
      s"hash64 wide keys: exact recall needs 1 <= maxHamming < blocks " +
        s"(got maxHamming=$maxHamming, blocks=$blocks)")
    val (widths, offsets, combos) = wideBlockLayout(blocks, maxHamming)
    require(combos.head.map(widths(_)).sum <= 63,
      s"hash64 wide keys: packed key would exceed 63 bits — use more " +
        s"blocks or a larger maxHamming (blocks=$blocks, maxHamming=$maxHamming)")
    def blockVal(j: Int): Column =
      shiftrightunsigned(h, offsets(j))
        .bitwiseAND(lit((1L << widths(j)) - 1))
    array(combos.zipWithIndex.map { case (c, ci) =>
      // packed ascending-position fold: b₁·2^(w₂+w₃) + b₂·2^w₃ + b₃ —
      // plain integer arithmetic both engines replay
      val key = c.tail.foldLeft(blockVal(c.head)) { (acc, j) =>
        shiftleft(acc, widths(j)) + blockVal(j)
      }
      struct(lit(ci).as("combo"), key.as("key"))
    }: _*)
  }

  /** WIDE-KEY variant of [[hash64Pairs]] — the measured answer to block
    * key-space saturation (`examples/ScalingCurves`: the 4×16-bit keys'
    * 2¹⁶ space saturates past ~10⁴–10⁵ docs and candidate volume curves
    * toward N²/2¹⁶, slope 1.41 at 5k→40k docs, while output stays
    * linear). Manku et al.'s general construction (WWW'07 §3): split
    * the signature into `blocks` near-equal windows and key each
    * document by every combination of `blocks − maxHamming` windows —
    * a pair within the Hamming budget differs in at most `maxHamming`
    * windows, so the combination consisting of windows BOTH have intact
    * matches, and recall stays EXACT for the budget (no pigeonhole
    * narrowing). The key widens from one window (16 bits) to
    * `(blocks − maxHamming)` windows packed into one long (blocks=6,
    * maxHamming=3 → 32-bit keys, saturation pushed from ~10⁵ to ~10⁹
    * docs) at the price of C(blocks, blocks−maxHamming) keys per doc
    * (20 at 6/3) instead of `blocks` (4) — the standard key-space vs
    * key-count trade, now chosen by a measurement instead of a guess.
    *
    * Same one-exchange shape as [[hash64Pairs]]: explode (combo, key)
    * rows, bounded buckets, sorted-pair explode, exact Hamming verify,
    * distinct. Pair-set equality with [[hash64Pairs]] at the same
    * budget is a suite LAW (both are exact for Hamming ≤ 3 under
    * uncapped buckets — same verified pairs through different keys). */
  def hash64PairsWide(sigs: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, blocks: Int = 6,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val rows = sigs.select(col(idCol).as("id"), col(hashCol).as("sh"))
      .select(col("id"), col("sh"),
        explode(wideComboKeys(col("sh"), blocks, maxHamming)).as("ck"))
      .select(col("id"), col("sh"),
        col("ck.combo").as("combo"), col("ck.key").as("key"))
    val buckets = boundedBuckets(rows, Seq("combo", "key"),
      collect_set(struct(col("id"), col("sh"))), maxBucket)
    sortedHammingPairs(buckets, maxHamming)
  }

  /** [[simhashPairs]] under the wide combination keys — for corpora past
    * the 4×16-bit layout's saturation point (see [[hash64PairsWide]]). */
  def simhashPairsWide(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, blocks: Int = 6,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    hash64PairsWide(simhashByRow(df, idCol, textCol), "id", "sh",
      maxHamming, blocks, maxBucket)

  /** [[simhashPairsPortable]] under the wide combination keys — the
    * oracle-checkable parameterization (every stage integer arithmetic;
    * gated at `d_simhash_pairs_poly_wide`). */
  def simhashPairsPortableWide(df: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 3, blocks: Int = 6,
      mod1: Long = 2147483647L, mod2: Long = 1073741789L,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    hash64PairsWide(df.select(col(idCol).as("id"),
        graft.functions.FusedMinHashFunctions
          .polySimhash(col(textCol), mod1, mod2).as("sh")),
      "id", "sh", maxHamming, blocks, maxBucket)

  /** One SimHash index row per document, `(doc_id, sh)` — the 8-byte
    * unit a cross-batch pipeline persists per batch into a signature
    * history (the bit-level sibling of [[minhashIndex]]); feed batches of
    * these to [[hash64AgainstHistory]]. */
  def simhashIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashByRow(df, idCol, textCol).select(col("id").as("doc_id"), col("sh"))

  /** [[hash64AgainstHistory]] reading the persisted signature index
    * from its table directory — validates the
    * [[graft.state.HistoryFormat.Hash64Signature]] marker BEFORE any
    * probe (operator-enforced; the DataFrame overload leaves the check
    * to the caller, which cannot be avoided without the directory). */
  def hash64AgainstHistoryTable(sigs: DataFrame, historyDir: String,
      idCol: String = "doc_id", hashCol: String = "sh",
      maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame =
    hash64AgainstHistory(sigs,
      graft.state.HistoryTables.readChecked(sigs.sparkSession, historyDir,
        graft.state.HistoryFormat.Hash64Signature),
      idCol, hashCol, maxHamming, maxBucket)

  /** Batch signatures that are near-duplicates (Hamming ≤ `maxHamming`)
    * of any PRIOR batch's signature — the cross-batch incremental stage
    * for EVERY 64-bit locality hash the engine produces (text simhash,
    * image dHash, audio envelope hash), sharing [[hash64Pairs]]'s Manku
    * 4-block bucketing and its Hamming ≤ 3 exact-recall guarantee.
    *
    * RECALL CAVEAT (the [[hash64Pairs]] trade-off): the guarantee holds
    * provided no probed (block, key) bucket exceeds `maxBucket` history
    * rows — beyond it the skew cap keeps the lowest `hist_id`s and true
    * matches can drop. Exact duplicates share one signature, so a hot
    * signature CAN legitimately exceed the cap; screen exact dupes
    * first (the fingerprint-history anti-join pattern,
    * IncrementalCurationDemo), pass `maxBucket = 0` to uncap, or
    * measure the exposure with [[hash64HistoryOversizedBuckets]].
    * `history` carries `(doc_id, sh)` rows ([[simhashIndex]] per batch);
    * returns distinct `(doc_id, hist_id, hamming)`; callers anti-join
    * `doc_id` to drop the later copies.
    *
    * Scale shape — mirrors [[minhashAgainstHistory]]: the cumulative
    * history explodes only after a SEMI-JOIN to the batch's (block, key)
    * set, so just the probed buckets survive into the cap and the join;
    * only (id, block, key) triples shuffle, and the 8-byte signatures ride
    * along — prior batches' media/text bytes are never touched. */
  def hash64AgainstHistory(sigs: DataFrame, history: DataFrame,
      idCol: String = "doc_id", hashCol: String = "sh",
      maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame =
    hash64ProbeImpl(sigs, history, idCol, hashCol, maxHamming, maxBucket,
      keyed = (df, id) => df.select(col(id), col("__h"),
        manku16BlockKeys(col("__h")).as(Seq("block", "key"))),
      keyCols = Seq("block", "key"))

  /** The shared semi-join-first probe body of [[hash64AgainstHistory]]
    * and [[hash64AgainstHistoryWide]] — ONE definition of the probe
    * discipline (explode keys on both sides, semi-join the history's
    * key rows to the batch's key set, cap per bucket keeping lowest
    * hist_ids, join, exact Hamming verify, distinct), parameterized on
    * the keying function so a future probe fix applies to both layouts
    * by construction. */
  private def hash64ProbeImpl(sigs: DataFrame, history: DataFrame,
      idCol: String, hashCol: String, maxHamming: Int, maxBucket: Int,
      keyed: (DataFrame, String) => DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val bb = keyed(sigs.select(col(idCol).as("doc_id"),
      col(hashCol).as("__h")), "doc_id")
    val hb0 = keyed(history.select(col(idCol).as("hist_id"),
      col(hashCol).as("__h")), "hist_id")
      .join(bb.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
    val hb =
      if (maxBucket > 0) {
        val w = Window.partitionBy(keyCols.map(col): _*).orderBy("hist_id")
        hb0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxBucket).drop("__rn")
      } else hb0
    bb.join(hb.withColumnRenamed("__h", "__hh"), keyCols)
      .select(col("doc_id"), col("hist_id"),
        hamming64(col("__h"), col("__hh")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** [[hash64AgainstHistory]] under the WIDE combination keys — the
    * [[hash64PairsWide]] fix applied where it matters most: the
    * ACCUMULATED history is the table that actually reaches 10⁸–10⁹
    * signatures, and the narrow probe's 16-bit block keys saturate
    * there (unrelated history rows pass the semi-join and pay the cap
    * + join per batch; measured drift already at 40k sigs —
    * ScalingCurves). 3-of-6 combination keys push saturation to ~10⁹
    * while recall stays EXACT for Hamming ≤ `maxHamming` < `blocks`
    * (wide == narrow found-pair LAW, suite-pinned).
    *
    * The key derivation happens AT PROBE TIME from the same 8-byte
    * signatures, so the persisted history table and its
    * [[graft.state.HistoryFormat.Hash64Signature]] marker are
    * UNCHANGED — narrow and wide probes read one history; switching is
    * a call-site choice, not a rebuild. Same semi-join-first shape:
    * the history explodes its C(6,3)=20 keys only to semi-join against
    * the batch's key set, so 5× the narrow layout's exploded rows
    * (still 16-byte units) buy a 2³²-sized key space. Measured trade
    * (ScalingCurves, warmed + uncapped): found pairs identical at
    * every size; the wide probe pays its 5× key scan (wall slope 0.57
    * vs the narrow probe's 0.03 at 5k–40k sigs) while holding
    * candidates EXACTLY constant where the narrow's drift — keep the
    * narrow probe below ~10⁷ signatures and switch once saturation's
    * false candidates (which pay cap + join + verify, not just scan)
    * dominate. */
  def hash64AgainstHistoryWide(sigs: DataFrame, history: DataFrame,
      idCol: String = "doc_id", hashCol: String = "sh",
      maxHamming: Int = 3, blocks: Int = 6,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    hash64ProbeImpl(sigs, history, idCol, hashCol, maxHamming, maxBucket,
      keyed = (df, id) => df
        .select(col(id), col("__h"),
          explode(wideComboKeys(col("__h"), blocks, maxHamming)).as("ck"))
        .select(col(id), col("__h"),
          col("ck.combo").as("combo"), col("ck.key").as("key")),
      keyCols = Seq("combo", "key"))

  /** [[hash64AgainstHistoryWide]] reading the persisted signature index
    * from its table directory (marker-enforced — the SAME
    * [[graft.state.HistoryFormat.Hash64Signature]] marker as the narrow
    * probe: wide keys derive at probe time, no history rebuild). */
  def hash64AgainstHistoryWideTable(sigs: DataFrame, historyDir: String,
      idCol: String = "doc_id", hashCol: String = "sh",
      maxHamming: Int = 3, blocks: Int = 6,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    hash64AgainstHistoryWide(sigs,
      graft.state.HistoryTables.readChecked(sigs.sparkSession, historyDir,
        graft.state.HistoryFormat.Hash64Signature),
      idCol, hashCol, maxHamming, blocks, maxBucket)

  /** What [[hash64PairsAuto]]/[[hash64AgainstHistoryAuto]] measured and
    * chose. The candidate counts are EXACT pre-verify join volumes for
    * each layout on THIS data (not estimates): for pairs, Σ c·(c−1)/2
    * over the layout's buckets; for the history probe, Σ b·h over the
    * keys the batch actually probes. The key-row counts are the
    * exploded rows each layout must exchange/scan. `useWide` follows
    * the cost model `keyRows + candidates` — a candidate row costs AT
    * LEAST a key row (it additionally pays the cap, the join build,
    * and the Hamming verify), so charging them equally is conservative
    * in favor of the narrow layout. */
  case class Hash64LayoutDecision(useWide: Boolean,
      narrowCandidates: Long, wideCandidates: Long,
      narrowKeyRows: Long, wideKeyRows: Long) {
    def chosen: String = if (useWide) "wide" else "narrow"
    /** How far the winning side won, in rows: positive = wide cheaper. */
    def margin: Long =
      (narrowKeyRows + narrowCandidates) - (wideKeyRows + wideCandidates)
  }

  /** An auto-selected result: the pair/probe frame plus the measured
    * decision that picked its keying layout (surfaced in the result —
    * a silent selector would make the plan unexplainable). */
  case class Hash64AutoResult(result: DataFrame,
      decision: Hash64LayoutDecision)

  private[operators] lazy val selectorLog =
    org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")

  /** One structured log line per auto-selection, LoggingObserver-style
    * `key=value` — so a production run's driver log EXPLAINS the plan
    * it chose (which layout, both measured cost totals, the margin)
    * without the caller having to thread the decision anywhere. The
    * same entry lands in [[graft.core.StageMetadata]], which the
    * Pipeline drains into `PipelineObserver.onStageEnd` metadata — the
    * run's STRUCTURED event stream carries the decision too. */
  private[operators] def logLayoutDecision(op: String,
      d: Hash64LayoutDecision): Unit = {
    val detail = s"op=$op chosen=${d.chosen} " +
      s"narrow_cost=${d.narrowKeyRows + d.narrowCandidates} " +
      s"wide_cost=${d.wideKeyRows + d.wideCandidates} " +
      s"margin=${d.margin}"
    selectorLog.info(s"event=hash64_layout $detail")
    graft.core.StageMetadata.put("hash64_layout", detail)
  }

  /** Exact per-layout `(keyRows, Σ c·(c−1))` over the buckets `keyOf`
    * induces (the second term is twice the within-bucket pair count) in
    * ONE counts-only partial-agg'd job — the candidate volume each
    * layout WOULD pay, measured without paying it (no collect_set, no
    * pair explode, no verify), and the exploded key-row count derived
    * from the SAME aggregation (Σ c over buckets == keys-per-doc · N by
    * construction) instead of a separate count() job: the selector's
    * fixed cost is two jobs total, not four. */
  private def pairLayoutCosts(base: DataFrame,
      keyOf: Column => Column, keyNames: Seq[String]): (Long, Long) = {
    val r = base.select(keyOf(col("sh")).as(keyNames))
      .groupBy(keyNames.map(col): _*).count()
      .agg(coalesce(sum(col("count")), lit(0L)),
        coalesce(sum(col("count") * (col("count") - 1)), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** MEASURED narrow-vs-wide selection for [[hash64Pairs]] — the
    * saturation crossover is a property of the corpus (template-heavy
    * corpora flood the 4×16-bit buckets orders of magnitude before a
    * uniform corpus does — ScalingCurves measured 76M narrow candidates
    * at 40k docs where a uniform model predicts ~10⁵), so a fixed
    * doc-count threshold is a guess. This derives both layouts' EXACT
    * candidate volumes from counts-only aggregations over the same key
    * derivations the joins use (4·N and C(blocks,blocks−h)·N exploded
    * key rows, partial-agg'd map-side — strictly cheaper than running
    * the WRONG layout, which pays its candidate volume through the cap,
    * the join, and the verify) and picks the layout minimizing
    * `keyRows + candidates`.
    *
    * Sound ONLY where the two layouts agree: requires
    * `maxHamming ≤ 3` (both layouts exact — the pigeonhole for narrow,
    * the combination construction for wide), so the selection is a pure
    * performance choice, never a semantics choice. Under a `maxBucket`
    * cap the layouts may truncate DIFFERENT oversized buckets; the
    * decision is still the right cost call — the cap changes which
    * candidates survive, not how many arrive. Evaluates `sigs` once
    * per layout estimate plus once in the chosen operator — cache the
    * signature frame if its lineage is expensive. */
  def hash64PairsLayoutDecision(sigs: DataFrame,
      hashCol: String, maxHamming: Int = 3, blocks: Int = 6)
      : Hash64LayoutDecision = {
    require(maxHamming >= 1 && maxHamming < SimhashBlocks,
      s"hash64 auto keying: both layouts are exact (and therefore " +
        s"interchangeable) only for maxHamming < $SimhashBlocks, got " +
        s"$maxHamming — past that the narrow pair set is candidate-" +
        "limited and the layouts answer different questions")
    val base = sigs.select(col(hashCol).as("sh"))
    val (nKeyRows, narrow2) = pairLayoutCosts(base,
      h => manku16BlockKeys(h), Seq("block", "key"))
    val (wKeyRows, wide2) = pairLayoutCosts(base,
      h => posexplode(wideComboKeys(h, blocks, maxHamming)),
      Seq("combo", "ck"))
    decide(narrow2 / 2, wide2 / 2, nKeyRows, wKeyRows)
  }

  private[operators] def decide(narrowCand: Long, wideCand: Long,
      narrowKeyRows: Long, wideKeyRows: Long): Hash64LayoutDecision =
    Hash64LayoutDecision(
      useWide = narrowKeyRows + narrowCand > wideKeyRows + wideCand,
      narrowCandidates = narrowCand, wideCandidates = wideCand,
      narrowKeyRows = narrowKeyRows, wideKeyRows = wideKeyRows)

  /** [[hash64Pairs]]/[[hash64PairsWide]] behind the measured selector:
    * runs [[hash64PairsLayoutDecision]] and delegates to the cheaper
    * layout, returning the frame AND the decision. Equal to the chosen
    * layout BIT-FOR-BIT by construction (suite LAW on both sides of
    * the crossover) — the selector may only change cost, never pairs
    * (both layouts exact for the required `maxHamming ≤ 3`; under a
    * bucket cap, each layout's own documented truncation applies). */
  def hash64PairsAuto(sigs: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, blocks: Int = 6,
      maxBucket: Int = DefaultMaxBucket,
      materialize: DataFrame => DataFrame = identity): Hash64AutoResult = {
    // the selector evaluates `sigs` once per layout estimate plus once
    // in the chosen operator — `materialize` (default: leave the plan
    // alone) lets callers with an expensive signature derivation cut
    // the lineage once here instead of paying it three times (the
    // family's probe does exactly that; lineage-only, never rows)
    val s = materialize(sigs)
    val d = hash64PairsLayoutDecision(s, hashCol, maxHamming, blocks)
    logLayoutDecision("hash64PairsAuto", d)
    Hash64AutoResult(
      if (d.useWide)
        hash64PairsWide(s, idCol, hashCol, maxHamming, blocks, maxBucket)
      else hash64Pairs(s, idCol, hashCol, maxHamming, maxBucket), d)
  }

  /** Exact per-layout `(keyRows, candidateVolume)` for the HISTORY
    * probe in ONE counts-only job: candidates = Σ b·h over the keys
    * both sides share (the rows that would survive the semi-join and
    * pay the cap + join + verify), key rows = Σ b + Σ h from the same
    * full-outer-joined count frames (== keys-per-doc · rows by
    * construction — no separate count() jobs). The history's text/media
    * bytes are never touched. */
  private def probeLayoutCosts(batch: DataFrame, history: DataFrame,
      keyOf: Column => Column, keyNames: Seq[String]): (Long, Long) = {
    def counts(df: DataFrame, as: String) =
      df.select(keyOf(col("sh")).as(keyNames))
        .groupBy(keyNames.map(col): _*).agg(count(lit(1)).as(as))
    val r = counts(batch, "b").join(counts(history, "h"), keyNames,
        "full_outer")
      .agg(coalesce(sum(col("b")), lit(0L)),
        coalesce(sum(col("h")), lit(0L)),
        coalesce(sum(col("b") * col("h")), lit(0L)))
      .collect()(0)
    (r.getLong(0) + r.getLong(1), r.getLong(2))
  }

  /** MEASURED narrow-vs-wide selection for [[hash64AgainstHistory]] —
    * the accumulated history is where saturation actually bites (it is
    * the side that reaches 10⁸–10⁹ signatures), and the crossover
    * depends on how hard the batch's keys flood the history's buckets,
    * a property of BOTH tables. Cost model per layout:
    * `keyRows(batch + history) + Σ b·h over shared keys`; the Σ b·h
    * terms are exact counts-only measurements (see
    * [[hash64PairsLayoutDecision]] for why a candidate row is charged
    * conservatively at one key row). Same `maxHamming ≤ 3` equivalence
    * domain. */
  def hash64HistoryLayoutDecision(sigs: DataFrame, history: DataFrame,
      idCol: String = "doc_id", hashCol: String = "sh",
      maxHamming: Int = 3, blocks: Int = 6): Hash64LayoutDecision = {
    require(maxHamming >= 1 && maxHamming < SimhashBlocks,
      s"hash64 auto keying: both layouts are exact (and therefore " +
        s"interchangeable) only for maxHamming < $SimhashBlocks, got " +
        s"$maxHamming")
    val b = sigs.select(col(hashCol).as("sh"))
    val h = history.select(col(hashCol).as("sh"))
    val (nKeyRows, narrowCand) = probeLayoutCosts(b, h,
      c => manku16BlockKeys(c), Seq("block", "key"))
    val (wKeyRows, wideCand) = probeLayoutCosts(b, h,
      c => posexplode(wideComboKeys(c, blocks, maxHamming)),
      Seq("combo", "ck"))
    decide(narrowCand, wideCand, nKeyRows, wKeyRows)
  }

  /** [[hash64AgainstHistory]]/[[hash64AgainstHistoryWide]] behind the
    * measured selector (same contract as [[hash64PairsAuto]]: the
    * result is bit-for-bit the chosen layout's, the decision rides in
    * the result, and ONE persisted history serves both layouts — keys
    * derive at probe time, so the selector never forces a rebuild). */
  def hash64AgainstHistoryAuto(sigs: DataFrame, history: DataFrame,
      idCol: String = "doc_id", hashCol: String = "sh",
      maxHamming: Int = 3, blocks: Int = 6,
      maxBucket: Int = DefaultMaxBucket,
      materialize: DataFrame => DataFrame = identity): Hash64AutoResult = {
    // same contract as hash64PairsAuto's materialize: each side is
    // consumed by its layout estimate and by the chosen probe — cut
    // expensive lineage once (default: leave the plan alone)
    val (s, h) = (materialize(sigs), materialize(history))
    val d = hash64HistoryLayoutDecision(s, h, idCol, hashCol,
      maxHamming, blocks)
    logLayoutDecision("hash64AgainstHistoryAuto", d)
    Hash64AutoResult(
      if (d.useWide)
        hash64AgainstHistoryWide(s, h, idCol, hashCol, maxHamming,
          blocks, maxBucket)
      else hash64AgainstHistory(s, h, idCol, hashCol, maxHamming,
        maxBucket), d)
  }

  /** [[hash64AgainstHistoryAuto]] reading the persisted signature index
    * from its table directory (marker-enforced, like the narrow/wide
    * table probes — the same
    * [[graft.state.HistoryFormat.Hash64Signature]] marker serves every
    * layout).
    *
    * When a [[Hash64Counts]] cache sits beside the index
    * (`_graft_hash64_counts/`, bootstrapped by
    * [[Hash64Counts.rebuild]] and folded per batch by
    * [[Hash64Counts.fold]]), the decision reads the HISTORY side's
    * volumes from the persisted pre-aggregated counts and measures only
    * the batch — one decision job instead of two O(history) signature
    * scans; the counts' row-count tripwire self-heals any staleness
    * with a lossless rebuild. Without the cache, falls back to the
    * direct measurement. Decision and result are bit-identical either
    * way (suite law) — the cache changes decision COST only. */
  def hash64AgainstHistoryAutoTable(sigs: DataFrame, historyDir: String,
      idCol: String = "doc_id", hashCol: String = "sh",
      maxHamming: Int = 3, blocks: Int = 6,
      maxBucket: Int = DefaultMaxBucket): Hash64AutoResult = {
    val hist = graft.state.HistoryTables.readChecked(sigs.sparkSession,
      historyDir, graft.state.HistoryFormat.Hash64Signature)
    val conf = sigs.sparkSession.sparkContext.hadoopConfiguration
    val cd = Hash64Counts.countsDirFor(historyDir)
    if (Hash64Counts.exists(conf, cd)) {
      val hc = Hash64Counts.ensure(sigs.sparkSession, cd,
        hist.select(col(hashCol)), hashCol, blocks, maxHamming)
      val d = Hash64Counts.decision(sigs.select(col(hashCol)), hc,
        hashCol, blocks, maxHamming)
      logLayoutDecision("hash64AgainstHistoryAutoTable", d)
      Hash64AutoResult(
        if (d.useWide)
          hash64AgainstHistoryWide(sigs, hist, idCol, hashCol, maxHamming,
            blocks, maxBucket)
        else hash64AgainstHistory(sigs, hist, idCol, hashCol, maxHamming,
          maxBucket), d)
    } else hash64AgainstHistoryAuto(sigs, hist, idCol, hashCol, maxHamming,
      blocks, maxBucket)
  }

  /** Truncation exposure of [[hash64AgainstHistory]]'s skew cap: the
    * count of PROBED history (block, key) buckets holding more than
    * `maxBucket` rows — each is a bucket where the cap may have dropped
    * true matches (see the RECALL CAVEAT above). Zero means the run's
    * exact-recall guarantee held unconditionally. An eager action (the
    * [[oversizedBuckets]] discipline): call from tests, maintenance, or
    * an observability hook, not the hot path. */
  def hash64HistoryOversizedBuckets(sigs: DataFrame, history: DataFrame,
      idCol: String = "doc_id", hashCol: String = "sh",
      maxBucket: Int = DefaultMaxBucket): Long = {
    if (maxBucket <= 0) return 0L
    def blocks(df: DataFrame, id: String): DataFrame =
      df.select(col(id), col("__h"),
        manku16BlockKeys(col("__h")).as(Seq("block", "key")))
    val probed = blocks(sigs.select(col(idCol).as("doc_id"),
      col(hashCol).as("__h")), "doc_id").select("block", "key").distinct()
    blocks(history.select(col(idCol).as("hist_id"),
      col(hashCol).as("__h")), "hist_id")
      .join(probed, Seq("block", "key"), "left_semi")
      .groupBy("block", "key").count()
      .filter(col("count") > maxBucket)
      .count()
  }

  /** N-gram Jaccard near-dup pairs, LSH-bucketed by minhash so the
    * all-pairs comparison never materializes. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.4): DataFrame =
    minhashLshPairs(df, idCol, textCol, shingleWords = n, threshold = threshold)

  /** Embedding-cosine near-duplicate pairs — exact all-pairs baseline.
    * O(N²/2) comparisons of codegen'd double-precision cosines: the
    * correctness reference (ANSI-SQL-expressible, oracle-gated) for the
    * bucketed variant below. Returns (id_a, id_b, cosine≥threshold),
    * id_a < id_b, cosine rounded to 4. */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("va"), col("vb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SRP-bucketed embedding near-dup pairs — the 100 TB path: candidates
    * only meet inside an LSH bucket (one shuffle on the bucket key, never
    * all-pairs), then exact cosine verification against the raw vectors.
    * Misses possible by design; `planes` trades recall for bucket size.
    * Empty input (or all-null vectors) returns an empty frame rather than
    * failing dimensionality inference. */
  def embeddingCosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 8, dims: Int = 0,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // sample a NON-NULL vector for dimensionality (a sampled null would
    // mistake a live corpus for empty and silently return zero pairs)
    val d =
      if (dims > 0) dims
      else base.filter(col("v").isNotNull)
        .select(size(col("v"))).limit(1).collect() match {
        case rows if rows.isEmpty =>
          return base.select(col("id").as("id_a"), col("id").as("id_b"),
            lit(0d).as("cosine")).limit(0)
        case rows => rows(0).getInt(0)
      }
    val bucketRows = base
      .select(col("id"), Similarity.srpBucket(col("v"), planes, d).as("bucket"))
    val candidates = candidatePairs(bucketRows, Seq("bucket"), maxBucket)
    candidates
      .join(base.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("va"), col("vb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * semantic near-dup pairs bounded by spherical k-means clusters —
    * candidates only meet INSIDE a cluster, then exact cosine verifies
    * against the raw vectors. The complement to [[embeddingCosinePairsLsh]]
    * when the corpus is genuinely clustered: a trained quantizer shapes
    * buckets to the data's actual modes, where fixed SRP planes cut
    * clusters arbitrarily.
    *
    * Cost shape at 100 TB: the k-means model is O(nlist·dims) driver
    * state trained by [[Similarity.trainIvfCentroids]]'s one-shuffle
    * iterations; assignment is a per-row argmax against the literal
    * model (no explode, no shuffle); pairing is the shared
    * bounded-bucket machinery (membership capped at `maxBucket` before
    * aggregation); verification touches candidate vectors only. Misses
    * happen when a near-dup pair straddles a cluster boundary — the
    * paper accepts this by design; the suite gates recall on a corpus
    * with planted clusters.
    *
    * Same output contract as the other pair operators:
    * (id_a < id_b, cosine rounded to 4) at `threshold`. */
  def semDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 64, iterations: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    val model = Similarity.trainIvfCentroids(df, idCol, vecCol, nlist,
      iterations)
    if (model.isEmpty)
      return base.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0d).as("cosine")).limit(0)
    val normed = Similarity.l2NormalizeModel(model)
    val bucketRows = base.select(col("id"),
      Similarity.nearestCentroid(col("v"), normed).as("bucket"))
    val candidates = candidatePairs(bucketRows, Seq("bucket"), maxBucket)
    candidates
      .join(base.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("va"), col("vb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** One semantic-index row per document — the unit a CROSS-BATCH
    * incremental pipeline persists per batch into an embedding-history
    * Delta table (the semantic sibling of the fingerprint history,
    * [[SpanDedup.ownerIndex]], and [[minhashIndex]]): `(doc_id,
    * v array<float>, bucket int)`, the raw embedding plus its cluster
    * under a FIXED trained quantizer ([[Similarity.trainIvfCentroids]]
    * persisted via [[Similarity.saveQuantizer]] — train once on early
    * batches, probe every later batch with the SAME model so bucket ids
    * stay comparable across batches). History size is O(docs · dims)
    * floats — the embedding store a SemDeDup pipeline keeps anyway
    * (arXiv:2303.09540 verifies candidate cosines against raw
    * embeddings). */
  def semDedupIndex(df: DataFrame, idCol: String, vecCol: String,
      quantizer: Array[Array[Float]]): DataFrame = {
    require(quantizer.nonEmpty, "semDedupIndex needs a trained quantizer")
    val normed = Similarity.l2NormalizeModel(quantizer)
    df.select(col(idCol).cast("long").as("doc_id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
      .withColumn("bucket", Similarity.nearestCentroid(col("v"), normed))
  }

  /** [[semDedupAgainstHistory]] reading the persisted cluster-assignment
    * index from its table directory — validates the
    * [[graft.state.HistoryFormat.ClusterAssignment]] marker BEFORE any
    * probe (operator-enforced; the DataFrame overload leaves the check
    * to the caller). `histFilter` narrows the history AFTER the checked
    * read (e.g. `batch_id < current` in a replay-safe pipeline). */
  def semDedupAgainstHistoryTable(df: DataFrame, historyDir: String,
      idCol: String, vecCol: String, threshold: Double,
      quantizer: Array[Array[Float]],
      maxBucket: Int = DefaultMaxBucket,
      histFilter: DataFrame => DataFrame = identity): DataFrame =
    semDedupAgainstHistory(df,
      histFilter(graft.state.HistoryTables.readChecked(df.sparkSession,
        historyDir, graft.state.HistoryFormat.ClusterAssignment)),
      idCol, vecCol, threshold, quantizer, maxBucket)

  /** Batch documents that are SEMANTIC near-duplicates of any PRIOR
    * batch's document: batch embeddings assign to clusters under the
    * same persisted quantizer the history was indexed with, candidates
    * meet inside a cluster, and exact cosine verifies against the
    * history's raw vectors at `threshold`. Completes the incremental
    * dedup family's fourth granularity (exact → span → near-dup →
    * semantic). Returns distinct `(doc_id, hist_id, cosine)`; callers
    * anti-join `doc_id` (the fingerprint-history pattern).
    *
    * Scale shape — the history is CUMULATIVE, so the batch drives every
    * history access: history rows first SEMI-JOIN to the batch's
    * cluster set (the batch side is the small one — Catalyst
    * broadcasts it; only clusters the batch actually probes survive),
    * then each probed cluster's membership is CAPPED at `maxBucket`
    * before the pair join, so a mega-cluster can neither OOM nor
    * near-cross-join. The quantizer is an O(nlist·dims) literal in the
    * plan — no join, no shuffle for assignment. Misses happen when a
    * near-dup pair straddles a cluster boundary, exactly as in-batch
    * [[semDedupPairs]] accepts by design. */
  def semDedupAgainstHistory(df: DataFrame, history: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      quantizer: Array[Array[Float]],
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(quantizer.nonEmpty,
      "semDedupAgainstHistory needs the SAME trained quantizer the " +
      "history was indexed with (Similarity.loadQuantizer)")
    val batch = semDedupIndex(df, idCol, vecCol, quantizer)
    val hb0 = history
      .select(col("doc_id").as("hist_id"), col("v").as("vh"), col("bucket"))
      .join(batch.select("bucket").distinct(), Seq("bucket"), "left_semi")
    val hb =
      if (maxBucket > 0) {
        val w = Window.partitionBy("bucket").orderBy("hist_id")
        hb0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxBucket).drop("__rn")
      } else hb0
    batch.join(hb, Seq("bucket"))
      .select(col("doc_id"), col("hist_id"),
        round(Similarity.cosine(col("v"), col("vh")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /** Keep-one SemDeDup: rows whose embedding is a semantic duplicate of
    * a smaller-id row are dropped ([[semDedupPairs]] edges; `transitive`
    * resolves duplicate CHAINS with connected components, like
    * [[minhashLshDedup]]). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 64, iterations: Int = 4,
      transitive: Boolean = false): DataFrame = {
    val pairs = semDedupPairs(df, idCol, vecCol, threshold, nlist, iterations)
    val losers =
      if (transitive)
        connectedComponents(pairs).filter(col("id") =!= col("component"))
          .select(col("id").as(idCol))
      else pairs.select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Copy/quotation candidate pairs by winnowing fingerprints
    * ([[graft.functions.Winnowing]] — MOSS): documents sharing ANY
    * selected k-gram fingerprint meet in a bucket (guaranteed whenever
    * they share >= w+k-1 bytes of text), then the pair is verified by
    * fingerprint-set Jaccard. Finds verbatim overlap that shingle-Jaccard
    * dilutes away on long documents — the complementary near-dup signal a
    * training-data pipeline needs for quotation/boilerplate detection.
    *
    * Fingerprints shared by more than `maxDf` documents are DROPPED, not
    * truncated — a k-gram occurring corpus-wide (boilerplate, stop
    * phrases) identifies nothing, and its bucket is pure quadratic noise
    * (MOSS filters common fingerprints the same way). The filter rides
    * the one bucket aggregation: membership collection is bounded at
    * maxDf+1, so the buffer stays bounded AND the drop is exact.
    *
    * A candidate pair must co-occur in at least `minShared` fingerprint
    * buckets before (comparatively expensive) verification — one shared
    * 16-gram is usually a chance collision; a real quotation spans
    * several windows. minShared = 1 restores the strict w+k-1 guarantee;
    * the default 2 requires roughly w+k-1+w shared bytes. */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 32, threshold: Double = 0.2,
      maxDf: Int = 32, minShared: Int = 2): DataFrame = {
    import graft.functions.WinnowingFunctions.winnowFingerprints
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
    val fpRows = base.select(col("id"),
      explode(winnowFingerprints(col("text"), k, w)).as("fp"))
    val buckets = boundedBuckets(fpRows, Seq("fp"), collect_set(col("id")),
        maxBucket = maxDf + 1)
      .filter(size(col("items")) <= maxDf) // common fingerprint -> noise, drop
    val candidates = buckets
      .select(graft.functions.PairsFunctions.idPairs(sort_array(col("items"))))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minShared).drop("__shared")
    candidates
      .join(base.select(col("id").as("id_a"), col("text").as("t_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("text").as("t_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(winnowFingerprints(col("t_a"), k, w),
          winnowFingerprints(col("t_b"), k, w)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Character n-gram Jaccard near-dup pairs (robust to word-boundary
    * noise), LSH-bucketed like the word-shingle variant. */
  def charNgramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.4,
      k: Int = 16, bands: Int = 8,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    lshPairsBy(df, idCol, textCol, charNgrams(_, n), k, bands, threshold,
      sigFn = Some(graft.functions.FusedMinHashFunctions.minhashCharNgrams(_, n, k)),
      maxBucket = maxBucket)

  /** Benchmark DECONTAMINATION: corpus documents sharing at least
    * `minShared` distinct character n-grams with any document of a
    * benchmark/eval set — the standard pretraining-data hygiene pass that
    * drops training documents contaminated with test data. Exact (no
    * banding): every (corpus doc, benchmark doc, shared-gram count)
    * with count ≥ `minShared` is returned.
    *
    * Scale shape: the benchmark side is SMALL by nature (eval sets are
    * thousands of docs against a 100 TB corpus), so its distinct gram
    * index is broadcast — the corpus streams through a broadcast join and
    * NEVER shuffles; only (corpus_id, bench_id) pair counts aggregate.
    * The candidate join runs on 8-byte `xxhash64` gram hashes (a ~3×
    * smaller broadcast map and a fixed-width probe instead of a string
    * compare); since equal grams always hash equal, the candidate pair
    * set is a superset of the true result, and a second pass re-counts
    * the CANDIDATE corpus docs' grams against the benchmark's gram
    * STRINGS — emitted counts are exact (collision-proof), so an ANSI
    * oracle mirrors the result. The verify scan is semi-join-filtered to
    * candidate docs BEFORE exploding, so its cost tracks the (tiny)
    * contaminated fraction, not the corpus. The match volume is
    * Σ_g corpusDf(g)·benchDf(g): natural-language n of 12+ keeps it near
    * the true-contamination count (the GPT-3-style 13-gram
    * decontamination argument), but template-heavy corpora can blow it up
    * through corpus-wide grams — `maxDf > 0` drops grams whose hash is
    * present in more than `maxDf` CORPUS documents first (approximate: a
    * pair whose every shared gram is that hot is missed; such overlap is
    * template noise, not contamination). 0 (default) = exact. */
  def ngramContamination(corpus: DataFrame, corpusId: String, corpusText: String,
      bench: DataFrame, benchId: String, benchText: String,
      n: Int = 12, minShared: Int = 2, maxDf: Int = 0): DataFrame = {
    import graft.functions.CharNgramFunctions.charNgramsDistinct
    def grams(df: DataFrame, id: String, text: String, idAs: String) =
      df.select(col(id).as(idAs),
        explode(charNgramsDistinct(col(text), n)).as("g"))
    // hash IN PLACE over the text buffer (CharNgramHashesExpr) so only
    // 8-byte longs enter the explode — the corpus-wide candidate pass
    // never allocates a gram string
    def gramHashes(df: DataFrame, id: String, text: String, idAs: String) =
      df.select(col(id).as(idAs),
        explode(graft.functions.CharNgramHashFunctions
          .charNgramHashesDistinct(col(text), n)).as("gh"))
    val corpusH = gramHashes(corpus, corpusId, corpusText, "corpus_id")
    val hotHashes =
      if (maxDf <= 0) None
      else Some(corpusH.groupBy("gh").agg(count(lit(1)).as("df0"))
        .filter(col("df0") > maxDf).select("gh"))
    val keptH = hotHashes.map(h => corpusH.join(h, Seq("gh"), "left_anti"))
      .getOrElse(corpusH)
    // candidate pass: hash-only broadcast + probe; collisions can only ADD
    // candidate pairs, never lose one
    val candidates = keptH
      .join(broadcast(gramHashes(bench, benchId, benchText, "bench_id")),
        Seq("gh"))
      .groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("sh"))
      .filter(col("sh") >= minShared)
    // verify pass: exact gram strings, but only for docs that produced a
    // candidate pair — any true pair's doc is in this set, so the output
    // equals the all-strings join exactly
    val candDocs = corpus.join(
      broadcast(candidates.select(col("corpus_id"))),
      col(corpusId) === col("corpus_id"), "left_semi")
    val candGrams = grams(candDocs, corpusId, corpusText, "corpus_id")
    val candKept = hotHashes
      .map(h => candGrams.join(h, xxhash64(col("g")) === col("gh"), "left_anti"))
      .getOrElse(candGrams)
    candKept
      .join(broadcast(grams(bench, benchId, benchText, "bench_id")), Seq("g"))
      .groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
  }

  /** Per-document NOVELTY against a reference gram index: what fraction
    * of a doc's distinct n-grams has the reference corpus never seen?
    * The inverse of contamination — high novelty drives curriculum
    * ordering and novelty-weighted sampling (keep what the model hasn't
    * seen); near-zero novelty is boilerplate. `(id, total_grams,
    * novel_grams, novelty)` with novelty = round(novel/total, 4).
    *
    * Shape: the reference index broadcasts (the [[benchmarkGramIndex]]
    * contract — megabytes for real reference slices); the batch pays
    * one distinct-gram explode and a broadcast semi-join probe — the
    * batch never shuffles beyond its per-doc count aggregation. Exact
    * by construction: the probe joins gram STRINGS (the index carries
    * them), so no hash-collision miscount enters the ratio. */
  def noveltyAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
      index: DataFrame, n: Int = 12): DataFrame = {
    import graft.functions.CharNgramFunctions.charNgramsDistinct
    // In-place gram hashing (CharNgramHashesExpr) REJECTED here, unlike
    // contaminationAgainstIndex: the output IS a per-doc exact count
    // ratio over every gram, so there is no candidate set to verify —
    // a hash-probe false hit would bias `seen` upward with no second
    // pass able to correct it (the contamination operator's
    // hash-probe-then-string-verify split needs a bounded candidate
    // set, which a ratio over all docs doesn't have). The string
    // explode is one pass over the batch and the r11 one-gram-pass
    // rework already made this scan-dominated (5.8 -> 1.4 s at sf0.1).
    // ONE gram pass: explode once, LEFT-join the broadcast index with a
    // hit marker, and take BOTH counts from the same aggregation —
    // count(1) is the doc's distinct-gram total (explode never drops a
    // row: the gram array of a non-null text is never empty), count(hit)
    // is the seen count. The earlier two-subtree shape (separate totals
    // frame + semi-join) computed the gram arrays twice and re-executed
    // the whole narrow gram stage inside the final sort's range sampler;
    // this one pays for grams once and leaves only a one-row-per-doc
    // aggregate above the exchange. 5.3 s -> 2.8 s at sf0.1.
    val g = batch.select(col(idCol).as("id"),
      explode(charNgramsDistinct(col(textCol), n)).as("g"))
    g.join(broadcast(index.select("g").distinct().withColumn("__hit", lit(1))),
        Seq("g"), "left")
      .groupBy("id").agg(count(lit(1)).as("total_grams"),
        count(col("__hit")).as("seen"))
      .select(col("id"), col("total_grams"),
        (col("total_grams") - col("seen")).as("novel_grams"))
      .withColumn("novelty",
        round(col("novel_grams").cast("double") / col("total_grams"), 4))
  }

  /** Persistable benchmark gram index for INCREMENTAL decontamination:
    * one row per (bench_id, distinct n-gram) with both the gram STRING
    * (exact verify) and its XXH64 (fast probe; identical to the in-place
    * hash the batch side computes — parity suite-pinned). Built once per
    * eval-set release and persisted; eval sets are thousands of docs, so
    * the index is megabytes and broadcasts whole. Unlike the dedup
    * histories this index is STATIC — screening is stateless per batch,
    * so it composes under any driver (batch, foreachBatch, readStream)
    * with no cross-batch bookkeeping. */
  def benchmarkGramIndex(bench: DataFrame, benchId: String,
      benchText: String, n: Int = 12): DataFrame = {
    import graft.functions.CharNgramFunctions.charNgramsDistinct
    bench.select(col(benchId).cast("long").as("bench_id"),
        explode(charNgramsDistinct(col(benchText), n)).as("g"))
      .withColumn("gh", xxhash64(col("g")))
  }

  /** Screen an incoming batch against a persisted [[benchmarkGramIndex]]:
    * returns exact (corpus_id, bench_id, shared_grams) with
    * `shared_grams >= minShared`, bit-identical to running
    * [[ngramContamination]] against the index's source benchmark. Same
    * two-pass shape as the batch operator: a hash-only candidate probe
    * (the batch's grams hash IN PLACE — no gram string materializes on
    * the corpus side; collisions can only ADD candidates), then an exact
    * gram-string verify over the candidate docs only. The index
    * broadcasts on both passes and the batch never shuffles — at 100 TB
    * each arriving batch pays one map-side probe over its own rows. */
  def contaminationAgainstIndex(batch: DataFrame, corpusId: String,
      corpusText: String, index: DataFrame, n: Int = 12,
      minShared: Int = 2): DataFrame = {
    import graft.functions.CharNgramFunctions.charNgramsDistinct
    val corpusH = batch.select(col(corpusId).as("corpus_id"),
      explode(graft.functions.CharNgramHashFunctions
        .charNgramHashesDistinct(col(corpusText), n)).as("gh"))
    val candidates = corpusH
      .join(broadcast(index.select(col("bench_id"), col("gh"))), Seq("gh"))
      .groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("sh"))
      .filter(col("sh") >= minShared)
    val candDocs = batch.join(
      broadcast(candidates.select(col("corpus_id"))),
      col(corpusId) === col("corpus_id"), "left_semi")
    candDocs.select(col(corpusId).as("corpus_id"),
        explode(charNgramsDistinct(col(corpusText), n)).as("g"))
      .join(broadcast(index.select(col("bench_id"), col("g"))), Seq("g"))
      .groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
  }

  /** Semantic (embedding-space) decontamination — the paraphrase-robust
    * sibling of [[ngramContamination]]: a reworded eval question shares
    * no 12-gram with its source, but its embedding still lands within
    * cosine `tau` of the eval member (the screen LLaMA/Phi-class
    * pipelines run beside the n-gram one; both screens compose — n-gram
    * catches verbatim, this catches paraphrase).
    *
    * One row PER BATCH DOC: `(id, bench_id, cosine, contaminated)` —
    * the best eval match (cosine rounded to 4; ties break to the larger
    * bench_id via struct max, deterministically in both engines) and
    * whether its UNROUNDED cosine reaches `tau`. Docs with a missing,
    * wrong-dimension, or zero-norm embedding report `(null, null,
    * false)` — they can't be semantically screened and must surface to
    * the n-gram screen, not vanish.
    *
    * Scale shape: the eval set is MODEL-SIZED state (thousands of
    * vectors — the quantizer discipline, NOT a join side), so it rides
    * into the plan as literal matrices and scoring is map-only against
    * the scan: N·E fused dot products, zero exchanges, zero joins — the
    * batch never shuffles. No LSH shortcut on purpose: decontamination
    * is recall-critical, and at E ≈ thousands the exact scan is cheaper
    * than the miss. */
  def semanticContamination(batch: DataFrame, idCol: String, vecCol: String,
      evalIds: Array[Long], evalVecs: Array[Array[Float]],
      tau: Double): DataFrame = {
    require(evalIds.nonEmpty, "semanticContamination: empty eval set")
    require(evalIds.length == evalVecs.length,
      s"semanticContamination: ${evalIds.length} ids vs ${evalVecs.length} vectors")
    require(evalIds.distinct.length == evalIds.length,
      "semanticContamination: duplicate eval ids")
    val dims = evalVecs.head.length
    require(evalVecs.forall(_.length == dims),
      s"semanticContamination: eval vectors must all have $dims dims")
    require(evalVecs.forall(v => v.exists(_ != 0f)),
      "semanticContamination: zero-norm eval vector (its cosine is NaN " +
        "against everything — drop it from the eval set)")
    val v = col(vecCol)
    // fused codegen best-match kernel — bit-identical (cosine arithmetic,
    // struct-max ordering incl. larger-id tie-break) to the old
    // array_max over transform(sequence, i -> struct(cos_i, id_i)),
    // which ran interpreted per eval member and printed the full eval
    // matrix into the plan twice (a 915 kB formatted plan at E=200)
    val scoredBest = graft.functions.CentroidFunctions
      .bestCentroidMatch(v, evalIds, evalVecs)
    batch
      .withColumn("__best",
        when(v.isNotNull && size(v) === dims &&
          Similarity.dot(v, v) > 0d, scoredBest))
      .select(col(idCol).as("id"), col("__best.b").as("bench_id"),
        round(col("__best.c"), 4).as("cosine"),
        coalesce(col("__best.c") >= lit(tau), lit(false)).as("contaminated"))
  }

  /** [[semanticContamination]] with the eval set arriving as a DataFrame
    * — collected to the driver as the bounded model it is.
    * `maxEvalRows` is the boundedness guard (the recall-audit
    * discipline): an eval set past it isn't an eval set, it's a second
    * corpus — refuse rather than OOM the driver. */
  def semanticContamination(batch: DataFrame, idCol: String, vecCol: String,
      eval: DataFrame, evalIdCol: String, evalVecCol: String,
      tau: Double, maxEvalRows: Int): DataFrame = {
    val cnt = eval.count()
    require(cnt <= maxEvalRows,
      s"semanticContamination: eval set has $cnt rows > maxEvalRows " +
        s"$maxEvalRows — an eval set is bounded model state; for a " +
        "corpus-sized reference use the n-gram index screen or SemDeDup")
    val rows = eval
      .select(col(evalIdCol).cast("long").as("b"),
        col(evalVecCol).cast("array<float>").as("v"))
      .orderBy("b").collect()
    semanticContamination(batch, idCol, vecCol,
      rows.map(_.getLong(0)),
      rows.map(_.getSeq[Float](1).toArray), tau)
  }

  /** Persist an eval set's embeddings as the semantic-decontamination
    * index `(bench_id, v)`, stamped with the
    * [[graft.state.HistoryFormat.EvalEmbedding]] marker. Like
    * [[benchmarkGramIndex]] the index is STATIC per eval-set release —
    * screening is stateless per batch, no cross-batch bookkeeping. */
  def saveEvalEmbeddingIndex(eval: DataFrame, evalIdCol: String,
      evalVecCol: String, path: String): Unit = {
    eval.select(col(evalIdCol).cast("long").as("bench_id"),
        col(evalVecCol).cast("array<float>").as("v"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    graft.state.HistoryFormat.stamp(
      eval.sparkSession.sparkContext.hadoopConfiguration, path,
      graft.state.HistoryFormat.EvalEmbedding)
  }

  /** [[semanticContamination]] against a persisted
    * [[saveEvalEmbeddingIndex]] table — validates the format marker
    * BEFORE collecting (operator-enforced: an index embedded under a
    * different model scores garbage cosines silently; the marker
    * refusal names the re-embed remedy). */
  def semanticContaminationAgainstIndexTable(batch: DataFrame, idCol: String,
      vecCol: String, indexDir: String, tau: Double,
      maxEvalRows: Int = 200000): DataFrame =
    semanticContamination(batch, idCol, vecCol,
      graft.state.HistoryTables.readChecked(batch.sparkSession, indexDir,
        graft.state.HistoryFormat.EvalEmbedding),
      "bench_id", "v", tau, maxEvalRows)

  /** EXACT character-n-gram Jaccard pairs — the oracle-checkable
    * complement to the LSH variant above, via the AllPairs/PPJoin prefix
    * filter (Bayardo et al., WWW'07): J(A,B) ≥ t implies |A∩B| ≥
    * t·max(|A|,|B|), so under ANY global total order on grams the two
    * documents' "prefixes" (each doc's first |X| − ceil(t·|X|) + 1 grams
    * in that order) must share a gram. Only PREFIX grams enter the
    * self-join, and the global order is rarest-first (ascending document
    * frequency), which exiles corpus-wide template grams to the suffixes:
    * on a template-heavy corpus this cuts the join fan-out by ~13×
    * (Σ df² 114M → 8.8M at sf0.1) while keeping the candidate set a
    * superset of every qualifying pair — no banding, no recall loss.
    * Candidates are then verified with exact Jaccard over the FULL gram
    * sets, so emitted values are exact regardless of the filter.
    *
    * Cost shape at 100 TB: the corpus's grams explode projected
    * immediately to 8-byte hashes; document frequency is a partial-agg
    * `groupBy(gh).count` joined back on the hash (skew-immune: map-side
    * combine collapses a hot gram before the shuffle, and AQE can
    * skew-split the join-back — a window over `gh` would pin every
    * occurrence of one hot gram to a single task); a per-document
    * ranking window (documents are bounded-size); the bounded prefix
    * join with AllPairs size + PPJoin positional filters; and a MELTED
    * candidate-pair verify (one row per pair side, ONE fetch join
    * against the per-doc gram arrays, folded back per pair) so the gram
    * arrays materialize once for verification, not once per side — no
    * all-pairs stage anywhere, and gram strings never shuffle beyond
    * the matched candidate rows.
    *
    * `maxDf > 0` additionally DROPS grams present in more than `maxDf`
    * documents before candidate generation (MOSS stop-gram escape hatch
    * for adversarially template-heavy corpora). Emitted values stay
    * exact, but a pair whose every shared gram is hot can be missed —
    * 0 (default) = complete.
    *
    * Same output contract as [[charNgramJaccardPairs]]: (id_a < id_b,
    * jaccard rounded to 4) filtered at `threshold`. */
  def charNgramJaccardExactPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.4, maxDf: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the emitted jaccard is ROUNDED to 4 before the threshold filter
    // (shared contract with the LSH variant), so a pair can round IN from
    // a true J slightly below `threshold` — the candidate-pruning bounds
    // (prefix length, size ratio) must therefore use a relaxed threshold
    // to remain a strict superset of the final filter
    val tf = math.max(threshold - 0.00005, 1e-9) // >0 keeps na/tf finite
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // per-doc distinct gram ARRAYS, computed exactly once — verification
    // intersects these, never re-derives grams per candidate pair (the
    // per-pair recompute was a 9× regression at sf0.1). DEAD END,
    // measured: swapping these for 128-bit struct{h1,h2} key arrays (to
    // kill the last string materialization) took the query 4.7 → 75 s at
    // sf0.1 — ArrayIntersect/ArrayUnion only have their hash-set fast
    // path for ATOMIC element types and fall back to O(n·m) pairwise
    // comparison on structs; string arrays keep the fast path AND the
    // unconditional exactness the operator is named for.
    val gramArrs = base.select(col("id"),
      graft.functions.CharNgramFunctions.charNgramsDistinct(col("text"), n).as("gr"))
    // ONE explode feeds the whole candidate stage, and only 8-byte gram
    // HASHES leave it (an inter-document collision can only ADD a
    // candidate, and an intra-document collision — ~2⁻⁶⁴ per gram pair
    // within one doc — perturbs |X| by one, shifting the conservative
    // prefix bounds infinitesimally; verification is exact downstream
    // either way). |X| comes from the hash array size — no count
    // window — and document frequency comes from a partial-agg
    // `groupBy(gh).count` joined back on the hash (see dfAgg below): a
    // window over the hash would pin every occurrence of a hot gram to a
    // single unsplittable task, the exact straggler the agg+join avoids.
    val gramsH = base
      .select(col("id"),
        // hash IN PLACE over the text buffer (CharNgramHashesExpr): the
        // candidate stage never materializes a gram string at all —
        // |X| comes from the hash array's size (== the distinct-gram
        // count modulo intra-doc 64-bit collisions, which the exact
        // verify downstream tolerates), and the explode generates
        // 8-byte longs
        graft.functions.CharNgramHashFunctions
          .charNgramHashesDistinct(col("text"), n).as("ghs"))
      .select(col("id"), size(col("ghs")).as("n_grams"), explode(col("ghs")).as("gh"))
      // ONE exchange on the gram hash feeds BOTH the document-frequency
      // aggregation and the join-back below: the repartition makes the
      // two consumers' required distributions identical, so Catalyst
      // plans a ReusedExchange and the hottest map subtree
      // (charNgramHashesDistinct + explode) materializes ONCE instead
      // of once per consumer. Net shuffle volume does not grow — the
      // join-back side already shuffled every exploded row on gh; the df
      // branch's partial-count shuffle is simply absorbed into it.
      .repartition(col("gh"))
    // document frequency via groupBy + join-back, NOT a count window over
    // the hash: the count is a cheap streaming pass over the exchanged
    // partition, whereas a window partition would pin every occurrence
    // of one corpus-wide hot gram (df 10⁸ on a template-heavy 100 TB
    // corpus) into ONE task carrying the whole window BUFFER.
    val dfAgg = gramsH.groupBy("gh").agg(count(lit(1)).as("df"))
    // maxDf applies to the AGG side, so over-hot grams drop during the
    // join (no match) instead of surviving it just to be filtered
    val dfKept = if (maxDf <= 0) dfAgg else dfAgg.filter(col("df") <= maxDf)
    val capped = gramsH.join(dfKept, Seq("gh"))
    // `rk` ranks the doc's grams in the global rarest-first PREORDER
    // (df, gh) — rank(), not row_number(), so collided grams tie instead
    // of tie-breaking inconsistently across docs; a preorder keeps both
    // filters below conservative (rank = 1 + #strictly-smaller, so every
    // bound derived from it only widens under ties)
    val prefix = capped
      .withColumn("rk", rank().over(
        Window.partitionBy("id").orderBy(col("df"), col("gh"))))
      .filter(col("rk") <= col("n_grams") - ceil(lit(tf) * col("n_grams")) + 1)
      .select(col("id"), col("gh"), col("n_grams"), col("rk"))
    // candidate pairs: shared prefix gram + the AllPairs size filter
    // (J ≥ t forces t·|A| ≤ |B| ≤ |A|/t) pruning BEFORE the aggregation,
    // then PPJoin's positional filter: for the preorder-minimal shared
    // gram, every other shared gram ranks at or after it in BOTH docs, so
    // inter ≤ 1 + min(na−ra, nb−rb) (ra/rb = min shared ranks; taking the
    // two mins independently only widens the bound), while J ≥ t needs
    // inter ≥ t·(na+nb)/(1+t). On a high-background-similarity corpus
    // this is the filter that bites: pairs sharing a few mid-prefix grams
    // die here instead of reaching verification (248k → 17k at sf0.1).
    val candidates = prefix.select(col("id").as("id_a"), col("gh"),
        col("n_grams").as("na"), col("rk").as("rka"))
      .join(prefix.select(col("id").as("id_b"), col("gh"),
        col("n_grams").as("nb"), col("rk").as("rkb")), Seq("gh"))
      .filter(col("id_a") < col("id_b") &&
        col("nb") >= ceil(lit(tf) * col("na")) &&
        col("nb") <= floor(col("na") / lit(tf)))
      .groupBy("id_a", "id_b")
      .agg(min(col("rka")).as("ra"), min(col("rkb")).as("rb"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .filter(lit(1) + least(col("na") - col("ra"), col("nb") - col("rb")) >=
        lit(tf / (1 + tf)) * (col("na") + col("nb")))
      .select("id_a", "id_b")
    // verify via a MELTED single fetch join: each candidate pair unpivots
    // to one row per side, joins the per-doc gram arrays ONCE, and folds
    // back per pair — so the charNgramsDistinct subtree (the string-
    // heaviest map stage in the query) materializes once for the verify
    // stage instead of once per pair side, and the candidate subtree is
    // referenced exactly once (a semi-join-bounded fetch was measured
    // SLOWER here: deriving the candidate-id set re-references the whole
    // candidate pipeline, which costs more than a corpus-wide map pass)
    val melted = candidates
      .select(col("id_a"), col("id_b"), explode(array(
        struct(lit("a").as("side"), col("id_a").as("id")),
        struct(lit("b").as("side"), col("id_b").as("id")))).as("m"))
      .select(col("id_a"), col("id_b"), col("m.side").as("side"), col("m.id").as("id"))
    melted.join(gramArrs, Seq("id"))
      .groupBy("id_a", "id_b")
      .agg(first(when(col("side") === "a", col("gr")), ignoreNulls = true).as("gr_a"),
        first(when(col("side") === "b", col("gr")), ignoreNulls = true).as("gr_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("gr_a"), col("gr_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Bloom-screened novelty filter against a dedup-key history: returns
    * exactly `batch.join(history, key, "left_anti")` — the incremental
    * exact-dedup gate — but with a plan in which THE HISTORY IS NEVER
    * SHUFFLED, the property that matters when the history is the 100 TB
    * side and the batch is one arriving micro-batch:
    *
    *  1. One aggregation pass over the history builds a Bloom filter of
    *     its keys (`DataFrameStatFunctions.bloomFilter` — per-partition
    *     bitsets OR-merged on the driver, O(bits) memory, no row ever
    *     moves). The filter has NO false negatives, so every batch row
    *     it rejects is DEFINITELY novel and passes with zero join work —
    *     at a typical novel-heavy batch that is almost every row.
    *  2. The remaining suspects (true dups + `fpp` false positives, both
    *     bounded by the BATCH size, never the history) are confirmed by
    *     broadcasting their distinct keys INTO a map-side semi-join over
    *     the history scan — history is read, filtered in place, and only
    *     the matched keys (≤ suspects) come back — then one broadcast
    *     anti-join of the suspects against that confirmed-key set.
    *
    * Every join touching the history is map-side; the only exchanges in
    * the plan move key sets bounded by the batch. The plain anti-join by
    * contrast shuffles BOTH sides on the key — at a 100 TB history that
    * is the whole table through the wire per batch. (Spark's own runtime
    * row-group bloom pruning can't replace this: it still plans the
    * two-sided shuffle.) The batch side is referenced twice (screen +
    * suspects) — in `foreachBatch` it is an in-memory micro-batch, and
    * its second scan is O(batch).
    *
    * The probe UDF is the one non-codegen op; it gates rows BEFORE the
    * exchanges it eliminates, which is the right trade. Correctness does
    * not depend on `expectedItems`: an under-sized filter only raises the
    * false-positive rate (more suspects to confirm), never the result. */
  def bloomNoveltyScreen(batch: DataFrame, history: DataFrame, key: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bf = history.stat.bloomFilter(key, math.max(expectedItems, 1L), fpp)
    val bc = batch.sparkSession.sparkContext.broadcast(bf)
    val might = udf((k: String) => k != null && bc.value.mightContainString(k))
    val definitelyNovel = batch.filter(!might(col(key)))
    val suspects = batch.filter(might(col(key)))
    val confirmed = history.select(col(key))
      .join(broadcast(suspects.select(col(key)).distinct()), Seq(key), "left_semi")
      .distinct()
    definitelyNovel.unionByName(
      suspects.join(broadcast(confirmed), Seq(key), "left_anti"))
  }

  // ---------------------------------------------------------------------
  // Composed near-dup canonicalization: exact collapse → pairs on
  // representatives → connected components → best-member resolution.
  //
  // The measured motivation (README scaling notes): near-dup PAIR output
  // over a template-heavy corpus is inherently Θ(g²) in the duplicate
  // group size g — that is ground truth, not a plan defect, and no
  // filter stack can linearize it. The pipeline shape that scales is to
  // never emit exact-dup pairs at all: collapse identical texts FIRST
  // (one 16-byte-key exchange), run the expensive near-dup pair operator
  // over one representative per distinct text, resolve candidate pairs
  // into clusters, and pick each cluster's best member. These stages all
  // shipped separately (byFingerprint / the pair family /
  // connectedComponents / the d_cluster_canonical argmax); this is the
  // composed operator a user should actually reach for.
  // ---------------------------------------------------------------------

  /** One-shot near-dup canonicalization. `pairsOf` receives one
    * `(id, text)` row per DISTINCT text (the exact-dup representatives)
    * and returns candidate near-dup pairs `(id_a, id_b)` — plug any pair
    * operator in this file ([[charNgramJaccardExactPairs]],
    * [[minhashLshPairsPortable]], [[simhashPairsPortableWide]], ...).
    * CAP-FREE REQUIRED for the fold law: pass `maxBucket = 0` (or an
    * operator with no skew cap) — a capped operator truncates oversized
    * buckets by id order, and since the incremental fold may elect
    * DIFFERENT representatives than the one-shot, the cap can truncate
    * DIFFERENT pairs on each side; the one-shot == fold equality is
    * then data-dependent (holds only while no bucket exceeds the cap).
    * Returns the resolution table `(id, component, canonical_id, keep)`:
    * `component` = smallest member id of the doc's cluster (exact dups
    * and near-dups merged transitively), `canonical_id` = the cluster
    * member with the highest `qualityCol` (ties to the smallest id — an
    * order-independent max(struct) aggregate, never a window over the
    * corpus), `keep` = this row IS the canonical.
    *
    * Cluster membership is invariant to WHICH member represents a text:
    * identical texts produce identical pairs, so the representative
    * choice can change internal component labels but never the member
    * sets — and the resolution re-derives `component`/`canonical_id`
    * from the member sets alone. That invariance is what makes the
    * incremental fold ([[nearDupCanonicalizeIncrement]]) equal this
    * one-shot bit-for-bit (suite-pinned).
    *
    * Scale shape: the fingerprint collapse is one md5-key exchange; the
    * pair stage sees |distinct texts| rows; the component map and the
    * per-cluster argmax are exchanges on component keys; docs re-attach
    * via the SAME fp-keyed exchange the collapse already paid. */
  def nearDupCanonicalize(df: DataFrame, idCol: String, textCol: String,
      qualityCol: String, pairsOf: DataFrame => DataFrame,
      workDir: Option[String] = None,
      localLimit: Long = 100000,
      materialize: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    val (docs0, reps0, cc0) = nearDupEmptyState(df, idCol, textCol, qualityCol)
    // the history side is empty by construction, so the cross probe is a
    // typed empty frame — NOT crossPairsByUnion, which would run the
    // expensive pair operator a second time over (corpus ∪ ∅)
    val noCross: (DataFrame, DataFrame) => DataFrame = (f, _) =>
      f.select(col("id").as("id_a"), col("id").as("id_b")).limit(0)
    val (docs, reps, cc) = nearDupCanonicalizeIncrement(
      df, idCol, textCol, qualityCol, docs0, reps0, cc0,
      pairsOf, noCross, workDir, localLimit, materialize)
    nearDupResolution(docs, reps, cc, materialize)
  }

  /** NULL-safe text fingerprint for the canonicalization family. A raw
    * `md5(NULL)` is NULL, and NULL never equi-joins: the resolution's
    * inner fp join would silently DROP every NULL-text doc (violating
    * the "every seen doc resolves" contract) and the fold's left_anti
    * on fp would re-add a NULL-fp representative every batch (breaking
    * the one-rep-per-fp invariant). Under the sentinel, all NULL-text
    * docs form ONE exact-dup cluster; its representative (text NULL)
    * flows into `pairsOf`, where every pair operator in this file is
    * NULL-propagating (hash/gram derivations of NULL are NULL, and NULL
    * keys never equi-join), so the NULL cluster pairs with nothing and
    * survives as its own component. The sentinel cannot collide with a
    * real fingerprint: md5 hex is exactly 32 chars. */
  private val NullTextFp = "NULL_TEXT"
  private def ndFp(text: Column): Column =
    coalesce(fingerprint(text), lit(NullTextFp))

  /** Empty `(docsState, repsState, ccState)` trio typed off the batch —
    * the fold seed for [[nearDupCanonicalizeIncrement]]. */
  def nearDupEmptyState(df: DataFrame, idCol: String, textCol: String,
      qualityCol: String): (DataFrame, DataFrame, DataFrame) = (
    df.select(col(idCol).as("id"), ndFp(col(textCol)).as("fp"),
      col(qualityCol).as("quality")).limit(0),
    df.select(ndFp(col(textCol)).as("fp"), col(idCol).as("id"),
      col(textCol).as("text")).limit(0),
    df.select(col(idCol).as("id"), col(idCol).as("component")).limit(0))

  /** Cross-batch fold step. State trio:
    *  - `docsState (id, fp, quality)` — every doc seen (no text);
    *  - `repsState (fp, id, text)` — ONE representative per distinct
    *    text seen (the only state that keeps text — at 100 TB swap
    *    `crossPairsOf` for a persisted signature-index probe
    *    ([[hash64AgainstHistoryAutoTable]] /
    *    [[minhashAgainstHistoryTable]]) and store signatures here
    *    instead; the fold algebra is unchanged);
    *  - `ccState (id, component)` — the component assignment over
    *    representative ids ([[componentsWithHistory]] output).
    *
    * A batch text already in `repsState` attaches by fingerprint alone —
    * no new node, no pair work (its pairs were found when the text first
    * arrived). Only truly-new texts run `pairsOf` (within the batch) and
    * `crossPairsOf(newReps, historyReps)` (against history), and the
    * component fold translates old representatives through
    * [[componentsWithHistory]]'s change-map discipline, so per-batch
    * PAIR work is bounded by the batch + the probed history slice,
    * never the accumulated corpus.
    *
    * ACCEPTED O(state) bookkeeping (measured — ScalingCurves
    * `neardup_fold_history`, README scaling notes): the two anti-join
    * scans (batch ids vs docsState, batch fps vs repsState) and the cc
    * translation scan rows LINEAR in the accumulated state (the
    * per-fold WRITE terms are all gone: docs/reps commit O(batch)
    * appends since the v3 chunk layout, and the *Table surface's cc
    * rewrite became an O(Δ-components) delta chunk in v4 — both gated
    * flat by the series' bytes columns). These are narrow
    * columns (ids/fps/assignments, 16-byte-class rows — the same cost
    * class as every history probe's key-column scan, NOT the corpus's
    * text/media bytes): measured at 5k–40k-doc states the whole fold's
    * wall slope is 0.06 and probe candidates slope 0.16 (the FIXED
    * batch work dominates; the linear terms would bite only at states
    * orders of magnitude larger). A
    * [[bloomNoveltyScreen]] could cut only the docs-id scan (one of
    * four linear terms), so it is not routed here; at extreme state
    * sizes the lever is the signature-index swap noted above plus an
    * append-structured state layout. Persist the returned trio
    * atomically (JobState
    * / atomic-replace) and derive the user-facing table with
    * [[nearDupResolution]]. Fold law (suite-pinned): any batch split
    * folds to the same resolution as the one-shot — PROVIDED the pair
    * operators are cap-free (see the one-shot's pairsOf contract: a
    * `maxBucket` cap truncates by id order and the fold's rep ids can
    * differ from the one-shot's, so pass `maxBucket = 0`).
    *
    * `materialize` truncates the new-reps subplan's lineage before the
    * pair stage: the rep collapse (a corpus-wide window + anti-join) is
    * consumed by every pass the pair operator makes over its input
    * (charNgramJaccardExactPairs alone reads its input four times), by
    * the cross probe, and by the state union — without a cut each
    * consumer re-runs the collapse shuffle (measured 2.5× the whole
    * query at sf0.1). The default `localCheckpoint` fits a stable JVM;
    * pass `_.checkpoint()` under executor churn or `identity` to opt
    * out. Like pageRank's policy, it changes lineage only, never rows
    * (suite-pinned: identity == default bit-for-bit). */
  def nearDupCanonicalizeIncrement(
      batch: DataFrame, idCol: String, textCol: String, qualityCol: String,
      docsState: DataFrame, repsState: DataFrame, ccState: DataFrame,
      pairsOf: DataFrame => DataFrame,
      crossPairsOf: (DataFrame, DataFrame) => DataFrame,
      workDir: Option[String] = None,
      localLimit: Long = 100000,
      materialize: DataFrame => DataFrame = _.localCheckpoint())
      : (DataFrame, DataFrame, DataFrame) = {
    val (db, rb, cc2, _) = nearDupFoldStep(batch, idCol, textCol, qualityCol,
      docsState, repsState, ccState, pairsOf, crossPairsOf, workDir,
      localLimit, materialize)
    (docsState.unionByName(db), repsState.unionByName(rb), cc2)
  }

  /** The fold's core, returning the batch's DELTAS instead of the
    * unioned state: `(docsDelta, repsDelta, ccState', ccDelta)` — docs
    * and reps are APPEND-ONLY under the fold's own invariants (the id
    * anti-join admits each id once; the fp anti-join admits one rep per
    * distinct fingerprint ever), so those deltas are the complete
    * increment and the persisted surface can commit O(batch)-sized
    * appends instead of rewriting the accumulated tables
    * ([[nearDupCanonicalizeIncrementTable]]'s chunk commit). The cc
    * assignment is genuinely mutated by component merges — but only at
    * the components the batch's edges touch, so it too comes back as a
    * full frame (`ccState'`, what the in-memory fold law consumes) AND
    * as the O(Δ) changed-rows delta
    * ([[componentsWithHistoryAndDelta]]); both are lazy, a caller pays
    * only for the one it consumes. The docs/reps deltas come back
    * `materialize`d (each is consumed by the pair stage AND by the
    * caller's append). */
  private[graft] def nearDupFoldStep(
      batch: DataFrame, idCol: String, textCol: String, qualityCol: String,
      docsState: DataFrame, repsState: DataFrame, ccState: DataFrame,
      pairsOf: DataFrame => DataFrame,
      crossPairsOf: (DataFrame, DataFrame) => DataFrame,
      workDir: Option[String] = None,
      localLimit: Long = 100000,
      materialize: DataFrame => DataFrame = _.localCheckpoint())
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val b0 = batch.select(col(idCol).as("id"),
      ndFp(col(textCol)).as("fp"),
      col(qualityCol).as("quality"), col(textCol).as("text"))
    // REPLAY TOLERANCE: an id already folded is skipped entirely — ids
    // are immutable, so a re-arriving id is an exactly-once replay (a
    // crash after the state commit but before the caller's offset
    // commit re-delivers the batch) and re-unioning it would emit
    // duplicate docs rows → duplicate resolution rows. The anti-join
    // makes the fold IDEMPOTENT for exact replays (all fps then known
    // → no new reps → no pairs → cc unchanged; suite law: fold twice ==
    // fold once), and it also neutralizes the id-collision footgun
    // where the same id arrives with DIFFERENT text (first write wins,
    // like every id-keyed history in this file). WITHIN a batch the
    // same rule needs its own pass — an at-least-once source can
    // duplicate inside one delivery, and two same-id rows would both
    // survive a state-only anti-join — so the batch first collapses to
    // one row per id (deterministically: smallest fingerprint, an
    // order-independent tie-break). The result is MATERIALIZED: both
    // the pair stage (via bReps) and the docs-state union consume it,
    // and without the cut each consumer re-runs the state-sized
    // anti-join scan.
    val b = materialize(
      exact(b0, Seq("id"), "fp")
        .join(docsState.select("id"), Seq("id"), "left_anti"))
    // one representative per batch-new fingerprint (smallest batch id —
    // any member works: identical text ⇒ identical pairs)
    val bReps = exact(b.select("fp", "id", "text"), Seq("fp"), "id")
    val newReps = materialize(
      bReps.join(repsState.select("fp"), Seq("fp"), "left_anti"))
    val fresh = newReps.select(col("id"), col("text"))
    val hist = repsState.select(col("id"), col("text"))
    // the candidate edge set materializes too: the component fold reads
    // its edge input several times (the union-find sample, the node set,
    // the change map, the fresh anti-join), and each read would re-run
    // the PAIR OPERATOR — the single most expensive stage (measured 3×
    // the pair cost at sf0.1 without this cut). Candidate pairs are
    // bounded rows (two ids), the cheapest thing in the fold to persist.
    val pairs = materialize(pairsOf(fresh).select("id_a", "id_b")
      .unionByName(crossPairsOf(fresh, hist).select("id_a", "id_b")))
    val (cc2, ccDelta) = componentsWithHistoryAndDelta(pairs, ccState,
      workDir = workDir, localLimit = localLimit)
    (b.select("id", "fp", "quality"),
      newReps.select("fp", "id", "text"),
      cc2, ccDelta)
  }

  private val NearDupStateTables = Seq("docs", "reps", "cc")
  private val NearDupEpochFile = "_graft_neardup_epoch.json"

  /** State-ish directories under the root: the chunk-table roots
    * (`docs`/`reps`/`cc`) plus pre-v4 epoch dirs (`e<digits>` ONLY — a
    * user's "export/" must never read as ours). Used to tell a FRESH
    * root apart from a root
    * whose pointer is missing — which is never fresh: either the
    * pointer replace was lost mid-crash on a filesystem whose rename is
    * delete+rename (non-local schemes in
    * [[graft.util.Fs.atomicWriteString]]) or the layout predates the
    * epoch pointer. Reseeding over either would silently discard every
    * folded document, so it refuses instead. */
  private def nearDupStrayState(
      conf: org.apache.hadoop.conf.Configuration,
      stateDir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && {
        val n = st.getPath.getName
        n.matches("e\\d+") || NearDupStateTables.contains(n)
      })
      .map(_.getPath.getName)
  }

  /** In-line cc compaction threshold: past this many cc chunks a fold
    * writes the FULL assignment as its chunk (it already has the frame
    * — [[componentsWithHistoryAndDelta]]'s first return — so compaction
    * costs no extra read) and lists only it. Bounds the last-wins
    * read's union width; amortized O(reps/16) extra write per fold,
    * the same policy class as the derived caches'
    * `CompactAfterChunks`. */
  private val NearDupCcCompactAfter = 16

  /** The committed v4 state: epoch number (the fold counter naming the
    * chunks) and the chunk lists composing all three tables — docs and
    * reps append-only (plain union), cc base+delta (last-writer-wins
    * by chunk sequence, see [[readNearDupCc]]). */
  private case class NearDupCommitted(epoch: Long,
      docsChunks: Seq[String], repsChunks: Seq[String],
      ccChunks: Seq[String])

  /** The committed state, validated: pointer present ⇒ every chunk the
    * pointer lists must exist (the pointer write is atomic and strictly
    * after the data writes, so a pointer naming missing data means
    * post-commit corruption — refuse with the remedy, never a raw
    * parquet path-not-found). Pointer ABSENT over state-ish directories
    * refuses too (lost pointer / pre-pointer layout — see
    * [[nearDupStrayState]]); only a genuinely empty root returns None.
    * Callers run [[graft.state.HistoryFormat.ensure]] BEFORE this
    * parse, so a pre-v4 pointer (epoch-dir cc, or no chunk lists at
    * all) refuses at the marker with the rebuild remedy rather than
    * surfacing here as corruption. */
  private def nearDupCommitted(conf: org.apache.hadoop.conf.Configuration,
      stateDir: String): Option[NearDupCommitted] = {
    val ptr = new org.apache.hadoop.fs.Path(stateDir, NearDupEpochFile)
    if (!graft.util.Fs.exists(ptr, conf)) {
      val stray = nearDupStrayState(conf, stateDir)
      if (stray.nonEmpty)
        throw new IllegalStateException(
          s"near-dup state at $stateDir holds state directories " +
            s"(${stray.mkString(",")}) but no $NearDupEpochFile pointer " +
            "— a lost pointer or a pre-epoch layout; reseeding over it " +
            "would silently discard every folded document. (One benign " +
            "cause: a crash during the very FIRST fold, after the " +
            "marker/chunk writes but before any pointer write — then NO " +
            "epoch was ever committed, nothing was lost, and wiping the " +
            "root is lossless.) " +
            graft.state.HistoryFormat.NearDupState.rebuildRemedy)
      None
    } else {
      val node = graft.util.Fs.readJson(ptr, conf)
      def corrupt(what: String): Nothing = throw new IllegalStateException(
        s"near-dup state pointer at $stateDir is malformed ($what) — " +
          graft.state.HistoryFormat.NearDupState.rebuildRemedy)
      val epoch = graft.util.Jsons.optLong(node, "epoch")
        .getOrElse(corrupt("no epoch"))
      def chunks(field: String): Seq[String] =
        graft.util.Jsons.optField(node, field)
          .map(a => graft.util.Jsons.elems(a).map(_.asText()).toSeq)
          .filter(_.nonEmpty)
          .getOrElse(corrupt(s"no $field chunk list"))
      val (dc, rc, cc) = (chunks("docs"), chunks("reps"), chunks("cc"))
      val fs = new org.apache.hadoop.fs.Path(stateDir).getFileSystem(conf)
      val missing = Seq(("docs", dc), ("reps", rc), ("cc", cc)).flatMap {
        case (table, list) => list.filterNot(c => fs.exists(
            new org.apache.hadoop.fs.Path(stateDir, s"$table/$c")))
          .map(c => s"$table/$c")
      }
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"near-dup state at $stateDir points at epoch $epoch but " +
            s"${missing.mkString(",")} are missing under $stateDir — " +
            graft.state.HistoryFormat.NearDupState.rebuildRemedy)
      Some(NearDupCommitted(epoch, dc, rc, cc))
    }
  }

  /** `schema`, when the caller already holds it (the fold just WROTE
    * these chunks), skips the per-read footer schema-inference job —
    * chunk tables are append-only under one schema, so the written
    * frame's schema IS the table's. */
  private def readNearDupChunks(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, table: String, chunks: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    schema.fold(spark.read)(spark.read.schema)
      .parquet(chunks.map(c => s"$stateDir/$table/$c"): _*)

  /** The committed cc assignment from its base+delta chunks:
    * last-writer-wins per id, ordered by the chunk sequence number in
    * the name (`c|m<N>` — epochs only move forward, so no two listed
    * chunks share a sequence, and within one chunk an id appears at
    * most once). The list invariant every write path maintains: the
    * HEAD chunk is a full assignment at the lowest sequence (the first
    * fold and every compaction write the full table and reset the
    * list), the tail chunks are the per-fold deltas. The common
    * post-compaction case (ONE chunk) is a plain scan; multi-chunk
    * reads resolve last-wins AMONG THE DELTAS ONLY (one groupBy over
    * O(Σ Δ) rows — delta-sized, not state-sized) and then patch the
    * base with one anti-join against the resolved delta ids
    * (broadcast-class right side) — the O(reps) base is scanned, never
    * shuffled. Chunk-count growth is bounded by
    * [[NearDupCcCompactAfter]]. */
  private def readNearDupCc(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, chunks: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    def rd(path: String): DataFrame =
      schema.fold(spark.read)(spark.read.schema).parquet(path)
    if (chunks.size == 1)
      rd(s"$stateDir/cc/${chunks.head}")
        .select("id", "component")
    else {
      val deltas = chunks.tail.map { c =>
        rd(s"$stateDir/cc/$c")
          .select(col("id"), col("component"),
            lit(c.drop(1).toLong).as("__seq"))
      }.reduce(_ unionByName _)
        .groupBy("id")
        .agg(max(struct(col("__seq"), col("component"))).as("__m"))
        .select(col("id"), col("__m.component").as("component"))
      spark.read.parquet(s"$stateDir/cc/${chunks.head}")
        .select("id", "component")
        .join(deltas.select("id"), Seq("id"), "left_anti")
        .unionByName(deltas)
    }
  }

  private def writeNearDupPointer(
      conf: org.apache.hadoop.conf.Configuration, stateDir: String,
      epoch: Long, docsChunks: Seq[String], repsChunks: Seq[String],
      ccChunks: Seq[String]): Unit = {
    val o = graft.util.Jsons.obj()
    o.put("epoch", epoch)
    val da = o.putArray("docs"); docsChunks.foreach(da.add)
    val ra = o.putArray("reps"); repsChunks.foreach(ra.add)
    val ca = o.putArray("cc"); ccChunks.foreach(ca.add)
    graft.util.Fs.atomicWriteJson(
      new org.apache.hadoop.fs.Path(stateDir, NearDupEpochFile), o, conf)
  }

  /** Post-swap cleanup, best-effort (a stray dir costs disk, never
    * correctness): chunk dirs the committed pointer no longer (or
    * never) lists — compaction debris and half-written chunks from
    * crashed folds — plus leftover `e<digits>` epoch dirs (the pre-v4
    * cc layout's namespace, still ours). Owns ONLY those namespaces:
    * `e<digits>` at the root and `c|m<digits>` inside the
    * docs/reps/cc table dirs; anything else under the root is the
    * user's. */
  private def pruneNearDupState(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      keepDocs: Seq[String], keepReps: Seq[String],
      keepCc: Seq[String]): Unit = {
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.matches("e\\d+"))
        fs.delete(st.getPath, true)
    }
    Seq(("docs", keepDocs.toSet), ("reps", keepReps.toSet),
      ("cc", keepCc.toSet)).foreach {
      case (table, keep) =>
        val dir = new org.apache.hadoop.fs.Path(root, table)
        if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.matches("[cm]\\d+") && !keep.contains(n))
            fs.delete(st.getPath, true)
        }
    }
  }

  /** Marker check shared by every persisted near-dup surface: runs
    * BEFORE the pointer parse so a pre-v3 state refuses at the marker
    * (with the rebuild remedy) instead of surfacing as pointer
    * corruption. `hasData` = anything state-ish present (pointer OR
    * stray dirs) — a fresh root stamps v3. */
  private def nearDupEnsureFormat(
      conf: org.apache.hadoop.conf.Configuration, stateDir: String): Unit =
    graft.state.HistoryFormat.ensure(conf, stateDir,
      graft.state.HistoryFormat.NearDupState,
      hasData = graft.util.Fs.exists(
        new org.apache.hadoop.fs.Path(stateDir, NearDupEpochFile), conf) ||
        nearDupStrayState(conf, stateDir).nonEmpty)

  /** [[nearDupCanonicalizeIncrement]] against a persisted state root —
    * the *Table discipline for the composed operator. The root carries
    * a [[graft.state.HistoryFormat.NearDupState]] marker (a foreign or
    * pre-versioning state refuses with the rebuild remedy; the first
    * call on a fresh root seeds the empty state and stamps).
    *
    * LAYOUT (v4): all three tables live as CHUNK tables named by the
    * one pointer. Docs and reps — append-only under the fold's own
    * invariants (id anti-join; one-rep-per-fp) — commit one
    * O(batch)-sized chunk per fold (`docs/c<N>/`, `reps/c<N>/`), read
    * as a plain union. The cc assignment is genuinely MUTATED by
    * component merges — but only at the components the batch's edges
    * touch — so it commits as base+delta chunks (`cc/c<N>/`, the
    * fold's changed rows only: remapped members of touched components
    * + new ids) read last-writer-wins by chunk sequence
    * ([[readNearDupCc]]); past [[NearDupCcCompactAfter]] chunks a fold
    * writes the full assignment it already has and lists only it.
    * Commit remains ONE atomic pointer replace: the pointer names the
    * epoch AND the exact chunk lists, so a reader (or a crash) can
    * only ever observe a complete, consistent state. Pre-v3 wrote the
    * WHOLE trio per epoch — O(total accumulated state) bytes per
    * batch; v3 chunked docs/reps but still rewrote cc whole (O(reps)
    * rows per fold); v4 writes O(batch + reps-delta + cc-delta) — no
    * per-fold write term grows with the accumulated state (gated by
    * the scaling series' bytes columns), at the read-side price of the
    * multi-chunk last-wins groupBy over narrow rows.
    *
    * Why chunks-under-one-pointer instead of per-table Delta appends
    * with SetTransaction: Delta commits are per-table, so a fold would
    * have THREE commit points (docs append, reps append, cc epoch) and
    * a crash between them leaves appended rows whose pair work never
    * reached cc — un-healable without replaying the appended rows out
    * of the Delta log (the id anti-join would skip them on
    * re-delivery, losing their edges forever). The chunk lists keep
    * the single-pointer property — a crash anywhere before the swap is
    * a complete no-op — at the cost of one directory per fold per
    * table, bounded by [[nearDupCompactState]] (scheduled maintenance,
    * itself one atomic swap).
    *
    * A crash mid-fold leaves the pointer (and thus the state) on the
    * old epoch and the half-written chunks/epoch as garbage, which the
    * next fold overwrites and the next swap prunes. The pointer replace
    * is truly atomic on the local filesystem; on stores whose rename is
    * delete-then-rename a crash can LOSE the pointer — that state
    * (state dirs, no pointer) refuses with the rebuild remedy rather
    * than silently reseeding over folded data, and the same refusal
    * covers a pre-pointer layout. Single writer assumed (the Pipeline
    * lock discipline — two concurrent folds would race the pointer
    * last-write-wins).
    *
    * Returns the UPDATED state trio read from the committed state —
    * lazily consumable (derive the user-facing table with
    * [[nearDupResolution]] / [[nearDupResolutionTable]] when wanted,
    * without re-running the fold) UNTIL a later fold or compaction
    * prunes the cc epoch / compacted-away chunks it reads — materialize
    * or re-read through [[nearDupResolutionTable]] when the lifetime
    * must span folds. */
  def nearDupCanonicalizeIncrementTable(
      batch: DataFrame, idCol: String, textCol: String, qualityCol: String,
      stateDir: String,
      pairsOf: DataFrame => DataFrame,
      crossPairsOf: (DataFrame, DataFrame) => DataFrame,
      workDir: Option[String] = None,
      localLimit: Long = 100000,
      materialize: DataFrame => DataFrame = _.localCheckpoint())
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(conf)
    nearDupEnsureFormat(conf, stateDir)
    val committed = nearDupCommitted(conf, stateDir)
    val (d0, r0, c0) = committed match {
      case Some(c) =>
        (readNearDupChunks(spark, stateDir, "docs", c.docsChunks),
          readNearDupChunks(spark, stateDir, "reps", c.repsChunks),
          // the fold consumes the cc state several times (two edge
          // translations, the change-map joins, the fresh anti-join) —
          // cut the multi-chunk last-wins groupBy's lineage so each
          // consumer re-reads rows, not the aggregation
          if (c.ccChunks.size > 1)
            materialize(readNearDupCc(spark, stateDir, c.ccChunks))
          else readNearDupCc(spark, stateDir, c.ccChunks))
      case None => nearDupEmptyState(batch, idCol, textCol, qualityCol)
    }
    val (db, rb, cc2, ccDelta) = nearDupFoldStep(batch, idCol, textCol,
      qualityCol, d0, r0, c0, pairsOf, crossPairsOf, workDir, localLimit,
      materialize)
    val newEpoch = committed.map(_.epoch + 1).getOrElse(1L)
    val chunk = s"c$newEpoch"
    // overwrite covers garbage from a fold that crashed before its swap
    // (epoch numbers only move forward, so garbage always carries the
    // name the retry reuses)
    db.write.mode("overwrite").parquet(s"$stateDir/docs/$chunk")
    rb.write.mode("overwrite").parquet(s"$stateDir/reps/$chunk")
    // cc: the O(Δ) changed-rows delta — except past the compaction
    // threshold, where the full assignment (already in hand) resets the
    // chunk list to one
    val ccPrior = committed.map(_.ccChunks).getOrElse(Nil)
    val ccList =
      if (ccPrior.size + 1 > NearDupCcCompactAfter) Seq(chunk)
      else ccPrior :+ chunk
    val ccWritten = if (ccList.size == 1) cc2 else ccDelta
    ccWritten.write.mode("overwrite").parquet(s"$stateDir/cc/$chunk")
    val dc = committed.map(_.docsChunks).getOrElse(Nil) :+ chunk
    val rc = committed.map(_.repsChunks).getOrElse(Nil) :+ chunk
    writeNearDupPointer(conf, stateDir, newEpoch, dc, rc, ccList)
    pruneNearDupState(fs, root, dc, rc, ccList)
    // the returned trio reads the state just committed — the schemas
    // are in hand from the frames just written, so these reads plan
    // without the per-read footer schema-inference job
    (readNearDupChunks(spark, stateDir, "docs", dc, Some(db.schema)),
      readNearDupChunks(spark, stateDir, "reps", rc, Some(rb.schema)),
      readNearDupCc(spark, stateDir, ccList,
        Some(org.apache.spark.sql.types.StructType(
          ccWritten.schema.filter(f => f.name == "id" || f.name == "component")))))
  }

  /** READ-side validation: marker + pointer, refusing loudly on every
    * non-healthy layout — and never MUTATING the root (the fold path's
    * [[nearDupEnsureFormat]] stamps fresh roots; a read of an absent
    * root must not create one). Absent pointer over stray state refuses
    * with the lost-pointer message; a genuinely empty/absent root gets
    * the "no state, fold first" error. */
  private def nearDupCommittedChecked(
      conf: org.apache.hadoop.conf.Configuration, stateDir: String)
      : NearDupCommitted = {
    if (!graft.util.Fs.exists(
        new org.apache.hadoop.fs.Path(stateDir, NearDupEpochFile), conf)) {
      nearDupCommitted(conf, stateDir) // refuses on stray state
      throw new IllegalStateException(
        s"no near-dup state at $stateDir — fold batches through " +
          "nearDupCanonicalizeIncrementTable first")
    }
    graft.state.HistoryFormat.ensure(conf, stateDir,
      graft.state.HistoryFormat.NearDupState, hasData = true)
    nearDupCommitted(conf, stateDir).get
  }

  /** The committed state trio `(docs, reps, cc)` from a persisted root —
    * the read-only sibling of the fold's return value (marker-enforced,
    * pointer-validated; an absent root is a loud error). Same lifetime
    * contract: valid until a later fold/compaction prunes what it
    * reads. */
  def nearDupReadState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): (DataFrame, DataFrame, DataFrame) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val c = nearDupCommittedChecked(conf, stateDir)
    (readNearDupChunks(spark, stateDir, "docs", c.docsChunks),
      readNearDupChunks(spark, stateDir, "reps", c.repsChunks),
      readNearDupCc(spark, stateDir, c.ccChunks))
  }

  /** Maintenance: compact all three chunk tables into ONE chunk each
    * (`m<N+1>`; cc compacts to its full last-wins assignment) — bounds
    * the directory/file count the per-fold O(batch/Δ) chunk commits
    * accumulate. One atomic pointer swap like every fold (a crash
    * anywhere is a complete no-op; superseded chunks prune after the
    * swap); run it under the same single-writer discipline as the
    * folds, on whatever cadence bounds the chunk count (it reads and
    * rewrites O(state) rows, so it is a scheduled job, not a per-fold
    * cost — though cc additionally self-compacts in-fold past
    * [[NearDupCcCompactAfter]]). No-op when already compact. */
  def nearDupCompactState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val c = nearDupCommittedChecked(conf, stateDir)
    if (c.docsChunks.size <= 1 && c.repsChunks.size <= 1 &&
      c.ccChunks.size <= 1) return
    val newEpoch = c.epoch + 1
    val chunk = s"m$newEpoch"
    readNearDupChunks(spark, stateDir, "docs", c.docsChunks)
      .write.mode("overwrite").parquet(s"$stateDir/docs/$chunk")
    readNearDupChunks(spark, stateDir, "reps", c.repsChunks)
      .write.mode("overwrite").parquet(s"$stateDir/reps/$chunk")
    readNearDupCc(spark, stateDir, c.ccChunks)
      .write.mode("overwrite").parquet(s"$stateDir/cc/$chunk")
    writeNearDupPointer(conf, stateDir, newEpoch, Seq(chunk), Seq(chunk),
      Seq(chunk))
    pruneNearDupState(new org.apache.hadoop.fs.Path(stateDir)
        .getFileSystem(conf),
      new org.apache.hadoop.fs.Path(stateDir), Seq(chunk),
      Seq(chunk), Seq(chunk))
  }

  /** [[nearDupResolution]] over a persisted state root: resolves the
    * committed state via the pointer (marker-enforced; an absent root
    * or pointer is a loud error with the next step named, and a pointer
    * naming missing data refuses with the rebuild remedy — never a raw
    * path-not-found from the parquet reader). */
  def nearDupResolutionTable(spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      materialize: DataFrame => DataFrame = _.localCheckpoint())
      : DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val c = nearDupCommittedChecked(conf, stateDir)
    nearDupResolution(
      readNearDupChunks(spark, stateDir, "docs", c.docsChunks),
      readNearDupChunks(spark, stateDir, "reps", c.repsChunks),
      readNearDupCc(spark, stateDir, c.ccChunks), materialize)
  }

  /** The PRODUCTION instantiation of the composed canonicalization's
    * pluggable pair family — `(pairsOf, crossPairsOf)`: uncapped
    * wide-key poly-simhash within the batch
    * ([[simhashPairsPortableWide]]) and the signature-derived
    * semi-join-first probe against the history representatives
    * ([[hash64AgainstHistoryWide]], signatures derived at probe time).
    * ONE definition shared by the correctness query, the crash demo,
    * the scaling series, and the suite pins — a parameter change here
    * changes all of them together; a missed site would silently
    * measure or test a different pair family than production folds.
    * Uncapped because the fold law requires cap-free pair semantics
    * (see the [[nearDupCanonicalize]] contract).
    *
    * `autoProbe = true` routes the history probe through the MEASURED
    * layout selector ([[hash64AgainstHistoryAuto]]) instead of pinning
    * wide keys — the fold then self-selects narrow vs wide per batch
    * from exact counts-only volumes (the decision logs as an
    * `event=hash64_layout` line). Results are bit-identical either way
    * (both layouts exact for Hamming ≤ `maxHamming` ≤ 3 uncapped —
    * suite law on the real corpus, multiset equality), so the switch
    * is pure cost — and the cost is honest: each decision runs one
    * counts-only key scan per layout over batch + history (O(history)
    * rows scanned per fold, partial-agg'd map-side, signatures never
    * shuffled — the same cost class as the probe's own semi-join key
    * scan; at extreme history sizes maintain the history's bucket
    * counts incrementally instead of re-measuring per fold). Requires
    * `maxHamming ≤ 3` AT CONSTRUCTION (the selector's equivalence
    * domain — pinned-wide alone accepts up to `blocks − 1`); failing
    * here beats an IllegalArgumentException mid-fold about an operator
    * the caller never named.
    *
    * `materialize` truncates the signature frames' lineage before the
    * auto decision consumes each side multiple times — pass the SAME
    * policy the fold uses (`_.checkpoint()` under executor churn,
    * `identity` to opt out), default matching the fold's default.
    *
    * `countsDir` (requires `autoProbe`) points the selector at a
    * persisted [[Hash64Counts]] cache: the decision then reads the
    * HISTORY side's per-layout volumes from pre-aggregated counts state
    * and measures only the batch — per-fold decision cost drops from
    * two O(history-reps) signature scans to one O(batch +
    * distinct-buckets) job — and each fold appends the batch's counts
    * (exactly the rep rows the composed fold appends, so the cache
    * tracks the committed reps; the row-count tripwire catches every
    * crash window between the two commits and heals with a lossless
    * rebuild). The decision — and therefore every result — is
    * bit-identical to the uncounted auto path (suite law).
    *
    * `sigCacheDir` points the probe at a persisted [[SigCache]]: the
    * HISTORY side's 8-byte signatures are then read from state instead
    * of re-deriving the poly-simhash over every accumulated rep's TEXT
    * per fold — each rep's signature is computed once, when it enters
    * the state (the fold appends the batch's already-computed fresh
    * signatures). This removes the composed fold's last
    * O(state · text-bytes) per-fold term; what remains linear is the
    * probe's own 16-byte key-column scan (the accepted cost class).
    * Same derived-cache discipline as the counts (row-count tripwire,
    * lossless heal, refusal on modulus mismatch); results bit-identical
    * (suite law). Works with or without `autoProbe` (the pinned wide
    * probe benefits equally); when both caches are on, one reps count
    * serves both tripwires. */
  def nearDupWideSimhashFamily(maxHamming: Int = 3, blocks: Int = 6,
      mod1: Long = 2147483647L, mod2: Long = 1073741789L,
      autoProbe: Boolean = false,
      materialize: DataFrame => DataFrame = _.localCheckpoint(),
      countsDir: Option[String] = None,
      sigCacheDir: Option[String] = None)
      : (DataFrame => DataFrame, (DataFrame, DataFrame) => DataFrame) = {
    require(!autoProbe || (maxHamming >= 1 && maxHamming < SimhashBlocks),
      s"nearDupWideSimhashFamily(autoProbe = true) needs 1 <= maxHamming " +
        s"< $SimhashBlocks (the selector's narrow/wide equivalence " +
        s"domain), got $maxHamming — pin the wide layout (autoProbe = " +
        "false) for larger budgets")
    require(countsDir.isEmpty || autoProbe,
      "nearDupWideSimhashFamily: countsDir is the auto selector's " +
        "decision cache — it has no meaning without autoProbe = true")
    def sigs(df: DataFrame) = df.select(col("id").as("doc_id"),
      graft.functions.FusedMinHashFunctions
        .polySimhash(col("text"), mod1, mod2).as("sh"))
    // ONE materialized signature frame per fresh-reps frame, shared by
    // the batch-internal pair stage AND the probe (the fold calls both
    // with the same frame): without the memo each consumer re-hashed
    // the batch's text. Identity-keyed, one entry — the fold uses one
    // fresh frame at a time.
    val sigMemo = new java.util.IdentityHashMap[DataFrame, DataFrame]()
    def batchSigs(df: DataFrame): DataFrame = sigMemo.synchronized {
      Option(sigMemo.get(df)).getOrElse {
        val m = materialize(sigs(df))
        sigMemo.clear(); sigMemo.put(df, m); m
      }
    }
    val pf: DataFrame => DataFrame = reps =>
      // same derivation simhashPairsPortableWide(reps, "id", "text", …)
      // runs — poly-simhash then the wide-key pair stage — but from the
      // shared materialized signatures (suite law: pair sets identical)
      hash64PairsWide(batchSigs(reps), "doc_id", "sh", maxHamming, blocks,
        maxBucket = 0)
    val probe: (DataFrame, DataFrame) => DataFrame = (fresh, hist) => {
      val hits = (autoProbe, sigCacheDir) match {
        case (false, None) =>
          hash64AgainstHistoryWide(sigs(fresh), sigs(hist),
            maxHamming = maxHamming, blocks = blocks, maxBucket = 0)
        case _ =>
          // the caches and the selector each consume the batch side —
          // cut the poly-simhash derivation over the batch's text ONCE
          // (measured 1.6× the whole fold at sf0.1 without the cut);
          // policy per the caller, like the fold's own materialize
          val bs = batchSigs(fresh)
          val (hs, hn) = sigCacheDir match {
            case Some(sd) =>
              // history signatures from STATE: each rep was hashed once
              // when it entered; per-fold history work is a 16-byte-row
              // read, never a text re-hash. ONE reps count serves this
              // tripwire and (below) the counts cache's — from parquet
              // footers when the reps frame is a plain chunk-table scan
              // (the *Table fold path), a count() job otherwise.
              val n = graft.util.PlanCounts.rowCount(hist)
              (SigCache.ensureAndFold(fresh.sparkSession, sd, hist, bs,
                mod1, mod2, n), Some(n))
            case None => (materialize(sigs(hist)), None)
          }
          if (!autoProbe)
            hash64AgainstHistoryWide(bs, hs,
              maxHamming = maxHamming, blocks = blocks, maxBucket = 0)
          else countsDir match {
            case Some(cd) =>
              // decide from persisted history counts AND fold the
              // batch's counts in one fused call: `fresh` is exactly
              // the rep rows the composed fold appends, so the cache
              // equals the committed reps the moment the epoch swaps
              // (a crash in between trips the row-count check and
              // rebuilds losslessly)
              val d = Hash64Counts.decideAndFold(fresh.sparkSession, cd,
                bs, hs, "sh", blocks, maxHamming, hn)
              logLayoutDecision("nearDupWideSimhashFamily", d)
              (if (d.useWide) hash64AgainstHistoryWide(bs, hs,
                maxHamming = maxHamming, blocks = blocks, maxBucket = 0)
              else hash64AgainstHistory(bs, hs,
                maxHamming = maxHamming, maxBucket = 0))
            case None =>
              hash64AgainstHistoryAuto(bs, hs,
                maxHamming = maxHamming, blocks = blocks,
                maxBucket = 0).result
          }
      }
      hits.select(col("doc_id").as("id_a"), col("hist_id").as("id_b"))
    }
    (pf, probe)
  }

  /** Generic cross-batch pair probe for [[nearDupCanonicalizeIncrement]]:
    * run `pairsOf` over new-reps ∪ history-reps and keep pairs touching
    * at least one new id. Correct for ANY pair operator (the fallback
    * that makes the fold law hold unconditionally), but it re-pairs the
    * history representatives each batch — production swaps a persisted
    * signature-index probe ([[hash64AgainstHistoryAutoTable]],
    * [[minhashAgainstHistoryTable]], [[semDedupAgainstHistoryTable]])
    * whose per-batch cost is semi-join-first bounded. History-internal
    * pairs are dropped here not for correctness (re-folding them is
    * idempotent under [[componentsWithHistory]]) but to keep the
    * contraction's edge volume O(batch). */
  def crossPairsByUnion(pairsOf: DataFrame => DataFrame)
      : (DataFrame, DataFrame) => DataFrame = (fresh, hist) => {
    val all = pairsOf(fresh.unionByName(hist))
    val fa = fresh.select(col("id").as("id_a"), lit(1).as("__na"))
    val fb = fresh.select(col("id").as("id_b"), lit(1).as("__nb"))
    all.join(fa, Seq("id_a"), "left").join(fb, Seq("id_b"), "left")
      .filter(col("__na").isNotNull || col("__nb").isNotNull)
      .select("id_a", "id_b")
  }

  /** Resolution table from the state trio: every seen doc mapped to its
    * cluster (`component` = min member id), the cluster's best member
    * (`canonical_id` = argmax(quality, then smallest id) — a single
    * max(struct) aggregate, never a window: an unbounded window over
    * `component` would buffer a degenerate giant cluster's whole
    * membership in one task), and `keep`. Component labels in `ccState`
    * are representative-space internals; this re-derives both public
    * columns from member sets, which is what makes them fold-invariant.
    * `member` feeds both the per-cluster argmax and the final join, so
    * its fp-keyed join materializes once under `materialize` (same
    * policy/contract as the fold's rep cut). */
  def nearDupResolution(docsState: DataFrame, repsState: DataFrame,
      ccState: DataFrame,
      materialize: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    val repComp = repsState.select(col("fp"), col("id").as("__rep"))
      .join(ccState.withColumnRenamed("id", "__rep"), Seq("__rep"), "left")
      .select(col("fp"), coalesce(col("component"), col("__rep")).as("__comp"))
    val member = materialize(docsState.join(repComp, Seq("fp")))
    val best = member.groupBy("__comp").agg(
        min(col("id")).as("component"),
        max(struct(col("quality"), (-col("id")).as("nid"))).as("__m"))
      .select(col("__comp"), col("component"), (-col("__m.nid")).as("canonical_id"))
    member.join(best, Seq("__comp"))
      .select(col("id"), col("component"), col("canonical_id"),
        (col("id") === col("canonical_id")).as("keep"))
  }
}
