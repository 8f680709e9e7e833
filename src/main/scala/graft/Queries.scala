package graft

import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The engine's query inventory — one entry per operator from SURVEY.md §2.B
  * plus the large-scale training-data operators (dedup / similarity / text
  * analysis / multimodal).
  *
  * Each query is a (SparkSession, sfDir) => DataFrame paired, where
  * ANSI-expressible, with DuckDB oracle SQL over the same parquet tables.
  * Determinism rules (the driver hash-compares values):
  *  - monetary aggregates go through exact decimal sums then one cast to
  *    double (`dsum`) so float addition order can never change the result;
  *  - every query ends in a total ORDER BY;
  *  - aggregate/computed columns carry identical aliases on both sides.
  */
object Queries {

  case class QueryDef(build: (SparkSession, String) => DataFrame, oracle: Option[String])

  /** Input-table schemas, inferred ONCE per table version and reused —
    * the role a catalog/metastore plays in production (guide §6:
    * manifest metadata over re-derivation). Every `spark.read.parquet`
    * call otherwise launches a footer schema-inference job (~30 ms),
    * and the board's 197 queries pay it per table read per round —
    * ~10 s of pure fixed cost at sf0.1. An entry holds the table's
    * (modification time, length) next to its schema, so a table
    * rewritten in-process is inferred again instead of being read with
    * a stale schema (which would null-fill its renamed or retyped
    * columns). Checking costs one file-status call, or one listing for a
    * directory table. */
  private val tableSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      ((Long, Long), org.apache.spark.sql.types.StructType)]()

  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val version = tableVersion(spark, path)
    val cached = tableSchemaCache.get(path)
    if (cached != null && version.contains(cached._1))
      spark.read.schema(cached._2).parquet(path)
    else {
      val df = spark.read.parquet(path)
      version.foreach(v => tableSchemaCache.put(path, (v, df.schema)))
      df
    }
  }

  /** (modification time, length) of a table file; for a directory the
    * newest modification time and the summed length over it and its
    * entries. None when the path is missing: the read reports that. */
  private def tableVersion(spark: SparkSession, path: String): Option[(Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      val all = if (st.isDirectory) st +: fs.listStatus(p).toSeq else Seq(st)
      Some((all.map(_.getModificationTime).max, all.map(_.getLen).sum))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Deterministic conversation derivation shared by the SFT family's
    * Spark side and its oracles: conv = doc_id div 4, turn order =
    * doc_id % 4, roles alternate user/assistant by doc parity.
    * `turn_doc_id` retains the source doc_id so queries can plant
    * per-turn structure (e.g. the assistant-dedup answer cycle). */
  private def sftTurns(docs: DataFrame): DataFrame =
    docs.select(expr("doc_id div 4").as("conv_id"),
      (col("doc_id") % 4).as("turn_idx"),
      when(col("doc_id") % 2 === 0, "user").otherwise("assistant").as("role"),
      col("text").as("content"), col("doc_id").as("turn_doc_id"))

  /** The DuckDB CTE mirroring [[sftTurns]] (spliced as `WITH $SftTurnsSql`). */
  private val SftTurnsSql: String =
    """turns AS (
      |  SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn_idx,
      |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    text AS content, doc_id AS turn_doc_id
      |  FROM documents)""".stripMargin

  /** Deterministic preference-pair derivation shared by the RLHF-QC
    * queries and their oracles: adjacent docs pair up (even=chosen,
    * odd=rejected), prompts cycle 50 ways so duplicates occur, and
    * pair_id%17==3 plants degenerate pairs. */
  private def prefPairs(docs: DataFrame): DataFrame = {
    val p0 = docs.groupBy(expr("doc_id div 2").as("pair_id"))
      .agg(max(when(col("doc_id") % 2 === 0, col("text"))).as("chosen"),
        max(when(col("doc_id") % 2 === 1, col("text"))).as("rejected"))
    p0.filter(col("chosen").isNotNull && col("rejected").isNotNull)
      .select(col("pair_id"),
        concat(lit("q "), (col("pair_id") % 50).cast("string")).as("prompt"),
        col("chosen"),
        when(col("pair_id") % 17 === 3, col("chosen"))
          .otherwise(col("rejected")).as("rejected"))
  }

  /** The DuckDB CTE mirroring [[prefPairs]] (spliced as `WITH $PrefPairsSql`). */
  private val PrefPairsSql: String =
    """p0 AS (
      |  SELECT doc_id // 2 AS pair_id,
      |    MAX(CASE WHEN doc_id % 2 = 0 THEN text END) AS chosen,
      |    MAX(CASE WHEN doc_id % 2 = 1 THEN text END) AS rejected
      |  FROM documents GROUP BY doc_id // 2),
      |pairs AS (
      |  SELECT pair_id, 'q ' || CAST(pair_id % 50 AS VARCHAR) AS prompt,
      |    chosen,
      |    CASE WHEN pair_id % 17 = 3 THEN chosen ELSE rejected END AS rejected
      |  FROM p0 WHERE chosen IS NOT NULL AND rejected IS NOT NULL)""".stripMargin

  /** [[t]] plus a spread across the session's cores — for the COMPUTE-heavy
    * operators (gram explosion, signatures, edit distance, LM scoring)
    * whose input here is a single-row-group local parquet: Spark cannot
    * split one parquet row group, so without this the expensive map stage
    * runs as ONE task no matter the core count (measured 4.5× on
    * d_novelty). The shuffled bytes are just the small table itself; at
    * corpus scale the source arrives many-partitioned and callers use the
    * plain scan. Cheap scan-dominated queries keep [[t]] — an extra
    * exchange would cost more than it spreads. Measured per-query before
    * adopting: keep only where it won (novelty 5.8→1.3, ngram_jaccard
    * 7.1→4.9, dup_profile 2.2→1.1, dsir 2.1→1.6); it LOSES where the
    * design keeps the corpus shuffle-free (contamination: index
    * broadcasts, +0.6 s) or where repartition strips the scan stats a
    * broadcast decision needs (fuzzy_join 4.6→9.8). */
  private def tSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    t(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)

  /** Scratch dir for the Delta lifecycle queries: a FIXED per-process
    * path per tag, recursively cleared on every invocation — bench
    * repeat rounds and correctness runs reuse one table copy instead of
    * leaking a fresh temp directory per execution (the whole root is
    * removed when the JVM exits). */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-q-scratch-${ProcessHandle.current().pid()}")
    sys.addShutdownHook(org.apache.hadoop.fs.FileSystem
      .getLocal(new org.apache.hadoop.conf.Configuration())
      .delete(new org.apache.hadoop.fs.Path(p.toString), true))
    p
  }

  private def scratch(s: SparkSession, tag: String): String = {
    val dir = new org.apache.hadoop.fs.Path(scratchRoot.toString, tag)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
    fs.mkdirs(dir)
    dir.toString
  }

  /** Oracle scaffolding shared by the composed near-dup canonicalization
    * queries: rep selection per text group, then caller-supplied CTEs
    * producing `pairs(ia, ib)` over rep ids, then the recursive-CTE
    * transitive closure and the member-set resolution — component =
    * MIN(doc_id) over the cluster, canonical = argmax(n_chars DESC,
    * doc_id ASC) via ROW_NUMBER. Rep selection here is min-id-per-text;
    * the fold may pick a different member (first batch's minimum), which
    * changes internal labels only — identical texts give identical
    * pairs, so member SETS and both resolution columns are invariant. */
  private def nearDupCanonicalOracle(pairCtes: String,
      where: String = "TRUE"): String =
    s"""WITH RECURSIVE
       |reps AS (SELECT doc_id AS id, text FROM (
       |  SELECT doc_id, text,
       |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |  FROM documents WHERE $where) WHERE rn = 1),
       |$pairCtes,
       |sym AS (SELECT ia AS a, ib AS b FROM pairs
       |  UNION SELECT ib, ia FROM pairs),
       |reach(id, r) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
       |pnodes AS (SELECT DISTINCT a AS id FROM sym),
       |compmap AS (SELECT n.id AS id, LEAST(n.id, MIN(reach.r)) AS comp
       |  FROM pnodes n JOIN reach ON reach.id = n.id GROUP BY n.id),
       |repmap AS (SELECT r.text, COALESCE(c.comp, r.id) AS comp
       |  FROM reps r LEFT JOIN compmap c ON c.id = r.id),
       |member AS (SELECT d.doc_id, d.n_chars, m.comp
       |  FROM documents d JOIN repmap m ON d.text = m.text
       |  WHERE $where),
       |best AS (SELECT comp, component, canonical_id FROM (
       |  SELECT comp, MIN(doc_id) OVER (PARTITION BY comp) AS component,
       |    doc_id AS canonical_id,
       |    ROW_NUMBER() OVER (PARTITION BY comp
       |      ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM member) WHERE rn = 1)
       |SELECT m.doc_id AS id, b.component, b.canonical_id,
       |  m.doc_id = b.canonical_id AS keep
       |FROM member m JOIN best b USING (comp)
       |ORDER BY id""".stripMargin

  /** Pair CTEs for [[nearDupCanonicalOracle]]: the d_ngram_jaccard
    * filter (exact 12-gram Jaccard >= 0.8) over the reps. */
  private val nearDupJaccardPairsCte: String =
    """grams AS (SELECT id, UNNEST(LIST_DISTINCT(
      |    CASE WHEN LENGTH(text) < 12 THEN [text]
      |         ELSE [text[i:i+11] FOR i IN RANGE(1, LENGTH(text) - 10)]
      |    END)) AS g
      |  FROM reps),
      |counts AS (SELECT id, COUNT(*) AS n FROM grams GROUP BY 1),
      |inter AS (SELECT a.id AS ia, b.id AS ib, COUNT(*) AS i
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.id < b.id
      |  GROUP BY 1, 2),
      |pairs AS (SELECT ia, ib FROM inter
      |  JOIN counts ca ON ca.id = inter.ia
      |  JOIN counts cb ON cb.id = inter.ib
      |  WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) >= 0.8)"""
      .stripMargin

  /** Shared DuckDB replay of the wide-key poly-simhash derivation —
    * ONE definition for every oracle that keys 64-bit signatures
    * (d_simhash_pairs_poly_wide, d_hash64_history_poly, the composed
    * canonicalization): emits CTEs `toks/th/hs/sig/bk` computing each
    * row's poly-31 simhash `sh` and its 3-of-6 combination keys
    * `(combo, key)` over `rel`, a relation exposing columns
    * `(id, text)`. A fix to the signature fold or the key packing now
    * lands in one place instead of silently desynchronizing an oracle
    * from the operator. */
  private[graft] def polySimhashWideKeyCtes(rel: String): String = {
    val (widths, offsets, combos) =
      graft.operators.Dedup.wideBlockLayout(6, 3)
    val keyEntries = combos.zipWithIndex.map { case (c, ci) =>
      val terms = c.zipWithIndex.map { case (j, k) =>
        val shiftUp = c.drop(k + 1).map(widths(_)).sum
        s"((sh // ${1L << offsets(j)}) % ${1L << widths(j)})" +
          (if (shiftUp > 0) s" * ${1L << shiftUp}" else "")
      }.mkString(" + ")
      s"{'combo': $ci, 'key': $terms}"
    }.mkString(",\n    ")
    s"""toks AS (SELECT id, UNNEST(STRING_SPLIT(text, ' ')) AS w
       |  FROM $rel),
       |th AS (
       |  SELECT id,
       |    LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
       |      [CAST(ascii(c) AS BIGINT)
       |       FOR c IN STRING_SPLIT(w, '')]),
       |      (h, cp) -> (h * 31 + cp) % 2147483647) * 2147483648
       |    + LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
       |      [CAST(ascii(c) AS BIGINT)
       |       FOR c IN STRING_SPLIT(w, '')]),
       |      (h, cp) -> (h * 31 + cp) % 1073741789) AS h
       |  FROM toks),
       |hs AS (SELECT id, LIST(h) AS hl FROM th GROUP BY 1),
       |sig AS (
       |  SELECT id, LIST_SUM([
       |      CASE WHEN LIST_SUM([
       |        CASE WHEN (x // (CAST(1 AS BIGINT) << b)) % 2 = 1
       |          THEN 1 ELSE -1 END
       |        FOR x IN hl]) > 0
       |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
       |    FOR b IN RANGE(0, 62)]) AS sh
       |  FROM hs),
       |bk AS (
       |  SELECT id, sh, UNNEST([
       |    $keyEntries
       |  ], recursive := true)
       |  FROM sig)""".stripMargin
  }

  /** DuckDB replay of the NARROW (Manku 4×16-bit) key derivation —
    * `bkn(id, sh, block, key)` over the `sig` CTE
    * [[polySimhashWideKeyCtes]] emits; mirrors `manku16BlockKeys`
    * (disjoint 16-bit windows, plain integer arithmetic — the poly
    * signature is 62-bit non-negative so `//` equals the unsigned
    * shift). Used by the auto-selector oracles, which must re-derive
    * BOTH layouts' exact volumes to replay the decision. */
  private val polySimhashNarrowKeyCte: String = {
    val entries = (0 until 4).map(j =>
      s"{'block': $j, 'key': (sh // ${1L << (16 * j)}) % 65536}")
      .mkString(",\n    ")
    s"""bkn AS (
       |  SELECT id, sh, UNNEST([
       |    $entries
       |  ], recursive := true)
       |  FROM sig)""".stripMargin
  }

  /** Decision CTE for the hash64 auto-selector oracles: re-derives both
    * layouts' exact costs (`keyRows + candidates`) from the same key
    * derivations the joins use and replays the argmin (strict `>`, so
    * ties go narrow — exactly `Dedup.decide`). Key-row totals COUNT the
    * exploded key CTEs themselves (`bkn`/`bk`) — the oracle mirrors the
    * measured Σc for ANY parameterization instead of hardcoding the
    * 4/20 keys-per-doc of the pinned blocks=6/maxHamming=3 layout.
    * `ncand`/`wcand` are the caller's per-layout candidate-volume CTEs
    * (pairs: Σ c·(c−1)/2; probe: Σ b·h), each exposing one column
    * `cand`. */
  private val hash64DecisionCte: String =
    s"""nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS keyrows FROM bkn),
       |wc AS (SELECT CAST(COUNT(*) AS BIGINT) AS keyrows FROM bk),
       |dec AS (SELECT
       |    CASE WHEN nc.keyrows + ncand.cand > wc.keyrows + wcand.cand
       |      THEN 'wide' ELSE 'narrow' END AS layout,
       |    CAST(nc.keyrows + ncand.cand AS BIGINT) AS narrow_cost,
       |    CAST(wc.keyrows + wcand.cand AS BIGINT) AS wide_cost
       |  FROM nc, ncand, wc, wcand)""".stripMargin

  /** Pair CTEs for [[nearDupCanonicalOracle]]: the poly-simhash wide
    * combination keys over the reps, UNCAPPED — the fold law and the
    * rep-label invariance both require cap-free pair semantics (a
    * bucket cap ordered by rep id could truncate differently under
    * different rep choices). */
  private val nearDupSimhashPairsCte: String =
    s"""${polySimhashWideKeyCtes("reps")},
       |pairs AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib
       |  FROM bk a JOIN bk b
       |    ON a.combo = b.combo AND a.key = b.key AND a.id < b.id
       |  WHERE BIT_COUNT(XOR(a.sh, b.sh)) <= 3)""".stripMargin

  /** Corpus side of the semantic-decontamination queries: the non-eval
    * embeddings plus planted leaks — each `% 50` eval vector scaled by
    * 2f (an IEEE exponent bump: every product and partial sum doubles
    * EXACTLY, so the leak's cosine against its source is 1.0 bit-for-bit
    * in both engines) under id + 100000. */
  private def semanticDeconCorpus(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
            .as("embedding")))

  /** Shared oracle for both semantic-decontamination queries (the table
    * path is bit-identical to the in-memory path by construction).
    * Double-precision cosine spelled out (the e_ann_top1 parity rule);
    * argmax via struct MAX so ties break (cosine, bench_id)
    * lexicographically in both engines. */
  private val semanticDeconSql: String = {
    def dotSelf(x: String) =
      s"LIST_SUM(LIST_TRANSFORM($x, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    val cos = "LIST_SUM(LIST_TRANSFORM(LIST_ZIP(corp.e, ev.e), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / " +
      s"SQRT(${dotSelf("corp.e")} * ${dotSelf("ev.e")})"
    s"""WITH ev AS (
       |  SELECT vec_id AS bid, embedding AS e FROM embeddings
       |  WHERE vec_id % 10 = 0),
       |corp AS (
       |  SELECT vec_id, embedding AS e FROM embeddings
       |  WHERE vec_id % 10 <> 0
       |  UNION ALL
       |  SELECT vec_id + 100000,
       |    LIST_TRANSFORM(embedding, x -> CAST(x * 2 AS FLOAT))
       |  FROM embeddings WHERE vec_id % 50 = 0),
       |s AS (
       |  SELECT corp.vec_id AS id,
       |    MAX(struct_pack(c := $cos, b := ev.bid)) AS m
       |  FROM corp, ev GROUP BY corp.vec_id)
       |SELECT id, m.b AS bench_id, ROUND(m.c, 4) AS cosine,
       |  m.c >= 0.99 AS contaminated
       |FROM s ORDER BY id""".stripMargin
  }

  /** Deterministic double sum: exact decimal accumulation, then one cast. */
  private def dsum(c: Column): Column =
    round(sum(c.cast(DecimalType(30, 6))).cast("double"), 2)
  /** Matching DuckDB SQL for dsum. */
  private def dsumSql(e: String): String =
    s"ROUND(CAST(SUM(CAST($e AS DECIMAL(30,6))) AS DOUBLE), 2)"

  /** Deterministic per-row rounding: Spark and DuckDB round doubles
    * differently at representation boundaries, so round in exact decimal
    * then cast. */
  private def dround(c: Column): Column =
    round(c.cast(DecimalType(30, 6)), 2).cast("double")
  private def droundSql(e: String): String =
    s"CAST(ROUND(CAST($e AS DECIMAL(30,6)), 2) AS DOUBLE)"

  /** events.ts dispatches on the READ dtype — nano-epoch LongType under
    * the TIMESTAMP(NANOS) generation, TimestampNTZ under TIMESTAMP_MICROS
    * — via [[graft.util.EventTime]]; DuckDB sees a native TIMESTAMP either
    * way, so the oracle SQL is generation-independent. */
  private def tsCol(df: DataFrame): Column = graft.util.EventTime.asTimestamp(df)

  /** orders with o_orderdate through the same dtype dispatch
    * (SCHEMA-ASSUMPTION: the generator has flipped timestamp physical
    * types before — events.ts, round 11; date columns would break the
    * same way). l_shipdate is unused by the inventory; add the same
    * wrapper if a query ever touches it. */
  private def tOrders(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
    o.withColumn("o_orderdate", graft.util.EventTime.asTimestamp(o, "o_orderdate"))
  }

  /** Planted cluster embeddings for the vector-operator oracles
    * (d_semdedup, e_ivf_top1): 10 tight clusters of integer-valued
    * 16-dim vectors derived from doc_id on BOTH engines. Integer
    * elements are exact in float32 AND double, and every dot/norm²
    * partial sum stays an exact integer < 2^53, so the cosines are
    * bit-identical across engines with zero FP fuzz; cross-cluster
    * cosine maxes at 0.34 (measured over this quadratic-residue base
    * family). */
  private def plantedVecs(s: SparkSession, d: String): DataFrame = {
    val g = col("doc_id") % 10
    t(s, d, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(15)), j =>
          (((g * 31 + j * 17 + g * j * 13) % 23 - 11) * 1000 +
            ((col("doc_id") * 13 + j * 7) % 17 - 8)).cast("float")).as("v"))
  }

  /** The matching DuckDB CTE body for [[plantedVecs]] (double-typed list
    * column `emb`). */
  private val plantedVecsSql: String =
    """SELECT doc_id,
      |    LIST_TRANSFORM(RANGE(0, 16), j -> CAST(
      |      (((doc_id % 10) * 31 + j * 17 + (doc_id % 10) * j * 13) % 23 - 11)
      |        * 1000 + ((doc_id * 13 + j * 7) % 17 - 8) AS DOUBLE)) AS emb
      |  FROM documents WHERE doc_id < 200""".stripMargin

  val stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is")

  /** Planted BPE model for the subword-tokenization oracles — a FIXED
    * model artifact, the way a real pipeline ships one (training is
    * separately oracle-gated by d_bpe_train). Base alphabet = the
    * corpus's observed code points (a-y, no x/z) MINUS 'q' — so 'query'
    * exercises the unk path, the d_tokenize_ids tiny-vocab trick at
    * char level — plus the ' ' separator; merges = the first 8 merges
    * Bpe.train learns on the full sf0.01 corpus (none involves 'q'). */
  private lazy val plantedBpe: graft.operators.Bpe.BpeModel =
    graft.operators.Bpe.BpeModel(
      " abcdefghijklmnoprstuvwy".map(_.toString),
      Seq("e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r", "s" -> "t",
        "m" -> "er", "a" -> "t", "l" -> "u"))

  /** [[plantedBpe]] in zero-OOV byte-fallback mode (byte ids start at
    * symbols.size + 1 = 33). */
  private lazy val plantedBpeFb: graft.operators.Bpe.BpeModel =
    plantedBpe.copy(byteFallback = true)

  /** Out-of-alphabet plant for the byte-fallback queries: 'q' (1-byte
    * UTF-8, outside the planted alphabet), 'é' (2-byte), '€' (3-byte),
    * and U+1D11E MUSICAL SYMBOL G CLEF (4-byte) — every UTF-8 width
    * reaches the hash compare. */
  private val bpePlant = " qé€" + new String(Character.toChars(0x1D11E))

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB replay of [[graft.functions.BpeCodec.segment]]'s greedy
    * rank rule as shared CTEs: `wids(w, ids)` maps every DISTINCT word
    * to its id sequence under [[plantedBpe]] (recursion runs over word
    * TYPES — ~31 here — never word instances), `docw(doc_id, ord, wd)`
    * positions each document's words. Each recursion step merges the
    * LEFTMOST occurrence of the MINIMUM-rank adjacent pair — exactly
    * equal to classic exhaustive-per-merge application (BpeCodec's
    * equivalence note) and to the Spark expression. `nullif(...,0)`
    * because DuckDB list_position signals a miss as 0. */
  private def bpeEncodeCtes: String =
    bpeEncodeCtesFor("text", byteFallback = false)

  /** As [[bpeEncodeCtes]], over an arbitrary text expression and
    * optionally under [[plantedBpeFb]]'s byte fallback: an id-table miss
    * (always a single code point — merges only produce table symbols)
    * maps to its UTF-8 byte ids, `byteBase + 1 + byte`, computed
    * ARITHMETICALLY from the code point (the UTF-8 encoding formulas —
    * pure integer CASE arithmetic, so the replay is engine-neutral). */
  private def bpeEncodeCtesFor(textExpr: String,
      byteFallback: Boolean): String = {
    val ml = plantedBpe.merges.map { case (l, r) => sqlStr(l + " " + r) }
      .mkString("[", ",", "]")
    val sl = plantedBpe.symbols.map(sqlStr).mkString("[", ",", "]")
    val b = plantedBpeFb.byteBase + 1
    val widsCte =
      if (!byteFallback)
        s"""wids AS (
           |  SELECT w, [coalesce(nullif(list_position($sl, s), 0), 0)
           |             FOR s IN syms] AS ids
           |  FROM (SELECT w, syms FROM seg
           |        QUALIFY row_number() OVER (PARTITION BY w
           |          ORDER BY step DESC) = 1))""".stripMargin
      else
        s"""wids AS (
           |  SELECT w, flatten([
           |      CASE WHEN list_position($sl, s) > 0
           |        THEN [list_position($sl, s)]
           |      WHEN unicode(s) < 128 THEN [$b + unicode(s)]
           |      WHEN unicode(s) < 2048 THEN
           |        [$b + 192 + unicode(s) // 64,
           |         $b + 128 + unicode(s) % 64]
           |      WHEN unicode(s) < 65536 THEN
           |        [$b + 224 + unicode(s) // 4096,
           |         $b + 128 + (unicode(s) // 64) % 64,
           |         $b + 128 + unicode(s) % 64]
           |      ELSE
           |        [$b + 240 + unicode(s) // 262144,
           |         $b + 128 + (unicode(s) // 4096) % 64,
           |         $b + 128 + (unicode(s) // 64) % 64,
           |         $b + 128 + unicode(s) % 64] END
           |    FOR s IN syms]) AS ids
           |  FROM (SELECT w, syms FROM seg
           |        QUALIFY row_number() OVER (PARTITION BY w
           |          ORDER BY step DESC) = 1))""".stripMargin
    s"""words AS (
       |  SELECT DISTINCT w FROM (
       |    SELECT UNNEST(STRING_SPLIT($textExpr, ' ')) AS w
       |    FROM documents)),
       |seg AS (
       |  SELECT w, [w[i] FOR i IN range(1, LEN(w)+1)] AS syms, 0 AS step
       |  FROM words
       |  UNION ALL
       |  SELECT w, syms[1:p-1] || [syms[p] || syms[p+1]] || syms[p+2:],
       |    step + 1
       |  FROM (
       |    SELECT w, syms, step, list_min(ranks) AS br,
       |           list_position(ranks, list_min(ranks)) AS p
       |    FROM (SELECT w, syms, step,
       |            [coalesce(nullif(list_position($ml,
       |               syms[i] || ' ' || syms[i+1]), 0), 999999)
       |             FOR i IN range(1, LEN(syms))] AS ranks
       |          FROM seg))
       |  WHERE br < 999999),
       |$widsCte,
       |docw AS (
       |  SELECT doc_id, UNNEST([{'ord': i, 'wd': ws[i]}
       |      FOR i IN range(1, LEN(ws)+1)], recursive := true)
       |  FROM (SELECT doc_id, STRING_SPLIT($textExpr, ' ') AS ws
       |        FROM documents))""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Bpe.trainMerges]]: `n` unrolled
    * iterations, each = one weighted adjacent-pair count over the word-
    * type segmentations (UNNEST counts overlapping occurrences, the
    * Sennrich get_stats rule), one (cnt DESC, l, r) argmax, and one
    * recursive leftmost-merge application of the winner. seg0 seeds
    * from code points; segK carries the table forward, mirroring the
    * incremental application every real trainer uses. */
  private def bpeTrainOracleSql(n: Int): String = {
    val head =
      s"""wf AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
         |    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
         |    FROM documents WHERE doc_id % 10 = 0)
         |  WHERE LEN(w) > 0 GROUP BY w),
         |seg0 AS (SELECT w, freq, [w[i] FOR i IN range(1, LEN(w)+1)] AS syms
         |  FROM wf)""".stripMargin
    val iters = (1 to n).map { k =>
      s"""p$k AS (
         |  SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, UNNEST([{'l': syms[i], 'r': syms[i+1]}
         |        FOR i IN range(1, LEN(syms))], recursive := true)
         |    FROM seg${k - 1})
         |  GROUP BY l, r),
         |m$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |r$k AS (
         |  SELECT w, freq, syms, 0 AS step FROM seg${k - 1}
         |  UNION ALL
         |  SELECT w, freq, syms[1:p-1] || [syms[p] || syms[p+1]] || syms[p+2:],
         |    step + 1
         |  FROM (SELECT w, freq, syms, step,
         |          list_position([syms[i] || ' ' || syms[i+1]
         |              FOR i IN range(1, LEN(syms))],
         |            (SELECT l || ' ' || r FROM m$k)) AS p
         |        FROM r$k)
         |  WHERE p >= 1),
         |seg$k AS (SELECT w, freq, syms FROM r$k
         |  QUALIFY row_number() OVER (PARTITION BY w ORDER BY step DESC) = 1)"""
        .stripMargin
    }
    val union = (1 to n)
      .map(k => s"SELECT $k AS merge_rank, l AS lhs, r AS rhs, cnt FROM m$k")
      .mkString("\nUNION ALL ")
    s"WITH RECURSIVE $head,\n${iters.mkString(",\n")}\n" +
      s"SELECT * FROM (\n$union)\nORDER BY merge_rank"
  }

  val defs: Map[String, QueryDef] = Map(

    // ----- filter / projection -------------------------------------------
    "q_filter_project" -> QueryDef(
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_quantity") > 30 && col("l_discount") <= 0.05)
        .select(col("l_orderkey"), col("l_linenumber"),
          dround(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some(s"""SELECT l_orderkey, l_linenumber,
              |  ${droundSql("l_extendedprice * (1 - l_discount)")} AS revenue
              |FROM lineitem WHERE l_quantity > 30 AND l_discount <= 0.05
              |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ----- aggregation (TPC-H Q1 shape) ----------------------------------
    "q_agg_pricing" -> QueryDef(
      (s, d) => tSpread(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${dsumSql("l_quantity")} AS sum_qty,
              |  ${dsumSql("l_extendedprice")} AS sum_base_price,
              |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
              |  COUNT(*) AS count_order
              |FROM lineitem GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ----- global aggregation --------------------------------------------
    "q_agg_global" -> QueryDef(
      (s, d) => tOrders(s, d).agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_revenue"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_order"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_order")),
      Some(s"""SELECT COUNT(*) AS n_orders,
              |  ${dsumSql("o_totalprice")} AS total_revenue,
              |  STRFTIME(MIN(o_orderdate), '%Y-%m-%d') AS first_order,
              |  STRFTIME(MAX(o_orderdate), '%Y-%m-%d') AS last_order
              |FROM orders""".stripMargin)),

    // ----- ranking window functions (rank / lag over a partition) --------
    "q_window_rank" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            rank().over(w).cast("long").as("rk"),
            lag("o_orderkey", 1).over(w).as("prev_key"))
          .filter(col("rk") <= 2)
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, rk, prev_key FROM (
             |  SELECT o_custkey, o_orderkey,
             |    RANK() OVER w AS rk,
             |    LAG(o_orderkey, 1) OVER w AS prev_key
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_custkey
             |               ORDER BY o_totalprice DESC, o_orderkey))
             |WHERE rk <= 2 ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ----- distribution-rank windows (ntile / percent_rank / cume_dist) --
    // The remaining ranking family: tile assignment and the two
    // distribution ranks, all over a fully-deterministic order (price
    // desc, key tiebreak). percent_rank is (rank-1)/(n-1) — a ratio of
    // small exact integers, so the double is bit-identical cross-engine;
    // round(·,4) belts it anyway. One window exchange per partition key.
    "q_window_ntile" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(percent_rank().over(w), 4).as("pct_rank"),
            round(cume_dist().over(w), 4).as("cdist"))
          .filter(col("quartile") === 1)
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, quartile, pct_rank, cdist FROM (
             |  SELECT o_custkey, o_orderkey,
             |    CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
             |    ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
             |    ROUND(CUME_DIST() OVER w, 4) AS cdist
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_custkey
             |               ORDER BY o_totalprice DESC, o_orderkey))
             |WHERE quartile = 1 ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ----- error-tolerant functions (TRY family) --------------------------
    // NULL-on-failure semantics pinned cell by cell: malformed casts,
    // division by zero, and bigint overflow all read NULL instead of
    // failing the job — the ingestion posture a dirty 100 TB corpus
    // needs. The oracle replays each failure condition explicitly
    // (DuckDB TRY_CAST matches; overflow/zero-div spell out as CASEs —
    // fractional strings stay out of the plant: the engines round
    // string→int differently and that's a cast-dialect gap, not a TRY
    // semantics one).
    "q_try_funcs" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, col("doc_id").cast("string"))
            .when(col("doc_id") % 3 === 1, lit("junk"))
            .otherwise(lit("")).as("raw"))
        .select(col("doc_id"),
          expr("try_cast(raw AS BIGINT)").as("parsed"),
          round(expr("try_divide(doc_id, doc_id % 5)"), 4).as("ratio"),
          expr("try_add(9223372036854775800L, doc_id)").as("near_max"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  TRY_CAST(CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS VARCHAR)
             |    WHEN doc_id % 3 = 1 THEN 'junk' ELSE '' END AS BIGINT)
             |    AS parsed,
             |  ROUND(CAST(doc_id AS DOUBLE) / NULLIF(doc_id % 5, 0), 4)
             |    AS ratio,
             |  CASE WHEN doc_id > 7 THEN NULL
             |       ELSE 9223372036854775800 + doc_id END AS near_max
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- rollup (grouping-set subtotals + grand total) -----------------
    // Spark's rollup and DuckDB's GROUP BY ROLLUP must agree cell for
    // cell, including the NULL subtotal rows (Spark sorts nulls first by
    // default; the oracle pins NULLS FIRST to match).
    "q_rollup" -> QueryDef(
      (s, d) => t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              |  ${dsumSql("l_quantity")} AS sum_qty
              |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin)),

    // ----- CUBE with grouping_id ------------------------------------------
    // All four grouping-set combinations in one pass; grouping_id
    // disambiguates a genuine NULL group key from a rolled-up one (both
    // engines put the first cube column in the most-significant bit).
    "q_cube" -> QueryDef(
      (s, d) => t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  GROUPING(l_returnflag, l_linestatus) AS gid,
              |  COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
              |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin)),

    // ----- explicit GROUPING SETS (SQL surface) ---------------------------
    // An asymmetric set list CUBE/ROLLUP can't express: per-flag, per-status,
    // and grand total — but never the (flag, status) pairs.
    "q_grouping_sets" -> QueryDef(
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("gs_lineitem")
        s.sql(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                 |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE), 2) AS sum_qty
                 |FROM gs_lineitem
                 |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                 |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
          .stripMargin)
      },
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              |  ${dsumSql("l_quantity")} AS sum_qty
              |FROM lineitem
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin)),

    // ----- regexp_extract_all (pattern in the Java/RE2 common subset) -----
    "q_regexp_extract_all" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z]{5,}"), lit(0)))
            .as("n_long_words"),
          concat_ws(",", slice(
            regexp_extract_all(col("text"), lit("[a-z]{5,}"), lit(0)), 1, 3))
            .as("first3"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  LEN(REGEXP_EXTRACT_ALL(text, '[a-z]{5,}')) AS n_long_words,
             |  ARRAY_TO_STRING(LIST_SLICE(
             |    REGEXP_EXTRACT_ALL(text, '[a-z]{5,}'), 1, 3), ',') AS first3
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- Pearson correlation / regression slope from exact sums ---------
    // corr()'s one-pass co-moment accumulation is addition-order-dependent,
    // so both engines instead compute the five EXACT decimal sums and then
    // evaluate the IDENTICAL double expression tree — every FP op
    // correctly-rounded on identical inputs, bit-stable across engines.
    "q_stats_corr" -> QueryDef(
      (s, d) => {
        val x = col("l_quantity").cast(DecimalType(18, 2))
        val y = col("l_extendedprice").cast(DecimalType(18, 2))
        val agg = t(s, d, "lineitem").groupBy("l_returnflag")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
            sum(x * x).cast("double").as("sxx"),
            sum(y * y).cast("double").as("syy"),
            sum(x * y).cast("double").as("sxy"))
        agg.select(col("l_returnflag"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr_qp"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("beta_qp"))
          .orderBy("l_returnflag")
      },
      Some("""WITH a AS (
             |  SELECT l_returnflag,
             |    CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
             |      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
             |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag,
             |  ROUND((n * sxy - sx * sy) /
             |    SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qp,
             |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta_qp
             |FROM a ORDER BY l_returnflag""".stripMargin)),

    // ----- RANGE-frame window (value-based, not row-based) ----------------
    // Running revenue per customer over an ORDER-KEY DISTANCE window: rows
    // whose key is within 5 of the current row's — a peer-inclusive frame
    // ROWS BETWEEN cannot express.
    "q_window_range" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderkey").cast("long")).rangeBetween(-5L, 0L)
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            round(sum(col("o_totalprice").cast(DecimalType(30, 6))).over(w)
              .cast("double"), 2).as("near_rev"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderkey
             |    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
             |    AS near_rev
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ----- FILTER-clause conditional aggregates ---------------------------
    "q_agg_filter" -> QueryDef(
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("af_lineitem")
        s.sql(s"""SELECT l_returnflag,
                 |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
                 |  COUNT(*) FILTER (WHERE l_tax = 0) AS n_taxfree,
                 |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6)))
                 |    FILTER (WHERE l_discount > 0.05) AS DOUBLE), 2)
                 |    AS qty_discounted
                 |FROM af_lineitem GROUP BY l_returnflag
                 |ORDER BY l_returnflag""".stripMargin)
      },
      Some(s"""SELECT l_returnflag,
              |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
              |  COUNT(*) FILTER (WHERE l_tax = 0) AS n_taxfree,
              |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6)))
              |    FILTER (WHERE l_discount > 0.05) AS DOUBLE), 2)
              |    AS qty_discounted
              |FROM lineitem GROUP BY l_returnflag
              |ORDER BY l_returnflag""".stripMargin)),

    // ----- approximate percentile with a rank-error gate ------------------
    // Spark's approx_percentile (Greenwald-Khanna) guarantees RANK error
    // <= eps*n, never value error — so the oracle-checkable contract is
    // the rank of the returned value: the fraction of rows at or below
    // the approx median must sit in [0.5 - eps, 0.5 + eps] (plus ties).
    // Emitted values are the exact counts and the gate flag (recall_ok
    // pattern); the approximate value itself never reaches the hash.
    "q_approx_percentile" -> QueryDef(
      (s, d) => {
        val li = t(s, d, "lineitem")
        val ap = li.groupBy("l_returnflag")
          .agg(expr("approx_percentile(CAST(l_extendedprice AS DOUBLE), 0.5, 10000)")
            .as("ap"), count(lit(1)).as("n"))
        li.join(ap, Seq("l_returnflag"))
          .groupBy(col("l_returnflag"))
          .agg(first(col("n")).as("n_rows"),
            sum(when(col("l_extendedprice").cast("double") <= col("ap"), 1L)
              .otherwise(0L)).as("__le"),
            sum(when(col("l_extendedprice").cast("double") < col("ap"), 1L)
              .otherwise(0L)).as("__lt"))
          .select(col("l_returnflag"), col("n_rows"),
            (col("__lt") <= col("n_rows") * 0.501 &&
              col("__le") >= col("n_rows") * 0.499).as("rank_ok"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows, TRUE AS rank_ok
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ----- correlated EXISTS / NOT EXISTS subqueries ----------------------
    // The SQL decorrelation surface: Catalyst rewrites both predicates into
    // the same semi/anti joins the DataFrame API plans — the point is that
    // the SQL spelling reaches the identical physical shape.
    "q_exists_subquery" -> QueryDef(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("ex_customer")
        tOrders(s, d).createOrReplaceTempView("ex_orders")
        s.sql("""SELECT c_custkey, c_mktsegment FROM ex_customer c
                |WHERE EXISTS (SELECT 1 FROM ex_orders o
                |              WHERE o.o_custkey = c.c_custkey
                |                AND o.o_totalprice > 150000)
                |  AND NOT EXISTS (SELECT 1 FROM ex_orders o
                |                  WHERE o.o_custkey = c.c_custkey
                |                    AND o.o_orderstatus = 'F'
                |                    AND o.o_totalprice < 5000)
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey
             |                AND o.o_totalprice > 150000)
             |  AND NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey
             |                    AND o.o_orderstatus = 'F'
             |                    AND o.o_totalprice < 5000)
             |ORDER BY c_custkey""".stripMargin)),

    // ----- correlated scalar subqueries -----------------------------------
    // Orders above their customer's own average — the decorrelated
    // aggregate-join rewrite. "price > avg" is spelled as the EXACT
    // cross-multiplication `price * n > sum` (integer count, exact
    // decimal sum) so no engine's average rounding can flip a row that
    // sits on the boundary.
    "q_scalar_subquery" -> QueryDef(
      (s, d) => {
        tOrders(s, d).createOrReplaceTempView("sc_orders")
        s.sql("""SELECT o_orderkey, o_custkey FROM sc_orders o
                |WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
                |    (SELECT COUNT(*) FROM sc_orders i
                |     WHERE i.o_custkey = o.o_custkey) >
                |  (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                |   FROM sc_orders i WHERE i.o_custkey = o.o_custkey)
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey FROM orders o
             |WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
             |    (SELECT COUNT(*) FROM orders i
             |     WHERE i.o_custkey = o.o_custkey) >
             |  (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |   FROM orders i WHERE i.o_custkey = o.o_custkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // ----- mergeable HLL distinct-count sketches ---------------------------
    // The 100 TB distinct-count story: per-partition Apache DataSketches
    // HLL sketches union WITHOUT re-scanning (register-max merge is
    // order-independent, so the estimate is deterministic) — here per-flag
    // sketches union into the global estimate, checked against the exact
    // count within 5% (the recall_ok contract: emitted values are EXACT,
    // the sketch only contributes a gate flag any estimator regression
    // flips).
    "q_approx_distinct" -> QueryDef(
      (s, d) => {
        // ONE corpus scan: dedupe (flag, orderkey) once, then every
        // count/sketch derives from that small frame — HLL is
        // duplicate-insensitive, so sketching the distinct pairs is
        // identical to sketching the raw rows, and the per-flag
        // countDistinct Expand never plans. (The first formulation
        // scanned the 6M-row table twice — per-flag distinct agg plus a
        // global countDistinct — for 2.6 s; this shape halves it.)
        val pairs = t(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey")).distinct()
        val perFlag = pairs.groupBy("l_returnflag")
          .agg(hll_sketch_agg(col("l_orderkey")).as("sk"),
            count(lit(1)).as("exact_nd"))
        val flagRows = perFlag.select(col("l_returnflag"), col("exact_nd"),
          (abs(hll_sketch_estimate(col("sk")) - col("exact_nd")) <=
            col("exact_nd") * 0.05).as("approx_ok"))
        val globalExact = pairs.agg(
          countDistinct(col("l_orderkey")).as("exact_nd"))
        val merged = perFlag.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
          .crossJoin(globalExact)
          .select(lit("ALL").as("l_returnflag"), col("exact_nd"),
            (abs(col("est") - col("exact_nd")) <= col("exact_nd") * 0.05)
              .as("approx_ok"))
        flagRows.unionByName(merged).orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_nd,
             |  TRUE AS approx_ok
             |FROM lineitem GROUP BY l_returnflag
             |UNION ALL
             |SELECT 'ALL', COUNT(DISTINCT l_orderkey), TRUE FROM lineitem
             |ORDER BY l_returnflag""".stripMargin)),

    // ----- navigation window functions (lead/lag/first/nth/ntile) ---------
    "q_window_leadlag" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            lag(col("o_orderkey"), 1).over(w).as("prev_key"),
            lead(col("o_orderkey"), 1).over(w).as("next_key"),
            first(col("o_orderkey")).over(w).as("first_key"),
            nth_value(col("o_orderkey"), 2).over(w).as("second_key"),
            ntile(4).over(w).as("quartile"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  LAG(o_orderkey, 1) OVER w AS prev_key,
             |  LEAD(o_orderkey, 1) OVER w AS next_key,
             |  FIRST_VALUE(o_orderkey) OVER w AS first_key,
             |  NTH_VALUE(o_orderkey, 2) OVER w AS second_key,
             |  NTILE(4) OVER w AS quartile
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ----- UNPIVOT (wide → long; the inverse of q_pivot) ------------------
    "q_unpivot" -> QueryDef(
      (s, d) => t(s, d, "part")
        .select(col("p_partkey"),
          col("p_size").cast("double").as("size"),
          col("p_retailprice").cast("double").as("retail"))
        .unpivot(Array(col("p_partkey")),
          Array(col("size"), col("retail")), "metric", "val")
        .orderBy("p_partkey", "metric"),
      Some("""SELECT p_partkey, metric, val FROM (
             |  SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,
             |    CAST(p_retailprice AS DOUBLE) AS retail FROM part)
             |UNPIVOT (val FOR metric IN (size, retail))
             |ORDER BY p_partkey, metric""".stripMargin)),

    // ----- exact interpolated percentiles --------------------------------
    // Spark `percentile` and DuckDB `quantile_cont` both do linear
    // interpolation over the sorted values; double inputs + decimal-rounded
    // outputs make the comparison representation-stable.
    // plain [[t]], NOT tSpread: percentile is a TypedImperativeAggregate
    // whose partial state is the value buffer itself — 32 spread partials
    // serialize and re-merge every value and measured SLOWER than one
    // in-place partial (1.47 -> 1.96 s).
    "q_percentile" -> QueryDef(
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(CAST(l_quantity AS DOUBLE), 0.5)").as("p50_raw"),
          expr("percentile(CAST(l_quantity AS DOUBLE), 0.9)").as("p90_raw"),
          expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").as("p50_price_raw"))
        .select(col("l_returnflag"),
          dround(col("p50_raw")).as("p50_qty"),
          dround(col("p90_raw")).as("p90_qty"),
          dround(col("p50_price_raw")).as("p50_price"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
              |  ${droundSql("quantile_cont(CAST(l_quantity AS DOUBLE), 0.5)")} AS p50_qty,
              |  ${droundSql("quantile_cont(CAST(l_quantity AS DOUBLE), 0.9)")} AS p90_qty,
              |  ${droundSql("quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5)")} AS p50_price
              |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- interval join (stream-stream join semantics on batch data) -----
    // Pairs of orders by the same customer within 7 days — the SAME
    // Patterns.intervalJoin that powers the watermarked stream-stream join
    // (StructuredRunnerSuite), oracle-gated here on static frames where
    // watermarks are no-ops.
    "q_interval_join" -> QueryDef(
      (s, d) => {
        val o1 = tOrders(s, d)
          .select(col("o_custkey"), col("o_orderkey").as("k1"), col("o_orderdate").as("d1"))
        val o2 = tOrders(s, d)
          .select(col("o_custkey"), col("o_orderkey").as("k2"), col("o_orderdate").as("d2"))
        graft.streaming.Patterns.intervalJoin(o1, "d1", o2, "d2",
          Seq("o_custkey"), within = "7 days")
          .filter(col("k1") =!= col("k2"))
          .select(o1("o_custkey"), col("k1"), col("k2"))
          .orderBy("o_custkey", "k1", "k2")
      },
      Some("""SELECT a.o_custkey AS o_custkey, a.o_orderkey AS k1, b.o_orderkey AS k2
             |FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
             |  AND b.o_orderdate >= a.o_orderdate
             |  AND b.o_orderdate <= a.o_orderdate + INTERVAL 7 DAY
             |  AND a.o_orderkey <> b.o_orderkey
             |ORDER BY o_custkey, k1, k2""".stripMargin)),

    // ----- higher-order array functions (filter/transform lambdas) -------
    "q_array_hof" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          size(filter(col("toks"), t => length(t) > 5)).cast("long").as("n_long"),
          array_join(
            slice(array_sort(filter(col("toks"), t => length(t) > 5)), 1, 3), "|")
            .as("first_long"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  LEN(list_filter(string_split(text, ' '), t -> LEN(t) > 5)) AS n_long,
             |  COALESCE(ARRAY_TO_STRING(
             |    LIST_SORT(list_filter(string_split(text, ' '), t -> LEN(t) > 5))[1:3],
             |    '|'), '') AS first_long
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- distinct-count aggregation ------------------------------------
    "q_count_distinct" -> QueryDef(
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
             |  COUNT(DISTINCT l_orderkey) AS n_orders
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- set operations: intersect / except ----------------------------
    "q_set_ops" -> QueryDef(
      (s, d) => {
        val customers = t(s, d, "customer").select(col("c_custkey").as("k"))
        val buyers = t(s, d, "orders").select(col("o_custkey").as("k"))
        customers.intersect(buyers).withColumn("op", lit("both"))
          .unionByName(customers.except(buyers).withColumn("op", lit("never_ordered")))
          .orderBy("op", "k")
      },
      Some("""SELECT k, op FROM (
             |  SELECT c_custkey AS k, 'both' AS op FROM customer
             |  INTERSECT SELECT o_custkey, 'both' FROM orders
             |  UNION ALL
             |  SELECT * FROM (
             |    SELECT c_custkey AS k, 'never_ordered' AS op FROM customer
             |    EXCEPT SELECT o_custkey, 'never_ordered' FROM orders))
             |ORDER BY op, k""".stripMargin)),

    // ----- set ops, BAG semantics (INTERSECT ALL / EXCEPT ALL) ------------
    // The multiplicity-preserving variants q_set_ops' distinct forms
    // cannot express: per user, click-events INTERSECT ALL view-events
    // keeps min(multiplicity) copies, EXCEPT ALL subtracts
    // multiplicities — Spark plans both as count-tracking aggregates
    // (one shuffle), never a row-by-row join.
    "q_set_ops_all" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("k"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("k"))
        clicks.intersectAll(views).withColumn("op", lit("both_bag"))
          .unionByName(
            clicks.exceptAll(views).withColumn("op", lit("extra_clicks")))
          .orderBy("op", "k")
      },
      Some("""SELECT k, op FROM (
             |  SELECT * FROM (
             |    SELECT user_id AS k, 'both_bag' AS op FROM events
             |    WHERE event_type = 'click'
             |    INTERSECT ALL
             |    SELECT user_id, 'both_bag' FROM events
             |    WHERE event_type = 'view')
             |  UNION ALL
             |  SELECT * FROM (
             |    SELECT user_id AS k, 'extra_clicks' AS op FROM events
             |    WHERE event_type = 'click'
             |    EXCEPT ALL
             |    SELECT user_id, 'extra_clicks' FROM events
             |    WHERE event_type = 'view'))
             |ORDER BY op, k""".stripMargin)),

    // ----- pivot (fixed value set) ---------------------------------------
    "q_pivot" -> QueryDef(
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag").pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum(col("l_quantity")))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
              |  ${dsumSql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS F,
              |  ${dsumSql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS O
              |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- as-of join (vs DuckDB's NATIVE ASOF JOIN) ---------------------
    // Every purchase matched to the user's latest click at or before it.
    // The right side dedups per (user, ts) first — "latest row at t" is
    // ambiguous under duplicate timestamps in any engine.
    "q_asof_join" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts").agg(max("value").as("value"))
        val joined = graft.operators.AsofJoin.asofJoin(purchases, clicks,
          Seq("user_id"), "ts", "ts", rightCols = Seq("ts", "value"))
        joined
          .select(col("user_id"), col("event_id"),
            // microsecond precision for the oracle compare: DuckDB's
            // epoch_us is µs whatever the physical ts type
            graft.util.EventTime.asEpochMicros(joined, "asof_ts").as("click_ts"),
            dround(col("asof_value")).as("click_value"))
          .orderBy("user_id", "event_id")
      },
      Some(s"""SELECT p.user_id AS user_id, p.event_id AS event_id,
              |  CAST(epoch_us(c.ts) AS BIGINT) AS click_ts,
              |  ${droundSql("c.value")} AS click_value
              |FROM (SELECT user_id, event_id, ts FROM events
              |      WHERE event_type = 'purchase') p
              |ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS value FROM events
              |                WHERE event_type = 'click' GROUP BY 1, 2) c
              |  ON p.user_id = c.user_id AND c.ts <= p.ts
              |ORDER BY user_id, event_id""".stripMargin)),

    // ----- tumbling time window ------------------------------------------
    "q_window_tumbling" -> QueryDef(
      (s, d) => {
        val e = t(s, d, "events")
        e.groupBy(window(tsCol(e), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("n_events"), col("total_value"))
        .orderBy("window_start")
      },
      Some(s"""SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
              |  COUNT(*) AS n_events, ${dsumSql("value")} AS total_value
              |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin)),

    // ----- sliding time window -------------------------------------------
    // Spark's window(ts, 1h, 30m) assigns each event to the two 30m-aligned
    // windows covering it; the oracle reconstructs exactly those starts.
    "q_window_sliding" -> QueryDef(
      (s, d) => {
        val e = t(s, d, "events")
        e.groupBy(window(tsCol(e), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("n_events"))
        .orderBy("window_start")
      },
      Some("""SELECT STRFTIME(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
             |  COUNT(*) AS n_events FROM (
             |  SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS ws
             |  FROM events
             |  UNION ALL
             |  SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
             |    - INTERVAL 30 MINUTE AS ws
             |  FROM events)
             |GROUP BY ws ORDER BY window_start""".stripMargin)),

    // ----- batch sessionization (session_window; oracle = lag/cumsum) ----
    // Spark's gap-based session window vs the classic SQL formulation: a
    // new session starts when the gap to the previous event is >= 30 min
    // (touching windows don't merge in Spark — >= on both sides). The
    // streaming flavor (flatMapGroupsWithState + timeouts) lives in
    // streaming/Sessionize.scala with its own suite; this row oracle-gates
    // the session SEMANTICS on batch data.
    "q_sessionize" -> QueryDef(
      (s, d) => {
        val e = t(s, d, "events")
        e.groupBy(col("user_id"), session_window(tsCol(e), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .select(col("user_id"),
          date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start")
      },
      Some(s"""WITH o AS (
              |  SELECT user_id, DATE_TRUNC('microseconds', ts) AS ts, value,
              |    CASE WHEN DATE_TRUNC('microseconds', ts)
              |        - LAG(DATE_TRUNC('microseconds', ts))
              |          OVER (PARTITION BY user_id ORDER BY DATE_TRUNC('microseconds', ts))
              |        >= INTERVAL 30 MINUTE THEN 1
              |      WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY DATE_TRUNC('microseconds', ts))
              |        IS NULL THEN 1 ELSE 0 END AS new_sess
              |  FROM events),
              |sess AS (
              |  SELECT user_id, ts, value,
              |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
              |      ROWS UNBOUNDED PRECEDING) AS sid
              |  FROM o)
              |SELECT user_id,
              |  STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
              |  COUNT(*) AS n_events, ${dsumSql("value")} AS total_value
              |FROM sess GROUP BY user_id, sid
              |ORDER BY user_id, session_start""".stripMargin)),

    // ----- latest-per-key dedup (ranking window) -------------------------
    "q_dedup_latest" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
        t(s, d, "events")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"), col("event_type"),
            round(col("value"), 2).as("value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id, event_type, ROUND(value, 2) AS value
             |FROM (SELECT *, ROW_NUMBER() OVER
             |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |      FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ----- sort + limit ---------------------------------------------------
    "q_topk_orders" -> QueryDef(
      (s, d) => t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice")),
      Some("""SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
             |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ----- anti join ------------------------------------------------------
    "q_anti_join" -> QueryDef(
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").select(col("o_custkey").as("c_custkey")), Seq("c_custkey"),
          "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
             |ORDER BY c_custkey""".stripMargin)),

    // ----- semi join ------------------------------------------------------
    "q_semi_join" -> QueryDef(
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").select(col("o_custkey").as("c_custkey")), Seq("c_custkey"),
          "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders)
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ----- join + aggregate (broadcast dims) ------------------------------
    "q_join_agg" -> QueryDef(
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("n_name"),
      Some(s"""SELECT n_name, COUNT(*) AS n_orders,
              |  ${dsumSql("o_totalprice")} AS revenue
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ----- multi-way join (TPC-H Q5 shape) --------------------------------
    "q_region_revenue" -> QueryDef(
      (s, d) => tSpread(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lineitems"))
        .orderBy("r_name"),
      Some(s"""SELECT r_name,
              |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
              |  COUNT(*) AS n_lineitems
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // ----- union by name (diagonal concat) --------------------------------
    "q_union_byname" -> QueryDef(
      (s, d) => {
        val o = t(s, d, "orders")
        val a = o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        val b = o.filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey"), col("o_orderpriority").as("priority"))
        a.unionByName(b, allowMissingColumns = true).orderBy("o_orderkey")
      },
      Some("""SELECT * FROM (
             |  SELECT o_orderkey, ROUND(o_totalprice, 2) AS price, NULL AS priority
             |  FROM orders WHERE o_orderstatus = 'F'
             |  UNION ALL BY NAME
             |  SELECT o_orderkey, NULL AS price, o_orderpriority AS priority
             |  FROM orders WHERE o_orderstatus = 'O')
             |ORDER BY o_orderkey""".stripMargin)),

    // ----- distinct -------------------------------------------------------
    "q_distinct" -> QueryDef(
      (s, d) => t(s, d, "customer").select("c_mktsegment", "c_nationkey").distinct()
        .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
             |ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // ----- conditional (when/otherwise) ----------------------------------
    "q_case_when" -> QueryDef(
      (s, d) => t(s, d, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 150000, "medium")
            .otherwise("large"))
        .groupBy("bucket").agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("bucket"),
      Some(s"""SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
              |  WHEN o_totalprice < 150000 THEN 'medium' ELSE 'large' END AS bucket,
              |  COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
              |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ----- string functions ----------------------------------------------
    "q_string_funcs" -> QueryDef(
      (s, d) => t(s, d, "part")
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_upper"),
          substring(col("p_name"), 1, 12).as("name_prefix"),
          length(col("p_name")).as("name_len"),
          concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, UPPER(p_brand) AS brand_upper,
             |  SUBSTRING(p_name, 1, 12) AS name_prefix,
             |  LENGTH(p_name) AS name_len,
             |  CONCAT_WS('/', p_brand, p_type) AS brand_type
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ----- datetime extraction -------------------------------------------
    "q_datetime_parts" -> QueryDef(
      (s, d) => tOrders(s, d)
        .groupBy(year(col("o_orderdate")).as("o_year"), month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("o_year", "o_month"),
      Some(s"""SELECT YEAR(o_orderdate) AS o_year, MONTH(o_orderdate) AS o_month,
              |  COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS revenue
              |FROM orders GROUP BY 1, 2 ORDER BY o_year, o_month""".stripMargin)),

    // ----- JSON extraction ------------------------------------------------
    "q_json_extract" -> QueryDef(
      (s, d) => t(s, d, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(pmod(col("k"), lit(10)).as("k_mod"))
        .agg(count(lit(1)).as("n"))
        .orderBy("k_mod"),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
             |  COUNT(*) AS n
             |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin)),

    // ----- SQL surface (temp view + spark.sql) ----------------------------
    "q_sql_agg" -> QueryDef(
      (s, d) => {
        t(s, d, "events").createOrReplaceTempView("events_v")
        s.sql(s"""SELECT user_id, event_type, COUNT(*) AS event_count,
                 |  ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 2) AS total_value
                 |FROM events_v WHERE value >= 0
                 |GROUP BY user_id, event_type
                 |ORDER BY user_id, event_type""".stripMargin)
      },
      Some(s"""SELECT user_id, event_type, COUNT(*) AS event_count,
              |  ${dsumSql("value")} AS total_value
              |FROM events WHERE value >= 0
              |GROUP BY user_id, event_type
              |ORDER BY user_id, event_type""".stripMargin)),

    // ----- CDC merge (the reference's flagship operator) ------------------
    // events as a change stream: key=user_id, version=event_id,
    // 'error' events are deletes, everything else an upsert. Delete-wins.
    "q_cdc_merge" -> QueryDef(
      (s, d) => {
        val changes = t(s, d, "events")
          .withColumn(Cdc.ChangeTypeCol,
            when(col("event_type") === "error", "delete").otherwise("update_postimage"))
          .withColumn(Cdc.CommitVersionCol, col("event_id"))
          .select(col("user_id"), col("event_id"), round(col("value"), 2).as("value"),
            col(Cdc.ChangeTypeCol), col(Cdc.CommitVersionCol))
        Cdc.applyCdc(changes, existing = None, keys = Seq("user_id"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id, ROUND(value, 2) AS value
             |FROM (SELECT *, ROW_NUMBER() OVER
             |        (PARTITION BY user_id ORDER BY event_id DESC) AS rn
             |      FROM events) WHERE rn = 1 AND event_type <> 'error'
             |ORDER BY user_id""".stripMargin)),

    // ----- incremental aggregation (partial/final two-phase) --------------
    "q_incremental_agg" -> QueryDef(
      (s, d) => {
        val e = t(s, d, "events")
        // simulate two micro-batches, partial-agg each, merge + re-agg —
        // the reference's incremental_aggregations.py pattern
        def partial(df: DataFrame) = df.groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(30, 6))).as("v"))
        val merged = partial(e.filter(col("event_id") % 2 === 0))
          .unionByName(partial(e.filter(col("event_id") % 2 === 1)))
        merged.groupBy("user_id")
          .agg(sum(col("n")).as("n_events"), round(sum(col("v")).cast("double"), 2).as("total_value"))
          .orderBy("user_id")
      },
      Some(s"""SELECT user_id, COUNT(*) AS n_events, ${dsumSql("value")} AS total_value
              |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ----- watermark cutoff (state-backed pattern) ------------------------
    "q_watermark" -> QueryDef(
      (s, d) => {
        val e = t(s, d, "events")
        // dispatch on the read dtype: nano-epoch files filter at full nano
        // precision (as DuckDB does on TIMESTAMP_NS); timestamp files at
        // their native µs precision
        val recent =
          if (graft.util.EventTime.isNanoLong(e)) {
            val cutoff = e.agg(max(col("ts"))).head().getLong(0) - 24L * 3600 * 1000000000L
            e.filter(col("ts") >= cutoff)
          } else {
            val us = graft.util.EventTime.asEpochMicros(e)
            val cutoff = e.agg(max(us)).head().getLong(0) - 24L * 3600 * 1000000L
            e.filter(us >= cutoff)
          }
        recent.groupBy("user_id").agg(count(lit(1)).as("recent_events"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, COUNT(*) AS recent_events FROM events
             |WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 24 HOUR
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ----- strict-replace mapping with passthrough (replace_strict) -------
    "q_replace_map" -> QueryDef(
      (s, d) => {
        val mapping = Map("click" -> "interaction", "view" -> "interaction",
          "purchase" -> "conversion")
        val mapped = mapping.foldLeft(lit(null).cast("string")) {
          case (acc, (from, to)) => when(col("event_type") === from, to).otherwise(acc)
        }
        t(s, d, "events")
          .withColumn("category", coalesce(mapped, col("event_type")))
          .groupBy("category").agg(count(lit(1)).as("n"))
          .orderBy("category")
      },
      Some("""SELECT CASE event_type
             |  WHEN 'click' THEN 'interaction'
             |  WHEN 'view' THEN 'interaction'
             |  WHEN 'purchase' THEN 'conversion'
             |  ELSE event_type END AS category, COUNT(*) AS n
             |FROM events GROUP BY 1 ORDER BY category""".stripMargin)),

    // ----- non-strict timestamp parsing (strptime strict=False) -----------
    "q_strptime" -> QueryDef(
      (s, d) => tOrders(s, d)
        // round-trip: format to string, parse back non-strict (ANSI off ->
        // null on failure), bucket by quarter
        .select(to_timestamp(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
          "yyyy-MM-dd HH:mm:ss").as("parsed"))
        .groupBy(year(col("parsed")).as("y"), quarter(col("parsed")).as("q"))
        .agg(count(lit(1)).as("n"))
        .orderBy("y", "q"),
      Some("""SELECT YEAR(parsed) AS y, QUARTER(parsed) AS q, COUNT(*) AS n
             |FROM (SELECT STRPTIME(STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S'),
             |        '%Y-%m-%d %H:%M:%S') AS parsed FROM orders)
             |GROUP BY 1, 2 ORDER BY y, q""".stripMargin)),

    // ----- Delta table end-to-end: write -> CDC merge -> read -------------
    // Builds a throwaway Delta table from `customer`, merges a change feed
    // derived from each customer's latest order (status F = delete, else
    // update balance), and returns the final table — exercising the
    // hand-built Delta writer, log replay, and read-modify-overwrite merge.
    "q_delta_cdc" -> QueryDef(
      (s, d) => {
        val tmp = scratch(s, "dq")
        val table = s"$tmp/customer_state"
        val w = new graft.delta.DeltaWriter(s, s.sparkContext.hadoopConfiguration)
        val base = t(s, d, "customer").select(col("c_custkey"),
          dround(col("c_acctbal")).as("balance"))
        w.write(base, table, graft.delta.DeltaWriteMode.Append)
        val latestOrder = t(s, d, "orders")
          .withColumn("rn", row_number().over(Window.partitionBy("o_custkey")
            .orderBy(col("o_orderkey").desc)))
          .filter(col("rn") === 1)
        val changes = latestOrder.select(
          col("o_custkey").as("c_custkey"),
          dround(col("o_totalprice")).as("balance"),
          when(col("o_orderstatus") === "F", "delete").otherwise("update_postimage")
            .as(Cdc.ChangeTypeCol),
          col("o_orderkey").as(Cdc.CommitVersionCol))
        DeltaCdc.applyCdcDelta(s, changes, table, Seq("c_custkey"))
        w.read(table).orderBy("c_custkey")
      },
      Some(s"""WITH latest AS (
              |  SELECT o_custkey, o_orderstatus, o_totalprice,
              |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
              |  FROM orders)
              |SELECT c_custkey,
              |  CASE WHEN l.o_custkey IS NULL THEN ${droundSql("c_acctbal")}
              |       ELSE ${droundSql("l.o_totalprice")} END AS balance
              |FROM customer LEFT JOIN (SELECT * FROM latest WHERE rn = 1) l
              |  ON c_custkey = l.o_custkey
              |WHERE l.o_custkey IS NULL OR l.o_orderstatus <> 'F'
              |ORDER BY c_custkey""".stripMargin)),

    // End-to-end proof of the delta-spark pruned-log shape: 12 appends
    // (auto-checkpoint at v10), JSON commits the checkpoint covers are
    // EXPIRED, and the read must reconstruct from checkpoint parquet +
    // surviving tail — a partial file set here changes the aggregate and
    // fails the oracle hash.
    "q_delta_checkpoint" -> QueryDef(
      (s, d) => {
        val tmp = scratch(s, "ck")
        val table = s"$tmp/nation_log"
        val w = new graft.delta.DeltaWriter(s, s.sparkContext.hadoopConfiguration)
        val nation = t(s, d, "nation").select(col("n_nationkey"), col("n_regionkey"))
        (0 until 12).foreach(i =>
          w.write(nation.filter(pmod(col("n_nationkey"), lit(12)) === i), table,
            graft.delta.DeltaWriteMode.Append))
        w.expireLogs(table)
        w.read(table).groupBy("n_regionkey")
          .agg(count(lit(1)).as("n"), sum("n_nationkey").cast("long").as("key_sum"))
          .orderBy("n_regionkey")
      },
      Some("""SELECT n_regionkey, COUNT(*) AS n,
             |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
             |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Stats-based file skipping, oracle-proven: a range-partitioned Delta
    // write gives every file disjoint o_orderkey stats; readSkipping must
    // schedule only the files intersecting the key interval AND still
    // return exactly the rows DuckDB computes over the source parquet.
    "q_delta_skipping" -> QueryDef(
      (s, d) => {
        val tmp = scratch(s, "sk")
        val table = s"$tmp/orders_z"
        val w = new graft.delta.DeltaWriter(s, s.sparkContext.hadoopConfiguration)
        val orders = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), dround(col("o_totalprice")).as("price"))
          .repartitionByRange(8, col("o_orderkey"))
        w.write(orders, table, graft.delta.DeltaWriteMode.Append)
        w.readSkipping(table, Map("o_orderkey" -> (Some(1000d), Some(3000d))))
          .filter(col("o_orderkey").between(1000, 3000))
          .orderBy("o_orderkey")
      },
      Some(s"""SELECT o_orderkey, o_custkey, ${droundSql("o_totalprice")} AS price
             |FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
             |ORDER BY o_orderkey""".stripMargin)),

    // DELETE WHERE via deletion vectors, oracle-proven: a multi-file Delta
    // table, two successive predicate deletes that rewrite NOTHING (bitmap
    // commits only — the second unions into the first's vectors), and the
    // read-back must equal DuckDB's NOT-predicate over the source parquet.
    // A resurrected, double-deleted, or mis-indexed row changes the hash.
    "q_delta_delete" -> QueryDef(
      (s, d) => {
        val tmp = scratch(s, "dv")
        val table = s"$tmp/orders_dv"
        val w = new graft.delta.DeltaWriter(s, s.sparkContext.hadoopConfiguration)
        val orders = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            dround(col("o_totalprice")).as("price"))
          .repartitionByRange(6, col("o_orderkey"))
        w.write(orders, table, graft.delta.DeltaWriteMode.Append)
        w.deleteWhere(table, col("o_orderstatus") === "F")
        w.deleteWhere(table, col("price") < 50000)
        w.read(table).orderBy("o_orderkey")
      },
      Some(s"""SELECT o_orderkey, o_custkey, o_orderstatus,
             |  ${droundSql("o_totalprice")} AS price
             |FROM orders
             |WHERE NOT (o_orderstatus = 'F')
             |  AND NOT (${droundSql("o_totalprice")} < 50000)
             |ORDER BY o_orderkey""".stripMargin)),

    // PURGE closes the DV lifecycle under the same oracle: after the two
    // deletes, every vector is applied-and-dropped by a rewrite commit and
    // the vacuumed table must STILL equal DuckDB's NOT-predicate — a purge
    // that resurrects, re-deletes, or mislays rows changes the hash.
    "q_delta_purge" -> QueryDef(
      (s, d) => {
        val tmp = scratch(s, "pg")
        val table = s"$tmp/orders_pg"
        val w = new graft.delta.DeltaWriter(s, s.sparkContext.hadoopConfiguration)
        val orders = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            dround(col("o_totalprice")).as("price"))
          .repartitionByRange(6, col("o_orderkey"))
        w.write(orders, table, graft.delta.DeltaWriteMode.Append)
        w.deleteWhere(table, col("o_orderstatus") === "F")
        w.deleteWhere(table, col("price") < 50000)
        w.purgeDeletionVectors(table)
        w.vacuum(table, retentionMs = -1000)
        w.read(table).orderBy("o_orderkey")
      },
      Some(s"""SELECT o_orderkey, o_custkey, o_orderstatus,
             |  ${droundSql("o_totalprice")} AS price
             |FROM orders
             |WHERE NOT (o_orderstatus = 'F')
             |  AND NOT (${droundSql("o_totalprice")} < 50000)
             |ORDER BY o_orderkey""".stripMargin)),

    // Time travel, oracle-proven: after an overwrite replaces the table
    // with a filtered subset, versionAsOf(0) must reconstruct the FULL
    // pre-overwrite snapshot from the log — a reader that folds removes
    // wrongly or reads the live snapshot returns the subset and fails.
    "q_delta_timetravel" -> QueryDef(
      (s, d) => {
        val tmp = scratch(s, "tt")
        val table = s"$tmp/nation_tt"
        val w = new graft.delta.DeltaWriter(s, s.sparkContext.hadoopConfiguration)
        val nation = t(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        w.write(nation, table, graft.delta.DeltaWriteMode.Append)
        w.write(nation.filter(col("n_regionkey") === 0), table,
          graft.delta.DeltaWriteMode.Overwrite)
        w.read(table, versionAsOf = Some(0L)).orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // ----- column mapping lifecycle: upgrade -> rename -> append -> drop --
    // The mapping's reason to exist, end-to-end against the oracle: a
    // plain table upgrades to columnMapping.mode=name (physical names =
    // current names, no rewrite), a column renames metadata-only, an
    // append lands under the NEW logical name, and a drop removes a
    // column with files untouched. The final read must equal DuckDB
    // recomputing the surviving columns from the raw inputs — a rename
    // that loses old files, an append that mismatches the mapping, or a
    // drop that leaks its column all change the hash.
    "q_delta_rename" -> QueryDef(
      (s, d) => {
        val tmp = scratch(s, "rn")
        val table = s"$tmp/docs_rn"
        val w = new graft.delta.DeltaWriter(s, s.sparkContext.hadoopConfiguration)
        w.write(t(s, d, "documents").select("doc_id", "text", "source"),
          table, graft.delta.DeltaWriteMode.Append)
        w.upgradeToColumnMapping(table)
        w.renameColumn(table, "source", "origin")
        // post-rename append speaks the NEW logical name; its file lands
        // under the unchanged physical name
        w.write(t(s, d, "documents").filter(col("doc_id") < 10)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"),
            col("source").as("origin")),
          table, graft.delta.DeltaWriteMode.Append)
        w.dropColumn(table, "text")
        w.read(table).orderBy("doc_id")
      },
      Some("""SELECT doc_id, source AS origin FROM documents
             |UNION ALL
             |SELECT doc_id + 100000 AS doc_id, source AS origin
             |FROM documents WHERE doc_id < 10
             |ORDER BY doc_id""".stripMargin)),

    // ----- write-side data quality: CHECK constraint + generated column --
    // The protocol's writer obligations, oracle-proven end-to-end: a table
    // CREATED with a generated column (computed when omitted, validated
    // when provided), an ADD CONSTRAINT that scans existing data, a
    // conforming append, and a VIOLATING append that must abort BEFORE the
    // commit — the final read equals DuckDB recomputing every surviving
    // row, so a constraint that admits the bad row, a generated value that
    // diverges, or an abort that half-commits all change the hash.
    "q_delta_constraints" -> QueryDef(
      (s, d) => {
        val tmp = scratch(s, "ck")
        val table = s"$tmp/cust_ck"
        val w = new graft.delta.DeltaWriter(s, s.sparkContext.hadoopConfiguration)
        val genSql = "CAST(FLOOR(c_acctbal / 1000) AS BIGINT)"
        val genMeta = new org.apache.spark.sql.types.MetadataBuilder()
          .putString("delta.generationExpression", genSql).build()
        val cust = t(s, d, "customer")
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        // create: even keys PROVIDE the generated column (validated
        // consistent); the schema metadata declares the expression
        w.write(cust.filter(col("c_custkey") % 2 === 0)
          .withColumn("bal_band", expr(genSql).as("bal_band", genMeta)),
          table, graft.delta.DeltaWriteMode.Append)
        // ADD CONSTRAINT validates existing rows in one distributed pass
        w.addCheckConstraint(table, "bal_domain",
          "c_acctbal BETWEEN -1000 AND 10000")
        // append the odd keys OMITTING bal_band -> computed, not null-filled
        w.write(cust.filter(col("c_custkey") % 2 === 1),
          table, graft.delta.DeltaWriteMode.Append)
        // a violating row must abort the write job PRE-COMMIT, naming the
        // constraint; the final hash proves the table stayed untouched
        val bad = s.range(1).select(lit(999999L).as("c_custkey"),
          lit(99999.0).as("c_acctbal"), lit("BAD").as("c_mktsegment"))
        val aborted =
          try { w.write(bad, table, graft.delta.DeltaWriteMode.Append); false }
          catch { case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse("") +
              Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
            require(msg.contains("bal_domain"),
              s"violating append failed for the wrong reason: $msg")
            true
          }
        require(aborted, "violating append must abort pre-commit")
        // a provided generated value that DISAGREES with the expression
        // must also abort (divergence from every other engine's derivation)
        val lying = s.range(1).select(lit(777L).as("c_custkey"),
          lit(50.0).as("c_acctbal"), lit("OK").as("c_mktsegment"),
          lit(42L).as("bal_band"))
        val abortedGen =
          try { w.write(lying, table, graft.delta.DeltaWriteMode.Append); false }
          catch { case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse("") +
              Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
            require(msg.contains("generated column bal_band"),
              s"disagreeing generated value failed for the wrong reason: $msg")
            true
          }
        require(abortedGen, "disagreeing generated value must abort pre-commit")
        w.read(table)
          .select(col("c_custkey"), dround(col("c_acctbal")).as("c_acctbal"),
            col("c_mktsegment"), col("bal_band"))
          .orderBy("c_custkey")
      },
      Some(s"""SELECT c_custkey, ${droundSql("c_acctbal")} AS c_acctbal,
              |  c_mktsegment, CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
              |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ================= training-data pipeline operators ==================

    // ----- exact dedup ----------------------------------------------------
    "d_dedup_exact" -> QueryDef(
      (s, d) => Dedup.exact(t(s, d, "documents"), Seq("text"), "doc_id")
        .select("doc_id", "source").orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source, ROW_NUMBER() OVER
             |    (PARTITION BY text ORDER BY doc_id) AS rn FROM documents)
             |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // ----- fingerprint dedup ---------------------------------------------
    "d_fingerprint" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, MD5(text) AS fp FROM documents ORDER BY doc_id")),

    // ----- bloom-screened incremental exact dedup -------------------------
    // The against-history novelty gate with the history-never-shuffles
    // plan: bloom-definite-novel rows skip all join work; suspects confirm
    // via broadcast semi/anti joins. History = the doc_id % 3 == 0 slice's
    // fingerprints; result is EXACTLY the plain anti-join (the bloom has no
    // false negatives), which is what the oracle replays.
    "d_dedup_bloom" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val fp = TextFunctions.fingerprint(col("text")).as("fp")
        val batch = docs.select(col("doc_id"), col("n_chars"), fp)
        val history = docs.filter(col("doc_id") % 3 === 0).select(fp)
        Dedup.bloomNoveltyScreen(batch, history, "fp",
          expectedItems = 100000L, fpp = 0.01)
          .select(col("doc_id"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT d.doc_id, d.n_chars FROM documents d
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM documents h
             |  WHERE h.doc_id % 3 = 0 AND MD5(h.text) = MD5(d.text))
             |ORDER BY d.doc_id""".stripMargin)),

    // ----- connected-components cluster resolution ------------------------
    // Chains of 8 consecutive doc_ids; every node's component must resolve
    // to its chain's smallest id. Oracle = DuckDB recursive-CTE transitive
    // closure. The operator takes its small-graph path here (driver
    // union-find under the explicit localLimit); OperatorsSuite proves the
    // distributed large-star/small-star contraction identical to it on
    // multi-round chain graphs, so the oracle covers both by transitivity.
    "d_connected_components" -> QueryDef(
      (s, d) => {
        val ids = t(s, d, "documents").select(col("doc_id"))
        val pairs = ids
          .join(ids.select(col("doc_id").as("doc_id2")),
            col("doc_id2") === col("doc_id") + 1 &&
              pmod(col("doc_id"), lit(8)) =!= 7)
          .select(col("doc_id").as("id_a"), col("doc_id2").as("id_b"))
        Dedup.connectedComponents(pairs).orderBy("id")
      },
      Some("""WITH RECURSIVE
             |edges AS (
             |  SELECT d1.doc_id AS a, d2.doc_id AS b
             |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
             |  WHERE d1.doc_id % 8 <> 7),
             |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
             |reach(id, r) AS (
             |  SELECT a, b FROM sym
             |  UNION
             |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
             |nodes AS (SELECT DISTINCT a AS id FROM sym)
             |SELECT n.id AS id, LEAST(n.id, MIN(reach.r)) AS component
             |FROM nodes n JOIN reach ON reach.id = n.id
             |GROUP BY n.id ORDER BY n.id""".stripMargin)),

    // ----- incremental connected components (cross-batch fold) ------------
    // The SAME edge set as d_connected_components arrives in three
    // interleaved batches (edge source id mod 3) so chains are split
    // across batches and every fold step merges components created by
    // earlier ones; the folded assignment must equal the one-shot batch
    // answer, so the oracle is the identical recursive CTE.
    "d_cc_incremental" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "documents").select(col("doc_id"))
        val pairs = ids
          .join(ids.select(col("doc_id").as("doc_id2")),
            col("doc_id2") === col("doc_id") + 1 &&
              pmod(col("doc_id"), lit(8)) =!= 7)
          .select(col("doc_id").as("id_a"), col("doc_id2").as("id_b"))
        // the history is PERSISTED between batches (the operator's real
        // contract — atomic-replace state table): materializing per fold
        // also keeps each fold's plan O(batch), where a lazily-chained
        // fold would recompute every earlier batch inside each later one
        val dir = scratch(s, "cc_incr")
        var history = Seq.empty[(Long, Long)].toDF("id", "component")
        for (k <- 0 until 3) {
          Dedup.componentsWithHistory(
            pairs.filter(pmod(col("id_a"), lit(3)) === k), history)
            .write.mode("overwrite").parquet(s"$dir/h$k")
          history = s.read.parquet(s"$dir/h$k")
        }
        history.orderBy("id")
      },
      Some("""WITH RECURSIVE
             |edges AS (
             |  SELECT d1.doc_id AS a, d2.doc_id AS b
             |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
             |  WHERE d1.doc_id % 8 <> 7),
             |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
             |reach(id, r) AS (
             |  SELECT a, b FROM sym
             |  UNION
             |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
             |nodes AS (SELECT DISTINCT a AS id FROM sym)
             |SELECT n.id AS id, LEAST(n.id, MIN(reach.r)) AS component
             |FROM nodes n JOIN reach ON reach.id = n.id
             |GROUP BY n.id ORDER BY n.id""".stripMargin)),

    // ----- per-doc novelty vs a reference gram index ----------------------
    // The inverse of contamination: what fraction of a doc's distinct
    // 12-grams has the reference slice (docs 0,20,40,...) never seen?
    // Drives novelty-weighted sampling / curriculum ordering. The index
    // broadcasts; the probe joins gram STRINGS, so no hash collision can
    // move the ratio.
    "d_novelty" -> QueryDef(
      (s, d) => {
        // the broadcast index builds from its own plain scan (the
        // d_contamination split); only the probed corpus spreads
        val docs = tSpread(s, d, "documents")
        val idx = Dedup.benchmarkGramIndex(
          t(s, d, "documents").filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 12)
        Dedup.noveltyAgainstIndex(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text", idx, n = 12)
          .orderBy("id")
      },
      Some("""WITH refd AS (SELECT DISTINCT g FROM (
             |    SELECT UNNEST(LIST_DISTINCT(
             |      CASE WHEN LENGTH(text) < 12 THEN [text]
             |           ELSE [text[i:i+11] FOR i IN RANGE(1, LENGTH(text) - 10)]
             |      END)) AS g
             |    FROM documents WHERE doc_id % 20 = 0)),
             |dg AS (SELECT doc_id, UNNEST(LIST_DISTINCT(
             |    CASE WHEN LENGTH(text) < 12 THEN [text]
             |         ELSE [text[i:i+11] FOR i IN RANGE(1, LENGTH(text) - 10)]
             |    END)) AS g
             |  FROM documents WHERE doc_id % 20 <> 0),
             |tot AS (SELECT doc_id, COUNT(*) AS total_grams FROM dg GROUP BY 1),
             |sn AS (SELECT dg.doc_id, COUNT(*) AS seen
             |  FROM dg JOIN refd USING (g) GROUP BY 1)
             |SELECT t.doc_id AS id, t.total_grams,
             |  t.total_grams - COALESCE(sn.seen, 0) AS novel_grams,
             |  ROUND(CAST(t.total_grams - COALESCE(sn.seen, 0) AS DOUBLE)
             |    / t.total_grams, 4) AS novelty
             |FROM tot t LEFT JOIN sn ON t.doc_id = sn.doc_id
             |ORDER BY id""".stripMargin)),

    // ----- approx heavy hitters gated by the exact answer -----------------
    // The q_approx_distinct contract: emitted values are the EXACT top-10
    // token counts (which DuckDB mirrors); the mergeable approx_top_k
    // sketch contributes a gate column — its reported set must cover >=
    // 80% of the exact top-10 or every row flips and the hash fails. At
    // 100 TB the sketch is the point: per-partition sketches merge
    // without re-scanning, the exact pass exists only as the test gate.
    "q_approx_topk" -> QueryDef(
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(length(col("token")) > 0)
        val exact = toks.groupBy("token").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token")).limit(10)
        val approxSet = toks.agg(expr("approx_top_k(token, 10)").as("tk"))
          .select(explode(col("tk")).as("e"))
          .select(col("e.item").as("token"), lit(1).as("__hit"))
        val overlap = exact.join(approxSet, Seq("token"), "left")
          .agg((sum(coalesce(col("__hit"), lit(0))) >= 8).as("topk_ok"))
        exact.crossJoin(broadcast(overlap))
          .orderBy(col("n").desc, col("token"))
      },
      Some("""SELECT token, n, TRUE AS topk_ok FROM (
             |  SELECT token, COUNT(*) AS n FROM (
             |    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
             |  WHERE LEN(token) > 0
             |  GROUP BY token ORDER BY n DESC, token LIMIT 10)
             |ORDER BY n DESC, token""".stripMargin)),

    // ----- byte-entropy quality signal (codegen histogram, zero shuffle) --
    // The cheap gibberish/boilerplate detector: natural text sits in a
    // narrow entropy band, repeated filler far below it. A planted
    // repeat('ab') row pins the low-entropy branch (exactly 1 bit). The
    // term sum quantizes each k·ln k through DECIMAL(30,9) (the
    // d_lm_surprisal recipe), so addition order can't move the hash.
    "d_entropy" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
          .unionByName(s.range(1).select(lit(9999L).as("doc_id"),
            expr("repeat('ab', 150)").as("text")))
        docs.select(col("doc_id"),
            TextFunctions.byteEntropy(col("text")).as("entropy"))
          .withColumn("low_entropy", col("entropy") < 3.0)
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT 9999 AS doc_id, REPEAT('ab', 150) AS text),
             |cnt AS (SELECT doc_id, c, COUNT(*) AS k FROM (
             |    SELECT doc_id, UNNEST(STRING_SPLIT(text, '')) AS c FROM docs)
             |  GROUP BY 1, 2),
             |agg AS (SELECT doc_id, SUM(k) AS n,
             |    CAST(SUM(CAST(k * LN(CAST(k AS DOUBLE)) AS DECIMAL(30,9)))
             |      AS DOUBLE) AS s
             |  FROM cnt GROUP BY 1)
             |SELECT doc_id,
             |  ROUND((LN(CAST(n AS DOUBLE)) - s / n) / LN(2), 4) AS entropy,
             |  ROUND((LN(CAST(n AS DOUBLE)) - s / n) / LN(2), 4) < 3.0 AS low_entropy
             |FROM agg ORDER BY doc_id""".stripMargin)),

    // ----- distribution windows (percent_rank / cume_dist / ntile) --------
    // Exact-rational outputs: percent_rank = (rank-1)/(n-1) and
    // cume_dist = peers/n are single correctly-rounded divisions of the
    // same integers in both engines — no rounding scaffolding needed.
    "q_window_dist" -> QueryDef(
      (s, d) => {
        // total window order: ntile buckets by ROW position, so ties in
        // l_quantity must be broken identically in both engines
        val w = Window.partitionBy("l_returnflag")
          .orderBy("l_quantity", "l_orderkey", "l_linenumber")
        t(s, d, "lineitem")
          .filter(col("l_orderkey") <= 300)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_quantity"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"),
            ntile(4).over(w).as("quartile"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
             |  PERCENT_RANK() OVER w AS pct_rank,
             |  CUME_DIST() OVER w AS cume,
             |  CAST(NTILE(4) OVER w AS INT) AS quartile
             |FROM lineitem WHERE l_orderkey <= 300
             |WINDOW w AS (PARTITION BY l_returnflag
             |  ORDER BY l_quantity, l_orderkey, l_linenumber)
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ----- cluster canonicalization (dedup resolution table) --------------
    // Real pipelines keep the BEST cluster member, not the smallest id:
    // the resolution table maps every doc to its component and the
    // component's canonical member (max n_chars, ties to the lower id —
    // an order-independent max(struct) aggregate, never a window over
    // the corpus). Singletons are their own canonical. Same chain graph
    // as d_connected_components; the oracle re-derives components via
    // the recursive CTE and picks the same argmax.
    "d_cluster_canonical" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        val ids = docs.select(col("doc_id"))
        val pairs = ids
          .join(ids.select(col("doc_id").as("doc_id2")),
            col("doc_id2") === col("doc_id") + 1 &&
              pmod(col("doc_id"), lit(8)) =!= 7)
          .select(col("doc_id").as("id_a"), col("doc_id2").as("id_b"))
        val cc = Dedup.connectedComponents(pairs)
        val comp = docs.join(cc, docs("doc_id") === cc("id"), "left")
          .withColumn("component", coalesce(col("component"), col("doc_id")))
          .select(col("doc_id"), col("n_chars"), col("component"))
        val best = comp.groupBy("component")
          .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("m"))
          .select(col("component"), (-col("m.nid")).as("canonical_id"))
        comp.join(best, "component")
          .select(col("doc_id"), col("component"), col("canonical_id"),
            (col("doc_id") === col("canonical_id")).as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |edges AS (
             |  SELECT d1.doc_id AS a, d2.doc_id AS b
             |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
             |  WHERE d1.doc_id % 8 <> 7),
             |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
             |reach(id, r) AS (
             |  SELECT a, b FROM sym
             |  UNION
             |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
             |nodes AS (SELECT DISTINCT a AS id FROM sym),
             |compmap AS (
             |  SELECT n.id AS id, LEAST(n.id, MIN(reach.r)) AS component
             |  FROM nodes n JOIN reach ON reach.id = n.id GROUP BY n.id),
             |allmap AS (
             |  SELECT d.doc_id, d.n_chars, COALESCE(c.component, d.doc_id) AS component
             |  FROM documents d LEFT JOIN compmap c ON c.id = d.doc_id),
             |best AS (SELECT component, doc_id AS canonical_id FROM (
             |  SELECT component, doc_id, ROW_NUMBER() OVER (
             |    PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM allmap) WHERE rn = 1)
             |SELECT a.doc_id, a.component, b.canonical_id,
             |  a.doc_id = b.canonical_id AS keep
             |FROM allmap a JOIN best b USING (component)
             |ORDER BY a.doc_id""".stripMargin)),

    // ----- composed near-dup canonicalization -----------------------------
    // The pipeline op a user reaches for (exact collapse → exact-Jaccard
    // pairs over one rep per distinct text → connected components →
    // best-member resolution) run as ONE call. The oracle replays every
    // stage: rep selection (ROW_NUMBER over text groups — membership is
    // text-equality, so which member represents is label-only), the
    // d_ngram_jaccard pair filter over reps, the recursive-CTE closure,
    // and the same min-id / argmax(n_chars, low id) resolution.
    "d_neardup_canonical" -> QueryDef(
      (s, d) => Dedup.nearDupCanonicalize(
          t(s, d, "documents").select(col("doc_id"), col("text"), col("n_chars")),
          "doc_id", "text", "n_chars",
          reps => Dedup.charNgramJaccardExactPairs(reps, "id", "text",
            n = 12, threshold = 0.8))
        .orderBy("id"),
      Some(nearDupCanonicalOracle(nearDupJaccardPairsCte))),

    // ----- incremental composed near-dup canonicalization -----------------
    // The SAME corpus arrives in three interleaved batches (doc_id mod 3,
    // so exact-dup groups and near-dup clusters split across batches);
    // each fold persists the state trio (the operator's real contract —
    // atomic-replace state tables) and only the final resolution is
    // emitted. This instantiation is the PRODUCTION cross-batch shape: the
    // pair family is poly-simhash under wide combination keys, and the
    // cross probe derives signatures at probe time and runs the real
    // semi-join-first history probe — per-fold pair work is bounded by the
    // batch + probed slice, never a re-pair of everything seen (which is
    // what crossPairsByUnion, the generic fallback, would cost). Both
    // sides run UNCAPPED: exactness for Hamming ≤ 3 is what makes the
    // fold law and the oracle replay hold regardless of rep-id choice.
    // Runs on the mod-2 half corpus in TWO folds: the one-shot above
    // already pays the full-corpus pair cost on this board, and the
    // fold's per-batch bookkeeping (increment × state-trio writes, with
    // batch-2 clusters merging into batch-1 components) is what this
    // query certifies — the semantics are scale- and split-free (the
    // suite pins a 2-batch fold law on the full real corpus and 2/3-batch
    // laws on constructed groups).
    "d_neardup_canonical_incr" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("text"), col("n_chars"))
          .filter(pmod(col("doc_id"), lit(2)) === 0)
        // autoProbe + countsDir + sigCacheDir: the fold's history probe
        // runs the MEASURED layout selector per batch, reading the
        // HISTORY side's volumes from the persisted Hash64Counts cache
        // AND its signatures from the persisted SigCache (each rep's
        // text hashed once, when it entered the state; both caches
        // folded per batch, row-count tripwired) — the full production
        // instrumentation drives a hash-checked CORRECTNESS row through
        // the composed fold (decision logged as event=hash64_layout);
        // the oracle is layout- and cache-independent because uncapped
        // narrow == wide == auto == cached for Hamming <= 3 (suite laws)
        val dir = scratch(s, "ndc_incr")
        val (pf, probe) = Dedup.nearDupWideSimhashFamily(autoProbe = true,
          countsDir = Some(s"$dir/_simhash_counts"),
          sigCacheDir = Some(s"$dir/_simhash_sigs"))
        // the persisted-state fold surface (marker-stamped root, chunked
        // O(batch) docs/reps appends + the cc epoch, one atomic pointer
        // per fold) — the correctness gate exercises the *Table path
        // end to end
        for (k <- 0 until 2)
          Dedup.nearDupCanonicalizeIncrementTable(
            docs.filter(pmod(col("doc_id"), lit(4)) === k * 2),
            "doc_id", "text", "n_chars", dir, pf, probe)
        Dedup.nearDupResolutionTable(s, dir).orderBy("id")
      },
      Some(nearDupCanonicalOracle(nearDupSimhashPairsCte,
        where = "doc_id % 2 = 0"))),

    // ----- explode / unnest ----------------------------------------------
    "q_explode_tokens" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 50)
        .orderBy(col("n").desc, col("token")),
      Some("""SELECT token, COUNT(*) AS n FROM (
             |  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
             |WHERE LEN(token) > 0
             |GROUP BY token HAVING COUNT(*) >= 50
             |ORDER BY n DESC, token""".stripMargin)),

    // ----- array aggregation (collect + sort + slice + join) --------------
    // collect_list is order-nondeterministic in a distributed engine; the
    // deterministic formulation sorts the collected array before any use —
    // same rule DuckDB needs (LIST(...) has no inherent order either).
    "q_array_agg" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          array_join(slice(array_sort(collect_list(col("doc_id"))), 1, 5), ",")
            .as("first_ids"))
        .orderBy("lang"),
      Some("""SELECT lang, COUNT(*) AS n_docs,
             |  ARRAY_TO_STRING(LIST_SORT(LIST(doc_id))[1:5], ',') AS first_ids
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ----- token counting -------------------------------------------------
    "d_token_count" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.tokenCountBpeIsh(col("text")).as("n_bpe"),
          col("n_chars"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             |  LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             |    AS n_bpe,
             |  n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- vocabulary tokenization to ids (the step after counting and
    // before packing: a training export materializes id sequences) ------
    // Vocab = top-16 words of a reference slice ranked (count DESC, token)
    // — a total order both engines reproduce exactly; OOV -> 0. The
    // corpus side is map-only zero-exchange (vocab rides into codegen as
    // a reference object); the tiny 16 forces a real OOV population out
    // of this corpus's ~31-word alphabet so the unk path is exercised.
    "d_tokenize_ids" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val vocab = graft.operators.Curation.buildWordVocab(
          docs.filter(col("doc_id") % 10 === 0), "text", size = 16)
        // ids stringify via array_join: the driver's pandas compare
        // cannot sort raw array cells (q_array_agg precedent) — the
        // content is still byte-exact in the hash.
        graft.operators.Curation.tokenizeToIds(docs, "doc_id", "text", vocab)
          .withColumn("ids", array_join(col("ids"), ","))
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
             |toks AS (
             |  SELECT doc_id, UNNEST(
             |    [{'ord': i, 'tok': ws[i]} FOR i IN RANGE(1, LEN(ws)+1)],
             |    recursive := true)
             |  FROM docs),
             |vocab AS (
             |  SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok)
             |    AS INTEGER) AS id
             |  FROM (SELECT tok, COUNT(*) AS cnt FROM toks
             |        WHERE doc_id % 10 = 0 GROUP BY tok
             |        ORDER BY cnt DESC, tok LIMIT 16))
             |SELECT t.doc_id,
             |  ARRAY_TO_STRING(ARRAY_AGG(COALESCE(v.id, 0) ORDER BY t.ord), ',')
             |    AS ids,
             |  COUNT(*) AS n_tokens,
             |  COUNT(*) FILTER (v.id IS NULL) AS n_oov
             |FROM toks t LEFT JOIN vocab v USING (tok)
             |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin)),

    // ----- quality scoring ------------------------------------------------
    "d_quality" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.stopwordRatio(col("text"), stopwords).as("stopword_ratio"),
          TextFunctions.meanTokenLen(col("text")).as("mean_token_len"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
              |    t -> t IN (${stopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
              |    / GREATEST(LEN(STRING_SPLIT(text, ' ')), 1), 4) AS stopword_ratio,
              |  ROUND(CAST(LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(text, ' '),
              |    t -> LENGTH(t))) AS DOUBLE)
              |    / GREATEST(LEN(STRING_SPLIT(text, ' ')), 1), 4) AS mean_token_len
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- per-source reputation gate (RefinedWeb/Dolma domain filtering) -
    // Source-level quality stats — corpus-wide duplication rate and mean
    // stopword ratio per source — with a keep flag; downstream drops
    // flagged sources wholesale. Mean determinism: per-doc round(·,4)
    // ratios decimal-sum before the division (dsum pattern).
    "d_source_reputation" -> QueryDef(
      (s, d) => graft.operators.Curation.sourceReputation(
        t(s, d, "documents"), "source", "text", stopwords,
        maxDupRate = 0.2, minStopword = 0.05).orderBy("source"),
      Some(s"""WITH fp AS (
              |  SELECT source, MD5(text) AS f,
              |    ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
              |      t -> t IN (${stopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
              |      / GREATEST(LEN(STRING_SPLIT(text, ' ')), 1), 4) AS sr
              |  FROM documents),
              |cnt AS (SELECT f, COUNT(*) AS c FROM fp GROUP BY 1)
              |SELECT source, COUNT(*) AS n_docs,
              |  ROUND(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
              |    / COUNT(*), 4) AS dup_rate,
              |  ROUND(CAST(SUM(CAST(sr AS DECIMAL(20,6))) AS DOUBLE)
              |    / COUNT(*), 4) AS mean_stopword_ratio,
              |  (ROUND(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
              |      / COUNT(*), 4) <= 0.2
              |    AND ROUND(CAST(SUM(CAST(sr AS DECIMAL(20,6))) AS DOUBLE)
              |      / COUNT(*), 4) >= 0.05) AS keep
              |FROM fp JOIN cnt USING (f)
              |GROUP BY source ORDER BY source""".stripMargin)),

    // Incremental source reputation: two batches fold into the
    // (fp, source, cnt, sr) fingerprint state and the report derives
    // from state alone — a batch-2 copy of a batch-1 text retroactively
    // turns the OLD doc into a dup, which only the fingerprint index can
    // represent. The oracle is the FULL-CORPUS one-shot SQL: the
    // fold-equals-one-shot law IS the check.
    "d_source_reputation_incr" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val state = graft.operators.Curation.sourceFpBatch(
            docs.filter(col("doc_id") < 250), "source", "text", stopwords)
          .unionByName(graft.operators.Curation.sourceFpBatch(
            docs.filter(col("doc_id") >= 250), "source", "text", stopwords))
        graft.operators.Curation.sourceReputationFromState(state,
          maxDupRate = 0.2, minStopword = 0.05).orderBy("source")
      },
      Some(s"""WITH fp AS (
              |  SELECT source, MD5(text) AS f,
              |    ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
              |      t -> t IN (${stopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
              |      / GREATEST(LEN(STRING_SPLIT(text, ' ')), 1), 4) AS sr
              |  FROM documents),
              |cnt AS (SELECT f, COUNT(*) AS c FROM fp GROUP BY 1)
              |SELECT source, COUNT(*) AS n_docs,
              |  ROUND(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
              |    / COUNT(*), 4) AS dup_rate,
              |  ROUND(CAST(SUM(CAST(sr AS DECIMAL(20,6))) AS DOUBLE)
              |    / COUNT(*), 4) AS mean_stopword_ratio,
              |  (ROUND(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
              |      / COUNT(*), 4) <= 0.2
              |    AND ROUND(CAST(SUM(CAST(sr AS DECIMAL(20,6))) AS DOUBLE)
              |      / COUNT(*), 4) >= 0.05) AS keep
              |FROM fp JOIN cnt USING (f)
              |GROUP BY source ORDER BY source""".stripMargin)),

    // ----- model-based quality scoring (CCNet-style LM surprisal) ---------
    // char-trigram LM trained on the doc_id % 10 == 0 reference slice,
    // add-one smoothing; remaining docs scored by mean per-window
    // surprisal. The model is bounded by the trigram alphabet and rides
    // a broadcast map literal — scoring is a zero-shuffle map pass.
    // Per-window terms decimal-sum (addition-order-proof); ln ulp noise
    // dies in round(·,2) behind the 1e-9-resolution decimal sum.
    "d_lm_surprisal" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val lm = graft.operators.Curation.ngramLm(
          docs.filter(col("doc_id") % 10 === 0), "text", n = 3)
        graft.operators.Curation.surprisalScore(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", lm)
          .orderBy("id")
      },
      Some("""WITH model AS (
             |  SELECT g, COUNT(*) AS c FROM (
             |    SELECT UNNEST(CASE WHEN LENGTH(text) < 3 THEN [text]
             |      ELSE [text[i:i+2] FOR i IN RANGE(1, LENGTH(text) - 1)]
             |      END) AS g
             |    FROM documents WHERE doc_id % 10 = 0) GROUP BY 1),
             |stats AS (SELECT SUM(c) AS total, COUNT(*) AS v FROM model),
             |grams AS (
             |  SELECT doc_id, UNNEST(CASE WHEN LENGTH(text) < 3 THEN [text]
             |    ELSE [text[i:i+2] FOR i IN RANGE(1, LENGTH(text) - 1)]
             |    END) AS g
             |  FROM documents WHERE doc_id % 10 <> 0),
             |scored AS (
             |  SELECT doc_id, CAST(-LN(CAST(COALESCE(m.c, 0) + 1 AS DOUBLE)
             |      / (total + v + 1)) AS DECIMAL(30,9)) AS t
             |  FROM grams LEFT JOIN model m USING (g) CROSS JOIN stats)
             |SELECT doc_id AS id,
             |  ROUND(CAST(SUM(t) AS DOUBLE) / COUNT(*), 2) AS nll
             |FROM scored GROUP BY 1 ORDER BY id""".stripMargin)),

    // ----- DSIR importance weighting (data selection) ---------------------
    // Xie et al. arXiv:2302.03169: log importance ratio between a target-
    // domain LM (here the English slice) and the raw-corpus LM, the score
    // DSIR resamples pretraining data by. Both models are bounded literals;
    // scoring is two fused codegen expressions over ONE scan, zero shuffle.
    "d_dsir_weights" -> QueryDef(
      (s, d) => {
        val docs = tSpread(s, d, "documents")
        val (tgt, src) = graft.operators.Curation.ngramLmPair(
          docs, "text", col("lang") === "en", n = 3)
        graft.operators.Curation.dsirLogRatio(docs, "doc_id", "text", tgt, src)
          .orderBy("id")
      },
      Some("""WITH tgt AS (
             |  SELECT g, COUNT(*) AS c FROM (
             |    SELECT UNNEST(CASE WHEN LENGTH(text) < 3 THEN [text]
             |      ELSE [text[i:i+2] FOR i IN RANGE(1, LENGTH(text) - 1)]
             |      END) AS g
             |    FROM documents WHERE lang = 'en') GROUP BY 1),
             |src AS (
             |  SELECT g, COUNT(*) AS c FROM (
             |    SELECT UNNEST(CASE WHEN LENGTH(text) < 3 THEN [text]
             |      ELSE [text[i:i+2] FOR i IN RANGE(1, LENGTH(text) - 1)]
             |      END) AS g
             |    FROM documents) GROUP BY 1),
             |tstats AS (SELECT SUM(c) AS total, COUNT(*) AS v FROM tgt),
             |sstats AS (SELECT SUM(c) AS total, COUNT(*) AS v FROM src),
             |grams AS (
             |  SELECT doc_id, UNNEST(CASE WHEN LENGTH(text) < 3 THEN [text]
             |    ELSE [text[i:i+2] FOR i IN RANGE(1, LENGTH(text) - 1)]
             |    END) AS g
             |  FROM documents),
             |scored AS (
             |  SELECT doc_id,
             |    CAST(-LN(CAST(COALESCE(s.c, 0) + 1 AS DOUBLE)
             |      / (sstats.total + sstats.v + 1)) AS DECIMAL(30,9)) AS snll,
             |    CAST(-LN(CAST(COALESCE(tg.c, 0) + 1 AS DOUBLE)
             |      / (tstats.total + tstats.v + 1)) AS DECIMAL(30,9)) AS tnll
             |  FROM grams LEFT JOIN src s USING (g) LEFT JOIN tgt tg USING (g)
             |  CROSS JOIN sstats CROSS JOIN tstats)
             |SELECT doc_id AS id,
             |  ROUND(CAST(SUM(snll) - SUM(tnll) AS DOUBLE), 2) + 0.0 AS log_w
             |FROM scored GROUP BY 1 ORDER BY id""".stripMargin)),

    // ----- importance resampling (the selection step DSIR ends with) ----
    // Planted exact log-weights (half-integer multiples — bit-identical
    // on both engines); the bin thresholds are computed ONCE driver-side
    // (the only exp) and inlined into BOTH plans as integer literals, so
    // the engines compare exact integers and no libm ulp can flip a
    // boundary row. Acceptance is a pure function of (doc_id, logw,
    // seed): the portable MINSTD draw against the bin's threshold.
    "d_importance_resample" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("log_w", (col("doc_id") % 13 - 6) * lit(0.5))
        graft.operators.Curation.importanceResample(docs, "doc_id", "log_w",
            lrMin = -3.0, lrMax = 3.5, binWidth = 0.5)
          .select("doc_id", "bin", "threshold")
          .orderBy("doc_id")
      },
      Some {
        val ts = graft.operators.Curation
          .importanceThresholds(-3.0, 3.5, 0.5)
          .map(t => s"CAST($t AS BIGINT)").mkString("[", ", ", "]")
        s"""WITH w AS (SELECT doc_id, (doc_id % 13 - 6) * 0.5 AS lr
           |  FROM documents),
           |b AS (SELECT doc_id, LEAST(GREATEST(
           |    CAST(FLOOR((lr + 3.0) / 0.5) AS INT), 0), 12) AS bin FROM w),
           |t AS (SELECT doc_id, bin, ($ts)[bin + 1] AS threshold FROM b)
           |SELECT doc_id, bin, threshold FROM t
           |WHERE (${graft.operators.Mixing.minstdSql("doc_id", 41L)} - 1)
           |  % 1000000 < threshold
           |ORDER BY doc_id""".stripMargin
      }),

    // ----- language ID heuristic -----------------------------------------
    "d_lang_id" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.langIdHeuristic(col("text")).as("lang_pred"))
        .groupBy("lang_pred").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang_pred"),
      Some("""WITH scored AS (
             |  SELECT doc_id,
             |    LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('the','and','of','to','a'))) AS en,
             |    LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('der','die','das','und','ist'))) AS de,
             |    LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('le','la','les','et','est'))) AS fr,
             |    LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('el','los','las','y','es'))) AS es
             |  FROM documents)
             |SELECT CASE WHEN GREATEST(en,de,fr,es) = 0 THEN 'und'
             |  WHEN en = GREATEST(en,de,fr,es) THEN 'en'
             |  WHEN de = GREATEST(en,de,fr,es) THEN 'de'
             |  WHEN fr = GREATEST(en,de,fr,es) THEN 'fr'
             |  ELSE 'es' END AS lang_pred, COUNT(*) AS n_docs
             |FROM scored GROUP BY 1 ORDER BY lang_pred""".stripMargin)),

    // ----- per-language routing (profile lang-id, Cavnar-Trenkle) -------
    // Three planted "languages" derived deterministically from the corpus
    // (raw text; vowels→odd digits; r/s/t/l/n→even digits — disjoint
    // trigram distributions), one bounded char-trigram LM each trained
    // on its doc_id%10 slice; every doc routes by argmin mean surprisal
    // with (nll, lang) tie-break. routed_ok pins that routing recovers
    // the plant — a single misroute anywhere flips the hash. Scoring is
    // K fused codegen models over ONE scan, zero exchanges.
    "d_lang_route" -> QueryDef(
      (s, d) => {
        val docs = tSpread(s, d, "documents")
        def v2(c: Column) = translate(c, "aeiou", "13579")
        def v3(c: Column) = translate(c, "rstln", "24680")
        val slice = docs.filter(col("doc_id") % 10 === 0)
        val models = Seq(
          "l1" -> graft.operators.Curation.ngramLm(
            slice.select(col("text")), "text", 3),
          "l2" -> graft.operators.Curation.ngramLm(
            slice.select(v2(col("text")).as("text")), "text", 3),
          "l3" -> graft.operators.Curation.ngramLm(
            slice.select(v3(col("text")).as("text")), "text", 3))
        val batch = docs.select(col("doc_id"),
          when(col("doc_id") % 3 === 0, col("text"))
            .when(col("doc_id") % 3 === 1, v2(col("text")))
            .otherwise(v3(col("text"))).as("text"))
        graft.operators.Curation.langRoute(batch, "doc_id", "text", models)
          .withColumn("expected",
            concat(lit("l"), (col("id") % 3 + 1).cast("string")))
          .withColumn("routed_ok", col("lang") === col("expected"))
          .orderBy("id")
      },
      Some {
        def modelSql(k: Int, tx: String) =
          s"""m$k AS (
             |  SELECT g, COUNT(*) AS c FROM (
             |    SELECT UNNEST(CASE WHEN LENGTH($tx) < 3 THEN [$tx]
             |      ELSE [$tx[i:i+2] FOR i IN RANGE(1, LENGTH($tx) - 1)]
             |      END) AS g
             |    FROM v WHERE doc_id % 10 = 0) GROUP BY 1),
             |s$k AS (SELECT SUM(c) AS total, COUNT(*) AS vv FROM m$k)"""
            .stripMargin
        def scoreSql(k: Int) =
          s"""sc$k AS (
             |  SELECT doc_id, 'l$k' AS lang,
             |    ROUND(CAST(SUM(CAST(-LN(CAST(COALESCE(m.c, 0) + 1 AS DOUBLE)
             |        / (total + vv + 1)) AS DECIMAL(30,9))) AS DOUBLE)
             |      / COUNT(*), 2) AS nll
             |  FROM grams LEFT JOIN m$k m USING (g) CROSS JOIN s$k
             |  GROUP BY 1)""".stripMargin
        s"""WITH v AS (
           |  SELECT doc_id, text AS t1,
           |    translate(text, 'aeiou', '13579') AS t2,
           |    translate(text, 'rstln', '24680') AS t3
           |  FROM documents),
           |${modelSql(1, "t1")},
           |${modelSql(2, "t2")},
           |${modelSql(3, "t3")},
           |batch AS (
           |  SELECT doc_id, CASE CAST(doc_id % 3 AS INTEGER)
           |    WHEN 0 THEN t1 WHEN 1 THEN t2 ELSE t3 END AS bt FROM v),
           |grams AS (
           |  SELECT doc_id, UNNEST(CASE WHEN LENGTH(bt) < 3 THEN [bt]
           |    ELSE [bt[i:i+2] FOR i IN RANGE(1, LENGTH(bt) - 1)] END) AS g
           |  FROM batch),
           |${scoreSql(1)},
           |${scoreSql(2)},
           |${scoreSql(3)}
           |SELECT doc_id AS id, lang, nll,
           |  'l' || CAST(doc_id % 3 + 1 AS VARCHAR) AS expected,
           |  lang = 'l' || CAST(doc_id % 3 + 1 AS VARCHAR) AS routed_ok
           |FROM (SELECT * FROM sc1 UNION ALL SELECT * FROM sc2
           |      UNION ALL SELECT * FROM sc3)
           |QUALIFY row_number() OVER (PARTITION BY doc_id
           |  ORDER BY nll, lang) = 1
           |ORDER BY id""".stripMargin
      }),

    // ----- learned quality classifier (DCLM/fastText-style linear) -------
    // Scoring under a PLANTED integer weight vector (w(b) = (b·37 mod 21)
    // − 10, bias 3 — deterministic, so the oracle needs no weights
    // table): hashed unigram+bigram features via the portable poly-31
    // fold, score = bias + Σ w(bucket), keep = score > 0. DuckDB replays
    // the fold per word with LIST_REDUCE and chains bigrams as the fold
    // of "w1 w2" (the stepwise mod makes concatenation-fold ≡ chained
    // fold). Training determinism is suite-pinned (QualityClfSuite) —
    // an iterative perceptron fit is not ANSI-expressible, planted
    // weights make scoring bit-for-bit checkable.
    "d_quality_clf" -> QueryDef(
      (s, d) => {
        val model = graft.operators.QualityClf.Model(
          Array.tabulate(64)(b => ((b.toLong * 37) % 21) - 10), 3L)
        graft.operators.QualityClf.score(t(s, d, "documents"), "doc_id",
          "text", model).orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    LIST_FILTER(STRING_SPLIT(text, ' '), t -> LENGTH(t) > 0) AS ws
             |  FROM documents),
             |f AS (
             |  SELECT doc_id,
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT) FOR c IN STRING_SPLIT(ws[i], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws) + 1)]
             |    ||
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT)
             |        FOR c IN STRING_SPLIT(ws[i] || ' ' || ws[i + 1], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws))] AS fb
             |  FROM w)
             |SELECT doc_id,
             |  CAST(3 + COALESCE(LIST_SUM(
             |    [((b * 37) % 21) - 10 FOR b IN fb]), 0) AS BIGINT) AS score,
             |  CAST(LEN(fb) AS BIGINT) AS n_features,
             |  (3 + COALESCE(LIST_SUM(
             |    [((b * 37) % 21) - 10 FOR b IN fb]), 0)) > 0 AS keep
             |FROM f ORDER BY doc_id""".stripMargin)),

    // ----- perceptron TRAINING replay (the fit itself, cross-engine) -----
    // d_bpe_train's discipline applied to the classifier: not just
    // scoring but the TRAINING ALGORITHM is integer-exact and
    // partition-order independent, so an ANSI engine can replay it.
    // Two batch-perceptron epochs unroll as CTEs: epoch 1 under zero
    // weights marks every row a mistake (y·0 <= 0), so u1 sums y over
    // ALL feature occurrences and bias1 over all rows; epoch 2 scores
    // under (u1, bias1), takes mistakes, and accumulates u2/bias2. The
    // emitted rows ARE the persisted-model format ((bucket, w) + the
    // (-1, bias) row) — convergence-skipped updates equal adding zero,
    // so the unroll is exact whether or not epoch 2 finds mistakes.
    "d_clf_train" -> QueryDef(
      (s, d) => {
        val slice = t(s, d, "documents").filter(col("doc_id") % 10 < 3)
          .withColumn("label", col("doc_id") % 3 === 0)
        val m = graft.operators.QualityClf.train(slice, "doc_id", "text",
          "label", nBuckets = 16, epochs = 2)
        import s.implicits._
        (m.weights.zipWithIndex.map { case (w, i) => (i, w) }.toSeq
          :+ ((-1, m.bias)))
          .toDF("bucket", "w")
          .select(col("bucket").cast("int").as("bucket"),
            col("w").cast("long").as("w"))
          .orderBy("bucket")
      },
      Some("""WITH sl AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END AS y,
             |    LIST_FILTER(STRING_SPLIT(text, ' '), t -> LENGTH(t) > 0) AS ws
             |  FROM documents WHERE doc_id % 10 < 3),
             |f AS (
             |  SELECT doc_id, y, LIST_CONCAT(
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT) FOR c IN STRING_SPLIT(ws[i], '')]),
             |       (h, cp) -> (h * 31 + cp) % 16)
             |     FOR i IN RANGE(1, LEN(ws) + 1)],
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT)
             |        FOR c IN STRING_SPLIT(CONCAT(ws[i], ' ', ws[i + 1]), '')]),
             |       (h, cp) -> (h * 31 + cp) % 16)
             |     FOR i IN RANGE(1, LEN(ws))]) AS fb
             |  FROM sl),
             |ex AS (SELECT doc_id, y, UNNEST(fb) AS b FROM f),
             |u1 AS (SELECT b, CAST(SUM(y) AS BIGINT) AS g FROM ex GROUP BY b),
             |bias1 AS (SELECT CAST(SUM(y) AS BIGINT) AS v FROM sl),
             |s2a AS (
             |  SELECT ex.doc_id, CAST(SUM(COALESCE(u1.g, 0)) AS BIGINT) AS fs
             |  FROM ex LEFT JOIN u1 USING (b) GROUP BY 1),
             |s2 AS (
             |  SELECT f.doc_id, f.y,
             |    (SELECT v FROM bias1) + COALESCE(s2a.fs, 0) AS s
             |  FROM f LEFT JOIN s2a USING (doc_id)),
             |m2 AS (SELECT doc_id, y FROM s2 WHERE y * s <= 0),
             |u2 AS (
             |  SELECT ex.b, CAST(SUM(ex.y) AS BIGINT) AS g
             |  FROM ex JOIN (SELECT doc_id FROM m2) m USING (doc_id)
             |  GROUP BY 1),
             |bias2 AS (
             |  SELECT COALESCE(CAST(SUM(y) AS BIGINT), 0) AS v FROM m2)
             |SELECT CAST(r.i AS INTEGER) AS bucket,
             |  CAST(COALESCE(u1.g, 0) + COALESCE(u2.g, 0) AS BIGINT) AS w
             |FROM RANGE(0, 16) r(i)
             |LEFT JOIN u1 ON u1.b = r.i LEFT JOIN u2 ON u2.b = r.i
             |UNION ALL
             |SELECT -1 AS bucket,
             |  (SELECT v FROM bias1) + (SELECT v FROM bias2) AS w
             |ORDER BY bucket""".stripMargin)),

    // ----- classifier-weights coverage drift (persisted-model staleness) --
    // d_vocab_drift's pattern over the classifier family: weights fit
    // once degrade silently when the corpus moves, and the symptom is
    // features landing in buckets the fit never touched (weight 0). The
    // weight vector here is the coverage model over the doc_id%10 slice
    // — deterministic single-aggregate construction with the same
    // format and zero-set semantics as a trained vector, so DuckDB can
    // rebuild it exactly. In-dist batch stays quiet; the a→4 translate
    // re-hashes every word into mostly-unseen buckets and trips rebuild.
    // Both regimes reach the hash compare.
    "d_clf_drift" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val cov = graft.operators.QualityClf.featureCoverage(
          docs.filter(col("doc_id") % 10 === 0), "text", 4096)
        val model = graft.operators.QualityClf.Model(cov, 0L)
        val shifted = docs.select(col("doc_id"),
          translate(col("text"), "a", "4").as("text"))
        graft.operators.QualityClf.drift(docs, "doc_id", "text", model,
            maxDocZero = 0.2, maxHighFrac = 0.2)
          .withColumn("batch", lit("in_dist"))
          .unionByName(graft.operators.QualityClf.drift(shifted, "doc_id",
              "text", model, maxDocZero = 0.2, maxHighFrac = 0.2)
            .withColumn("batch", lit("shifted")))
          .select("batch", "n_docs", "n_features", "n_zero", "zero_rate",
            "frac_high", "rebuild")
          .orderBy("batch")
      },
      Some {
        def feats(src: String, tx: String, out: String) =
          s"""w$out AS (
             |  SELECT doc_id,
             |    LIST_FILTER(STRING_SPLIT($tx, ' '), t -> LENGTH(t) > 0) AS ws
             |  FROM $src),
             |f$out AS (
             |  SELECT doc_id, LIST_CONCAT(
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT) FOR c IN STRING_SPLIT(ws[i], '')]),
             |       (h, cp) -> (h * 31 + cp) % 4096)
             |     FOR i IN RANGE(1, LEN(ws) + 1)],
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT)
             |        FOR c IN STRING_SPLIT(CONCAT(ws[i], ' ', ws[i + 1]), '')]),
             |       (h, cp) -> (h * 31 + cp) % 4096)
             |     FOR i IN RANGE(1, LEN(ws))]) AS fb
             |  FROM w$out)""".stripMargin
        def driftSql(out: String, label: String) =
          s"""e$out AS (SELECT doc_id, UNNEST(fb) AS b FROM f$out),
             |z$out AS (
             |  SELECT e$out.doc_id, COUNT(*) AS nf,
             |    SUM(CASE WHEN cov.b IS NULL THEN 1 ELSE 0 END) AS nz
             |  FROM e$out LEFT JOIN cov ON e$out.b = cov.b GROUP BY 1),
             |d$out AS (
             |  SELECT v.doc_id, COALESCE(z$out.nf, 0) AS nf,
             |    COALESCE(z$out.nz, 0) AS nz
             |  FROM v LEFT JOIN z$out USING (doc_id)),
             |a$out AS (
             |  SELECT '$label' AS batch, COUNT(*) AS n_docs,
             |    CAST(SUM(nf) AS BIGINT) AS n_features,
             |    CAST(SUM(nz) AS BIGINT) AS n_zero,
             |    ROUND(CAST(SUM(nz) AS DOUBLE) / GREATEST(SUM(nf), 1), 4)
             |      AS zero_rate,
             |    ROUND(CAST(SUM(CASE WHEN CAST(nz AS DOUBLE) / GREATEST(nf, 1)
             |        > 0.2 THEN 1 ELSE 0 END) AS DOUBLE)
             |      / GREATEST(COUNT(*), 1), 4) AS frac_high,
             |    ROUND(CAST(SUM(CASE WHEN CAST(nz AS DOUBLE) / GREATEST(nf, 1)
             |        > 0.2 THEN 1 ELSE 0 END) AS DOUBLE)
             |      / GREATEST(COUNT(*), 1), 4) > 0.2 AS rebuild
             |  FROM d$out)""".stripMargin
        s"""WITH v AS (
           |  SELECT doc_id, text AS t1, translate(text, 'a', '4') AS t2
           |  FROM documents),
           |${feats("v", "t1", "1")},
           |${feats("v", "t2", "2")},
           |cov AS (SELECT DISTINCT UNNEST(fb) AS b FROM f1
           |        WHERE doc_id % 10 = 0),
           |${driftSql("1", "in_dist")},
           |${driftSql("2", "shifted")}
           |SELECT * FROM a1 UNION ALL SELECT * FROM a2
           |ORDER BY batch""".stripMargin
      }),

    // ----- MinHash-LSH near-dup pairs (rows-only: not ANSI-expressible) ---
    // FINDING (closes the oracle question): the production hash is XXH64
    // — 4-lane 32-byte stripes, 64-bit rotations, signed wraparound —
    // which no ANSI engine replays, so THIS row stays rows-only with its
    // recall gate. The LSH banding structure itself IS hash-checked:
    // d_minhash_pairs_poly below runs the identical algorithm under the
    // portable poly-31 family and replays bit-for-bit in DuckDB.
    "d_minhash_pairs" -> QueryDef(
      (s, d) => Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.2).orderBy("id_a", "id_b"),
      None),

    // ----- MinHash-LSH pairs under the portable hash family (ORACLE) ------
    // Same shingles, same k/bands, same bounded-bucket cap, same
    // exact-Jaccard verify as d_minhash_pairs — only the per-shingle hash
    // swaps to the poly-31 modular fold and band keys become the
    // signature-slice strings, so DuckDB replays the whole banding
    // pipeline: fold → Kirsch-Mitzenmacher minima → band buckets →
    // in-bucket pairs → set-Jaccard ≥ threshold.
    "d_minhash_pairs_poly" -> QueryDef(
      (s, d) => Dedup.minhashLshPairsPortable(tSpread(s, d, "documents"),
        "doc_id", "text", threshold = 0.2).orderBy("id_a", "id_b"),
      Some("""WITH tok AS (
             |  SELECT doc_id AS id, text, STRING_SPLIT(text, ' ') AS ws
             |  FROM documents),
             |sh AS (
             |  SELECT id, CASE WHEN LEN(ws) < 3
             |      THEN [ARRAY_TO_STRING(ws, ' ')]
             |      ELSE [ARRAY_TO_STRING(ws[i:i+2], ' ')
             |            FOR i IN RANGE(1, LEN(ws) - 1)] END AS sgs
             |  FROM tok),
             |hs AS (
             |  SELECT id, [{'h1': LIST_REDUCE(
             |      LIST_PREPEND(CAST(0 AS BIGINT),
             |        [CAST(ascii(c) AS BIGINT)
             |         FOR c IN STRING_SPLIT(s, '')]),
             |      (h, cp) -> (h * 31 + cp) % 2147483647),
             |    'h2': LIST_REDUCE(
             |      LIST_PREPEND(CAST(0 AS BIGINT),
             |        [CAST(ascii(c) AS BIGINT)
             |         FOR c IN STRING_SPLIT(s, '')]),
             |      (h, cp) -> (h * 31 + cp) % 1073741789) * 2 + 1}
             |    FOR s IN sgs] AS hps
             |  FROM sh),
             |sig AS (
             |  SELECT id, [LIST_MIN([p.h1 + i * p.h2 FOR p IN hps])
             |              FOR i IN RANGE(0, 16)] AS sg
             |  FROM hs),
             |bk AS (
             |  SELECT id, UNNEST([{'band': b,
             |      'key': ARRAY_TO_STRING(sg[b*4+1:b*4+4], ',')}
             |    FOR b IN RANGE(0, 4)], recursive := true)
             |  FROM sig),
             |bb AS (
             |  SELECT band, key, id FROM bk
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY band, key
             |    ORDER BY id) <= 4096),
             |pairs AS (
             |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
             |  FROM bb a JOIN bb b
             |    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
             |jac AS (
             |  SELECT p.id_a, p.id_b,
             |    LEN(LIST_FILTER(LIST_DISTINCT(sa.sgs),
             |      x -> LIST_CONTAINS(sb.sgs, x))) AS inter,
             |    LEN(LIST_DISTINCT(sa.sgs || sb.sgs)) AS uni
             |  FROM pairs p
             |  JOIN sh sa ON sa.id = p.id_a
             |  JOIN sh sb ON sb.id = p.id_b)
             |SELECT id_a, id_b,
             |  ROUND(CASE WHEN uni = 0 THEN 0.0
             |    ELSE CAST(inter AS DOUBLE) / uni END, 4) AS jaccard
             |FROM jac
             |WHERE ROUND(CASE WHEN uni = 0 THEN 0.0
             |  ELSE CAST(inter AS DOUBLE) / uni END, 4) >= 0.2
             |ORDER BY id_a, id_b""".stripMargin)),

    // ----- SimHash near-dup pairs (rows-only) -----------------------------
    // Same finding as d_minhash_pairs: the production token hash is
    // XXH64 (not ANSI-expressible), so this row stays rows-only under
    // its RecallSuite gates; the bit-vote PIPELINE is hash-checked by
    // d_simhash_pairs_poly below.
    "d_simhash_pairs" -> QueryDef(
      (s, d) => Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text",
        maxHamming = 16).orderBy("id_a", "id_b"),
      None),

    // ----- SimHash pairs under the portable hash family (ORACLE) ----------
    // The whole pipeline replayed in DuckDB: per-token 62-bit hashes
    // from two poly-31 folds, ±1 bit votes (ties -> 0), Manku 4x16-bit
    // block buckets with the bounded cap, bit_count(xor) Hamming verify
    // — every stage pure integer arithmetic. Budget 6 keeps the output
    // a near-dup set (at 16, background vocabulary similarity floods in
    // — the production query's own recall note).
    "d_simhash_pairs_poly" -> QueryDef(
      (s, d) => Dedup.simhashPairsPortable(t(s, d, "documents"),
          "doc_id", "text", maxHamming = 6)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (
             |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
             |  FROM documents),
             |th AS (
             |  SELECT doc_id,
             |    LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |      [CAST(ascii(c) AS BIGINT)
             |       FOR c IN STRING_SPLIT(w, '')]),
             |      (h, cp) -> (h * 31 + cp) % 2147483647) * 2147483648
             |    + LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |      [CAST(ascii(c) AS BIGINT)
             |       FOR c IN STRING_SPLIT(w, '')]),
             |      (h, cp) -> (h * 31 + cp) % 1073741789) AS h
             |  FROM toks),
             |hs AS (SELECT doc_id, LIST(h) AS hl FROM th GROUP BY 1),
             |sig AS (
             |  SELECT doc_id, LIST_SUM([
             |      CASE WHEN LIST_SUM([
             |        CASE WHEN (x // (CAST(1 AS BIGINT) << b)) % 2 = 1
             |          THEN 1 ELSE -1 END
             |        FOR x IN hl]) > 0
             |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
             |    FOR b IN RANGE(0, 62)]) AS sh
             |  FROM hs),
             |bk AS (
             |  SELECT doc_id AS id, sh, UNNEST([{'block': j,
             |      'key': (sh // (CAST(1 AS BIGINT) << (16 * j))) % 65536}
             |    FOR j IN RANGE(0, 4)], recursive := true)
             |  FROM sig),
             |bb AS (
             |  SELECT block, key, id, sh FROM bk
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY block, key
             |    ORDER BY id) <= 4096)
             |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             |  CAST(BIT_COUNT(XOR(a.sh, b.sh)) AS BIGINT) AS hamming
             |FROM bb a JOIN bb b
             |  ON a.block = b.block AND a.key = b.key AND a.id < b.id
             |WHERE BIT_COUNT(XOR(a.sh, b.sh)) <= 6
             |ORDER BY id_a, id_b""".stripMargin)),

    // The WIDE combination-key SimHash bucketing (Manku WWW'07 §3 general
    // construction) under the portable hash — the measured answer to
    // 16-bit block key-space saturation (ScalingCurves: candidate slope
    // 1.41 on 4x16 keys at 5k->40k docs; 32-bit combination keys push
    // saturation to ~1e9 docs). 6 blocks, every 3-of-6 combination as a
    // packed integer key, exact recall for Hamming <= 3; the full
    // pipeline (20 keys/doc, bucket cap, verify) replays in DuckDB as
    // pure integer arithmetic.
    "d_simhash_pairs_poly_wide" -> QueryDef(
      (s, d) => Dedup.simhashPairsPortableWide(t(s, d, "documents"),
          "doc_id", "text", maxHamming = 3, blocks = 6)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b"),
      Some {
        s"""WITH ${polySimhashWideKeyCtes(
            "(SELECT doc_id AS id, text FROM documents)")},
           |bb AS (
           |  SELECT combo, key, id, sh FROM bk
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY combo, key
           |    ORDER BY id) <= 4096)
           |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           |  CAST(BIT_COUNT(XOR(a.sh, b.sh)) AS BIGINT) AS hamming
           |FROM bb a JOIN bb b
           |  ON a.combo = b.combo AND a.key = b.key AND a.id < b.id
           |WHERE BIT_COUNT(XOR(a.sh, b.sh)) <= 3
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // The cross-batch HISTORY PROBE under the wide keys and the portable
    // hash — the d_*_incr discipline for the 64-bit signature family:
    // the doc_id < 250 batch probes the >= 250 docs' persisted-shape
    // signature set (16-byte rows, text never re-read) through the
    // semi-join-first, capped, Hamming-verified pipeline; every stage is
    // integer arithmetic DuckDB replays, including the cap's
    // keep-lowest-ids rule.
    "d_hash64_history_poly" -> QueryDef(
      (s, d) => {
        val sigs = t(s, d, "documents").select(col("doc_id"),
          graft.functions.FusedMinHashFunctions
            .polySimhash(col("text"), 2147483647L, 1073741789L).as("sh"))
        graft.operators.Dedup.hash64AgainstHistoryWide(
            sigs.filter(col("doc_id") < 250),
            sigs.filter(col("doc_id") >= 250),
            maxHamming = 3, blocks = 6)
          .select(col("doc_id"), col("hist_id"),
            col("hamming").cast("long").as("hamming"))
          .orderBy("doc_id", "hist_id")
      },
      Some {
        s"""WITH ${polySimhashWideKeyCtes(
            "(SELECT doc_id AS id, text FROM documents)")},
           |bb AS (SELECT * FROM bk WHERE id < 250),
           |hsemi AS (
           |  SELECT hk.combo, hk.key, hk.id AS hist_id, hk.sh
           |  FROM bk hk
           |  WHERE hk.id >= 250 AND EXISTS (
           |    SELECT 1 FROM bb WHERE bb.combo = hk.combo
           |      AND bb.key = hk.key)),
           |hcap AS (
           |  SELECT combo, key, hist_id, sh FROM hsemi
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY combo, key
           |    ORDER BY hist_id) <= 4096)
           |SELECT DISTINCT b.id AS doc_id, h.hist_id,
           |  CAST(BIT_COUNT(XOR(b.sh, h.sh)) AS BIGINT) AS hamming
           |FROM bb b JOIN hcap h
           |  ON b.combo = h.combo AND b.key = h.key
           |WHERE BIT_COUNT(XOR(b.sh, h.sh)) <= 3
           |ORDER BY doc_id, hist_id""".stripMargin
      }),

    // ----- hash64 MEASURED narrow-vs-wide auto-selection (oracle-gated) ---
    // The selector family turns the last manual scale guess (which keying
    // layout) into a counts-only measurement; these two rows execute the
    // AUTO path end to end and hash-check BOTH halves: the pair/probe
    // output (uncapped, where the layouts are provably identical) AND
    // the decision itself — layout + both exact cost totals ride in the
    // result, and DuckDB re-derives the same volumes from the same key
    // derivations and replays the argmin. The probe row additionally
    // drives the persisted signature-index surface (marker-stamped
    // table -> hash64AgainstHistoryAutoTable); the decision also lands
    // in the driver log as an event=hash64_layout line.
    "d_hash64_pairs_auto" -> QueryDef(
      (s, d) => {
        val sigs = t(s, d, "documents").select(col("doc_id"),
          graft.functions.FusedMinHashFunctions
            .polySimhash(col("text"), 2147483647L, 1073741789L).as("sh"))
        // materialize: the selector consumes the signature frame once
        // per layout estimate plus once in the chosen operator — cut
        // the poly-simhash lineage once (lineage-only, hash unaffected)
        val r = graft.operators.Dedup.hash64PairsAuto(sigs, "doc_id", "sh",
          maxHamming = 3, blocks = 6, maxBucket = 0,
          materialize = _.localCheckpoint())
        r.result.select(col("id_a"), col("id_b"),
            col("hamming").cast("long").as("hamming"))
          .withColumn("layout", lit(r.decision.chosen))
          .withColumn("narrow_cost",
            lit(r.decision.narrowKeyRows + r.decision.narrowCandidates))
          .withColumn("wide_cost",
            lit(r.decision.wideKeyRows + r.decision.wideCandidates))
          .orderBy("id_a", "id_b")
      },
      Some {
        s"""WITH ${polySimhashWideKeyCtes(
            "(SELECT doc_id AS id, text FROM documents)")},
           |$polySimhashNarrowKeyCte,
           |ncand AS (SELECT CAST(COALESCE(SUM(c*(c-1)), 0) // 2 AS BIGINT)
           |    AS cand
           |  FROM (SELECT COUNT(*) AS c FROM bkn GROUP BY block, key)),
           |wcand AS (SELECT CAST(COALESCE(SUM(c*(c-1)), 0) // 2 AS BIGINT)
           |    AS cand
           |  FROM (SELECT COUNT(*) AS c FROM bk GROUP BY combo, key)),
           |$hash64DecisionCte
           |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           |  CAST(BIT_COUNT(XOR(a.sh, b.sh)) AS BIGINT) AS hamming,
           |  dec.layout, dec.narrow_cost, dec.wide_cost
           |FROM bk a JOIN bk b
           |  ON a.combo = b.combo AND a.key = b.key AND a.id < b.id, dec
           |WHERE BIT_COUNT(XOR(a.sh, b.sh)) <= 3
           |ORDER BY id_a, id_b""".stripMargin
      }),

    "d_hash64_auto" -> QueryDef(
      (s, d) => {
        // one lineage cut for the whole query: the poly-simhash frame
        // feeds the index write, both counts folds, and the probe's
        // batch side (lineage-only — the hash is unaffected)
        val sigs = t(s, d, "documents").select(col("doc_id"),
          graft.functions.FusedMinHashFunctions
            .polySimhash(col("text"), 2147483647L, 1073741789L).as("sh"))
          .localCheckpoint()
        // persist the history side the production way: a marker-stamped
        // signature-index table (ONE history serves every layout — keys
        // derive at probe time)
        val dir = scratch(s, "hash64_auto_idx")
        sigs.filter(col("doc_id") >= 250).write.mode("overwrite").parquet(dir)
        graft.state.HistoryFormat.stamp(
          s.sparkContext.hadoopConfiguration, dir,
          graft.state.HistoryFormat.Hash64Signature)
        // build the layout-selector's bucket-count cache the production
        // way: INCREMENTALLY, two fold steps over the index halves — the
        // decision below then reads history volumes from persisted
        // counts state (one job, no history re-scan) and must still
        // hash-match DuckDB's fresh re-derivation (incremental ==
        // fresh-measured, the counts law, oracle-gated here)
        val cd = graft.operators.Hash64Counts.countsDirFor(dir)
        for (k <- 0 until 2)
          graft.operators.Hash64Counts.fold(s, cd,
            sigs.filter(col("doc_id") >= 250 &&
              pmod(col("doc_id"), lit(2)) === k), "sh")
        val r = graft.operators.Dedup.hash64AgainstHistoryAutoTable(
          sigs.filter(col("doc_id") < 250), dir,
          maxHamming = 3, blocks = 6, maxBucket = 0)
        r.result.select(col("doc_id"), col("hist_id"),
            col("hamming").cast("long").as("hamming"))
          .withColumn("layout", lit(r.decision.chosen))
          .withColumn("narrow_cost",
            lit(r.decision.narrowKeyRows + r.decision.narrowCandidates))
          .withColumn("wide_cost",
            lit(r.decision.wideKeyRows + r.decision.wideCandidates))
          .orderBy("doc_id", "hist_id")
      },
      Some {
        s"""WITH ${polySimhashWideKeyCtes(
            "(SELECT doc_id AS id, text FROM documents)")},
           |$polySimhashNarrowKeyCte,
           |ncand AS (SELECT CAST(COALESCE(SUM(cb.b * ch.h), 0) AS BIGINT)
           |    AS cand
           |  FROM (SELECT block, key, COUNT(*) AS b FROM bkn
           |        WHERE id < 250 GROUP BY 1, 2) cb
           |  JOIN (SELECT block, key, COUNT(*) AS h FROM bkn
           |        WHERE id >= 250 GROUP BY 1, 2) ch
           |    USING (block, key)),
           |wcand AS (SELECT CAST(COALESCE(SUM(cb.b * ch.h), 0) AS BIGINT)
           |    AS cand
           |  FROM (SELECT combo, key, COUNT(*) AS b FROM bk
           |        WHERE id < 250 GROUP BY 1, 2) cb
           |  JOIN (SELECT combo, key, COUNT(*) AS h FROM bk
           |        WHERE id >= 250 GROUP BY 1, 2) ch
           |    USING (combo, key)),
           |$hash64DecisionCte
           |SELECT DISTINCT b.id AS doc_id, h.id AS hist_id,
           |  CAST(BIT_COUNT(XOR(b.sh, h.sh)) AS BIGINT) AS hamming,
           |  dec.layout, dec.narrow_cost, dec.wide_cost
           |FROM bk b JOIN bk h
           |  ON b.combo = h.combo AND b.key = h.key
           |  AND b.id < 250 AND h.id >= 250, dec
           |WHERE BIT_COUNT(XOR(b.sh, h.sh)) <= 3
           |ORDER BY doc_id, hist_id""".stripMargin
      }),

    // ----- char-ngram Jaccard near-dup pairs (EXACT, oracle-checked) ------
    // the gram-inverted-index algorithm is complete by construction (any
    // pair with J > 0 shares a distinct gram), so DuckDB can mirror it
    // exactly with the same gram definition; the LSH-banded variant
    // (charNgramJaccardPairs) stays recall-gated in RecallSuite — like
    // d_minhash/d_simhash/d_winnow it is approximate BY DESIGN
    // (banding trades recall for never materializing all-pairs), so no
    // ANSI oracle can reproduce its output
    // threshold 0.8 = the canonical near-dup cutoff in dataset curation;
    // it also keeps the AllPairs prefix at the rarest ~20% of each doc's
    // grams (at 0.4 the prefix is 60% and the filter stops filtering on a
    // high-background-similarity corpus: 1.4M candidates vs 248k at sf0.1)
    "d_ngram_jaccard" -> QueryDef(
      (s, d) => Dedup.charNgramJaccardExactPairs(tSpread(s, d, "documents"), "doc_id",
        "text", n = 12, threshold = 0.8).orderBy("id_a", "id_b"),
      Some("""WITH grams AS (
             |  SELECT doc_id, UNNEST(LIST_DISTINCT(
             |    CASE WHEN LENGTH(text) < 12 THEN [text]
             |         ELSE [text[i:i+11] FOR i IN RANGE(1, LENGTH(text) - 10)]
             |    END)) AS g
             |  FROM documents),
             |counts AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
             |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) AS jaccard
             |FROM inter
             |JOIN counts ca ON ca.doc_id = inter.id_a
             |JOIN counts cb ON cb.doc_id = inter.id_b
             |WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin)),

    // ----- token-window chunking for training (oracle-checked) ------------
    "d_chunks" -> QueryDef(
      (s, d) => graft.operators.TextQuality.chunkTokens(
        t(s, d, "documents"), "doc_id", "text", window = 16, overlap = 4)
        .orderBy("id", "chunk_idx"),
      Some("""WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
             |c AS (SELECT doc_id, UNNEST([{'idx': i, 'txt': ARRAY_TO_STRING(ws[(i*12+1):(i*12+16)], ' ')}
             |       FOR i IN RANGE(0, GREATEST(1, CAST(CEIL((LEN(ws) - 4) / 12.0) AS BIGINT)))]) AS ch FROM w)
             |SELECT doc_id AS id, ch.idx AS chunk_idx, ch.txt AS chunk_text,
             |  LEN(STRING_SPLIT(ch.txt, ' ')) AS n_tokens
             |FROM c ORDER BY id, chunk_idx""".stripMargin)),

    // ----- Gopher-style repetition metrics (oracle-checked) ---------------
    "d_repetition" -> QueryDef(
      (s, d) => graft.operators.TextQuality.repetitionMetrics(
        t(s, d, "documents"), "doc_id", "text").orderBy("id"),
      Some("""WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
             |bg AS (SELECT doc_id, UNNEST(CASE WHEN LEN(ws) < 2 THEN [ARRAY_TO_STRING(ws, ' ')]
             |  ELSE [ws[i] || ' ' || ws[i+1] FOR i IN RANGE(1, LEN(ws))] END) AS g FROM w),
             |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1,2),
             |btop AS (SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE)/SUM(c), 4) AS top_bigram_frac FROM bc GROUP BY 1),
             |tg AS (SELECT doc_id, UNNEST(CASE WHEN LEN(ws) < 3 THEN [ARRAY_TO_STRING(ws, ' ')]
             |  ELSE [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] FOR i IN RANGE(1, LEN(ws)-1)] END) AS g FROM w),
             |tc AS (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY 1,2),
             |tdup AS (SELECT doc_id, ROUND(1.0 - CAST(COUNT(*) AS DOUBLE)/SUM(c), 4) AS dup_trigram_frac FROM tc GROUP BY 1)
             |SELECT btop.doc_id AS id, top_bigram_frac, dup_trigram_frac
             |FROM btop JOIN tdup ON btop.doc_id = tdup.doc_id
             |ORDER BY id""".stripMargin)),

    // ----- TF-IDF top terms per document (oracle-checked) -----------------
    // ranked by the exact-rational relevance (tf*N)/df — bit-identical
    // across correctly-rounding engines (Relevance scaladoc has the
    // determinism argument); the log-idf score is emitted, never sorted on
    "d_tfidf" -> QueryDef(
      (s, d) => graft.operators.Relevance.tfIdfTopTerms(
        t(s, d, "documents"), "doc_id", "text", k = 5)
        .orderBy("id", "rnk"),
      Some("""WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n FROM documents),
             |scored AS (
             |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
             |    CAST(tf.tf * n.n AS DOUBLE) / df.df AS rel,
             |    ROUND(tf.tf * LN(CAST(n.n AS DOUBLE) / df.df), 4) AS tfidf
             |  FROM tf JOIN df USING (term) CROSS JOIN n),
             |ranked AS (SELECT *, ROW_NUMBER() OVER (
             |    PARTITION BY doc_id ORDER BY rel DESC, term ASC) AS rnk
             |  FROM scored)
             |SELECT doc_id AS id, rnk, term, tf, df, tfidf FROM ranked
             |WHERE rnk <= 5 ORDER BY id, rnk""".stripMargin)),

    // Frozen-stats TF-IDF: df and N from the doc_id % 3 == 0 snapshot
    // (the SAME bm25CollectionStats table the BM25 probes read — one
    // snapshot powers both scorers), tf from the remaining batch, so
    // ranked terms stay comparable across batches. Snapshot-unseen terms
    // do not rank (df=0 has no finite linear idf); their rate is
    // d_bm25_drift's new_term_rate, which calls the rebuild.
    "d_tfidf_incr" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val stats = graft.operators.Relevance.bm25CollectionStats(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
        graft.operators.Relevance.tfIdfTopTermsUnderStats(
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", k = 5,
          stats).orderBy("id", "rnk")
      },
      Some("""WITH dfq AS (SELECT term, COUNT(*) AS df FROM (
             |    SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' '))
             |      AS term
             |    FROM documents WHERE doc_id % 3 = 0)
             |  WHERE LENGTH(term) > 0 GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 3 = 0),
             |toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
             |  FROM documents WHERE doc_id % 3 <> 0),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
             |  GROUP BY 1, 2),
             |scored AS (
             |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             |    CAST(tf.tf * n.n AS DOUBLE) / dfq.df AS rel,
             |    ROUND(tf.tf * LN(CAST(n.n AS DOUBLE) / dfq.df), 4) AS tfidf
             |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
             |ranked AS (SELECT *, ROW_NUMBER() OVER (
             |    PARTITION BY doc_id ORDER BY rel DESC, term ASC) AS rnk
             |  FROM scored)
             |SELECT doc_id AS id, rnk, term, tf, df, tfidf FROM ranked
             |WHERE rnk <= 5 ORDER BY id, rnk""".stripMargin)),

    // ----- BM25 retrieval scoring (oracle-checked) ------------------------
    // Lucene-style non-negative idf; per-term partials decimal-summed so
    // addition order cannot move the hash; the corpus' token stream is
    // pruned map-side to query-term hits before any shuffle
    "d_bm25" -> QueryDef(
      (s, d) => graft.operators.Relevance.bm25(
        t(s, d, "documents"), "doc_id", "text",
        query = Seq("join", "vector", "stream")).orderBy("id"),
      Some("""WITH q AS (SELECT UNNEST(['join', 'vector', 'stream']) AS term),
             |base AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws,
             |    LEN(STRING_SPLIT(text, ' ')) AS dl FROM documents),
             |stats AS (SELECT COUNT(*) AS n,
             |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM base),
             |hits AS (SELECT doc_id, dl, UNNEST(ws) AS term FROM base),
             |tf AS (SELECT h.doc_id, h.term, COUNT(*) AS tf, MAX(h.dl) AS dl
             |  FROM hits h JOIN q USING (term) GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |part AS (
             |  SELECT tf.doc_id,
             |    LN(1 + ((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)))
             |      * ((tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * (dl / avgdl)))) AS p
             |  FROM tf JOIN df USING (term) CROSS JOIN stats)
             |SELECT doc_id AS id,
             |  ROUND(CAST(SUM(CAST(p AS DECIMAL(30,9))) AS DOUBLE), 4) AS bm25
             |FROM part GROUP BY 1 ORDER BY id""".stripMargin)),

    // ----- benchmark decontamination (EXACT, oracle-checked) --------------
    // docs 0,20,40,... stand in for an eval set; a training doc sharing
    // >= 32 distinct 12-grams with any of them is contamination (32 picks
    // out genuine text overlap on this template-heavy corpus — lower
    // cutoffs match template noise). The benchmark gram index broadcasts;
    // the corpus never shuffles.
    "d_contamination" -> QueryDef(
      (s, d) => {
        // spread ONLY the corpus side: wrapping the shared frame serialized
        // the broadcast bench subtrees behind the full-corpus shuffle and
        // measured slower (2.9 -> 3.6 s); with the bench side on its own
        // plain scan, the heavy gram-explode passes parallelize while the
        // broadcast builds stay independent 1-task scans.
        val docs = t(s, d, "documents")
        Dedup.ngramContamination(
          tSpread(s, d, "documents").filter(col("doc_id") % 20 =!= 0),
          "doc_id", "text",
          docs.filter(col("doc_id") % 20 === 0), "doc_id", "text",
          n = 12, minShared = 32).orderBy("corpus_id", "bench_id")
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, UNNEST(LIST_DISTINCT(
             |    CASE WHEN LENGTH(text) < 12 THEN [text]
             |         ELSE [text[i:i+11] FOR i IN RANGE(1, LENGTH(text) - 10)]
             |    END)) AS g
             |  FROM documents)
             |SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
             |  COUNT(*) AS shared_grams
             |FROM grams c JOIN grams b ON c.g = b.g
             |WHERE c.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
             |GROUP BY 1, 2 HAVING COUNT(*) >= 32
             |ORDER BY corpus_id, bench_id""".stripMargin)),

    // ----- exact-count stratified sample (oracle-checked) -----------------
    // exactly 40 docs per language by deterministic Knuth-hash order —
    // the exact-count companion to d_sample_mix's proportional sampler.
    // Scale-safe: row_number <= k plans as WindowGroupLimit (map-side
    // partial top-k per stratum), pinned in PlanSuite.
    "d_sample_stratified" -> QueryDef(
      (s, d) => graft.operators.Curation.stratifiedSample(
        t(s, d, "documents"), "doc_id", "lang", k = 40)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id"),
      Some("""WITH keyed AS (
             |  SELECT doc_id, lang,
             |    ((doc_id % 1000003) * 2654435761) % 4294967296 AS sk
             |  FROM documents),
             |r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (
             |    PARTITION BY lang ORDER BY sk, doc_id) AS rn FROM keyed)
             |SELECT doc_id, lang FROM r WHERE rn <= 40
             |ORDER BY lang, doc_id""".stripMargin)),

    // ----- corpus duplication profile (EXACT, oracle-checked) -------------
    // the pre-dedup diagnostic a curation run reports before choosing
    // thresholds (Lee et al. ACL'22 report exactly these corpus stats):
    // how many distinct 12-grams exist, what fraction of gram-doc rows
    // sit in cross-document duplicates, and the hottest gram's document
    // frequency. One explode -> one partial-agg'd gram shuffle -> a
    // singleton reduce; skew-safe (a hot gram combines map-side).
    "d_dup_profile" -> QueryDef(
      (s, d) => {
        val dfs = tSpread(s, d, "documents")
          .select(explode(graft.functions.CharNgramFunctions
            .charNgramsDistinct(col("text"), 12)).as("g"))
          .groupBy("g").agg(count(lit(1)).as("df"))
        dfs.agg(
          count(lit(1)).as("distinct_grams"),
          sum(col("df")).as("gram_doc_rows"),
          round(sum(when(col("df") > 1, col("df")).otherwise(0L)).cast("double") /
            sum(col("df")), 4).as("dup_row_frac"),
          max(col("df")).as("max_df"))
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, UNNEST(LIST_DISTINCT(
             |    CASE WHEN LENGTH(text) < 12 THEN [text]
             |         ELSE [text[i:i+11] FOR i IN RANGE(1, LENGTH(text) - 10)]
             |    END)) AS g
             |  FROM documents),
             |dfs AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY 1)
             |SELECT CAST(COUNT(*) AS BIGINT) AS distinct_grams,
             |  CAST(SUM(df) AS BIGINT) AS gram_doc_rows,
             |  ROUND(CAST(SUM(CASE WHEN df > 1 THEN df ELSE 0 END) AS DOUBLE)
             |    / SUM(df), 4) AS dup_row_frac,
             |  CAST(MAX(df) AS BIGINT) AS max_df
             |FROM dfs""".stripMargin)),

    // ----- incremental decontamination via persisted index (EXACT) --------
    // the benchmark gram index is built ONCE, persisted to parquet, read
    // back, and the corpus screened against it — the arriving-batch path
    // of a production pipeline (the index is static per eval-set release,
    // so screening is stateless per batch). Output is bit-identical to
    // the batch operator, hence the SAME oracle as d_contamination.
    "d_contamination_incr" -> QueryDef(
      (s, d) => {
        // corpus side spread, index build on its own plain scan — the
        // d_contamination split (a shared spread frame serializes the
        // broadcast index build behind the full-corpus shuffle)
        val idxPath = scratch(s, "contamination_idx")
        Dedup.benchmarkGramIndex(
          t(s, d, "documents").filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 12)
          .write.mode("overwrite").parquet(idxPath)
        Dedup.contaminationAgainstIndex(
          tSpread(s, d, "documents").filter(col("doc_id") % 20 =!= 0),
          "doc_id", "text",
          s.read.parquet(idxPath), n = 12, minShared = 32)
          .orderBy("corpus_id", "bench_id")
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, UNNEST(LIST_DISTINCT(
             |    CASE WHEN LENGTH(text) < 12 THEN [text]
             |         ELSE [text[i:i+11] FOR i IN RANGE(1, LENGTH(text) - 10)]
             |    END)) AS g
             |  FROM documents)
             |SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
             |  COUNT(*) AS shared_grams
             |FROM grams c JOIN grams b ON c.g = b.g
             |WHERE c.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
             |GROUP BY 1, 2 HAVING COUNT(*) >= 32
             |ORDER BY corpus_id, bench_id""".stripMargin)),

    // ----- substring-span dedup (EXACT, oracle-checked) -------------------
    // Lee et al. ACL'22: token spans >= 10 that recur anywhere in the
    // corpus, marked everywhere but their first occurrence and merged
    // into maximal [start, end) intervals. The oracle replays the same
    // rule over raw gram strings; the engine shuffles only 128-bit gram
    // hashes (SpanDedup scaladoc has the collision math).
    "d_span_dedup" -> QueryDef(
      (s, d) => graft.operators.SpanDedup.spans(
        t(s, d, "documents"), "doc_id", "text", n = 10)
        .orderBy("doc_id", "span_start"),
      Some("""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
             |grams AS (
             |  SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos,
             |         ARRAY_TO_STRING(w[g.i : g.i + 9], ' ') AS gram
             |  FROM toks, LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 8)) AS i) g),
             |owners AS (SELECT gram, MIN(ROW(doc_id, pos)) AS own, COUNT(*) AS occ
             |           FROM grams GROUP BY gram),
             |marked AS (
             |  SELECT g.doc_id, g.pos FROM grams g JOIN owners o ON g.gram = o.gram
             |  WHERE o.occ > 1 AND ROW(g.doc_id, g.pos) <> o.own),
             |islands AS (
             |  SELECT doc_id, pos,
             |    CASE WHEN pos <= MAX(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |         THEN 0 ELSE 1 END AS brk
             |  FROM marked),
             |grp AS (SELECT doc_id, pos,
             |        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
             |        FROM islands)
             |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 10 AS span_end
             |FROM grp GROUP BY doc_id, island
             |ORDER BY doc_id, span_start""".stripMargin)),

    // ----- CROSS-BATCH incremental span dedup (EXACT, oracle-checked) -----
    // The incremental path itself under the oracle: batch 2 (doc_id >=
    // 250) spans computed against batch 1's persisted gram-owner index.
    // With id-ordered batches, first-seen-wins owners coincide with the
    // global lexicographic min (the PropertySuite invariant), so DuckDB's
    // ONE-SHOT replay of the mark-and-merge rule over the whole corpus,
    // restricted to batch-2 documents, is an exact oracle for the
    // history-driven path.
    "d_span_incremental" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val hist = graft.operators.SpanDedup.ownerIndex(
          docs.filter(col("doc_id") < 250), "doc_id", "text", n = 10)
        graft.operators.SpanDedup.spansWithHistory(
          docs.filter(col("doc_id") >= 250), hist, "doc_id", "text", n = 10)
          .orderBy("doc_id", "span_start")
      },
      Some("""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
             |grams AS (
             |  SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos,
             |         ARRAY_TO_STRING(w[g.i : g.i + 9], ' ') AS gram
             |  FROM toks, LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 8)) AS i) g),
             |owners AS (SELECT gram, MIN(ROW(doc_id, pos)) AS own, COUNT(*) AS occ
             |           FROM grams GROUP BY gram),
             |marked AS (
             |  SELECT g.doc_id, g.pos FROM grams g JOIN owners o ON g.gram = o.gram
             |  WHERE o.occ > 1 AND ROW(g.doc_id, g.pos) <> o.own
             |    AND g.doc_id >= 250),
             |islands AS (
             |  SELECT doc_id, pos,
             |    CASE WHEN pos <= MAX(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |         THEN 0 ELSE 1 END AS brk
             |  FROM marked),
             |grp AS (SELECT doc_id, pos,
             |        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
             |        FROM islands)
             |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 10 AS span_end
             |FROM grp GROUP BY doc_id, island
             |ORDER BY doc_id, span_start""".stripMargin)),

    // ----- span-dedup text excision (EXACT, oracle-checked) ---------------
    // the clean() side of d_span_dedup: duplicated spans removed in place,
    // canonical copies and novel prose kept; the oracle rebuilds the text
    // by index-filtering the token array against the same spans
    "d_span_clean" -> QueryDef(
      (s, d) => graft.operators.SpanDedup.clean(
        t(s, d, "documents"), "doc_id", "text", n = 10)
        .select(col("doc_id"), col("clean_text"), col("n_tokens_removed"))
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, text, STRING_SPLIT(text, ' ') AS w
             |              FROM documents),
             |grams AS (
             |  SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos,
             |         ARRAY_TO_STRING(w[g.i : g.i + 9], ' ') AS gram
             |  FROM toks, LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 8)) AS i) g),
             |owners AS (SELECT gram, MIN(ROW(doc_id, pos)) AS own, COUNT(*) AS occ
             |           FROM grams GROUP BY gram),
             |marked AS (
             |  SELECT g.doc_id, g.pos FROM grams g JOIN owners o ON g.gram = o.gram
             |  WHERE o.occ > 1 AND ROW(g.doc_id, g.pos) <> o.own),
             |islands AS (
             |  SELECT doc_id, pos,
             |    CASE WHEN pos <= MAX(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |         THEN 0 ELSE 1 END AS brk
             |  FROM marked),
             |grp AS (SELECT doc_id, pos,
             |        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
             |        FROM islands),
             |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 10 AS e
             |          FROM grp GROUP BY doc_id, island),
             |agg AS (SELECT doc_id, LIST({'s': s, 'e': e}) AS sp,
             |        CAST(SUM(e - s) AS BIGINT) AS rem FROM spans GROUP BY doc_id)
             |SELECT t.doc_id AS doc_id,
             |  CASE WHEN a.sp IS NULL THEN t.text
             |       ELSE COALESCE(ARRAY_TO_STRING([t.w[i]
             |         FOR i IN RANGE(1, LEN(t.w) + 1)
             |         IF LEN(LIST_FILTER(a.sp, x -> x.s <= i - 1 AND i - 1 < x.e)) = 0],
             |         ' '), '')
             |  END AS clean_text,
             |  COALESCE(a.rem, 0) AS n_tokens_removed
             |FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // ----- dedup-key normalization (EXACT, oracle-checked) ----------------
    // C4-style canonicalization before fingerprinting; the corpus is
    // already clean lowercase, so the query PLANTS case/punct noise from
    // doc_id on BOTH sides and both engines must normalize byte-for-byte
    // (and agree on the md5 dedup key)
    "d_normalize" -> QueryDef(
      (s, d) => {
        import graft.operators.Curation
        val planted = t(s, d, "documents").select(col("doc_id"),
          concat(lit("  <P>Mixed, CASE!! #"), col("doc_id").cast("string"),
            lit("&nbsp; -- "), col("text"), lit(" .. (end)")).as("text"))
        planted.select(col("doc_id"),
          Curation.normalizeText(col("text")).as("norm_text"),
          md5(Curation.normalizeText(col("text"))).as("dedup_key"))
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (SELECT doc_id,
             |  '  <P>Mixed, CASE!! #' || CAST(doc_id AS VARCHAR) ||
             |  '&nbsp; -- ' || text || ' .. (end)' AS text
             |  FROM documents),
             |norm AS (SELECT doc_id,
             |  TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text),
             |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
             |  FROM planted)
             |SELECT doc_id, norm_text, MD5(norm_text) AS dedup_key
             |FROM norm ORDER BY doc_id""".stripMargin)),

    // ----- sequence packing (EXACT, oracle-checked) -----------------------
    // GPT-style concatenate-then-chunk: the token stream in doc_id order
    // cut into 128-token packs, one row per doc×pack segment. The engine
    // computes the global prefix sum as a two-pass distributed scan
    // (quantile buckets + O(#buckets) driver offsets — Packing scaladoc);
    // the oracle can afford the plain ordered window at test scale.
    "d_packing" -> QueryDef(
      (s, d) => graft.operators.Packing.packAssignments(
        t(s, d, "documents"), "doc_id", "text", budget = 128)
        .orderBy("doc_id", "pack_id"),
      Some("""WITH c AS (SELECT doc_id,
             |            CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
             |            FROM documents),
             |s AS (SELECT doc_id, n_tok,
             |      CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |        AS BIGINT) AS st
             |      FROM c),
             |seg AS (SELECT doc_id, n_tok, st,
             |        UNNEST(RANGE(st // 128, (st + n_tok - 1) // 128 + 1)) AS pack_id
             |        FROM s WHERE n_tok > 0)
             |SELECT doc_id, pack_id,
             |  GREATEST(pack_id * 128 - st, 0) AS tok_start,
             |  LEAST((pack_id + 1) * 128 - st, n_tok) AS tok_end
             |FROM seg ORDER BY doc_id, pack_id""".stripMargin)),

    // ----- pack payloads: packing × tokenization (the materialized
    // training shard content: pack_id -> concatenated token ids) --------
    // Each sample's ids slice to its pack segment and concatenate in
    // stream (doc_id) order — packing's oracle composed with
    // d_tokenize_ids' vocab. Every pack but the last must hold exactly
    // budget ids; the id arrays themselves reach the hash compare, so a
    // segment slicing off-by-one or an ordering leak cannot pass.
    "d_pack_payloads" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val vocab = graft.operators.Curation.buildWordVocab(
          docs.filter(col("doc_id") % 10 === 0), "text", size = 16)
        val ids = graft.operators.Curation.tokenizeToIds(
          docs, "doc_id", "text", vocab).select("doc_id", "ids")
        val packs = graft.operators.Packing.packAssignments(
          docs, "doc_id", "text", budget = 128)
        packs.join(ids, "doc_id")
          .select(col("pack_id"), col("doc_id"),
            slice(col("ids"), col("tok_start").cast("int") + 1,
              (col("tok_end") - col("tok_start")).cast("int")).as("seg"))
          .groupBy("pack_id")
          .agg(flatten(transform(
            array_sort(collect_list(struct(col("doc_id"), col("seg")))),
            x => x.getField("seg"))).as("ids"),
            // per-segment lengths in stream order — the pack's document
            // boundaries, i.e. the attention-reset metadata a trainer
            // needs to mask cross-document attention in packed sequences
            transform(array_sort(collect_list(struct(col("doc_id"), col("seg")))),
              x => size(x.getField("seg"))).as("seg_lens"))
          // stringified for the driver's pandas compare (q_array_agg
          // precedent); content stays byte-exact in the hash
          .select(col("pack_id"), array_join(col("ids"), ",").as("ids"),
            size(col("ids")).cast("long").as("n_ids"),
            array_join(col("seg_lens"), ",").as("seg_lens"))
          .orderBy("pack_id")
      },
      Some("""WITH docs AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
             |toks AS (
             |  SELECT doc_id, UNNEST(
             |    [{'ord': i, 'tok': ws[i]} FOR i IN RANGE(1, LEN(ws)+1)],
             |    recursive := true)
             |  FROM docs),
             |vocab AS (
             |  SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok)
             |    AS INTEGER) AS id
             |  FROM (SELECT tok, COUNT(*) AS cnt FROM toks
             |        WHERE doc_id % 10 = 0 GROUP BY tok
             |        ORDER BY cnt DESC, tok LIMIT 16)),
             |ids AS (
             |  SELECT t.doc_id, ARRAY_AGG(COALESCE(v.id, 0) ORDER BY t.ord) AS ids
             |  FROM toks t LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id),
             |c AS (SELECT doc_id,
             |      CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
             |      FROM documents),
             |s AS (SELECT doc_id, n_tok,
             |      CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |        AS BIGINT) AS st
             |      FROM c),
             |seg AS (SELECT doc_id, n_tok, st,
             |        UNNEST(RANGE(st // 128, (st + n_tok - 1) // 128 + 1)) AS pack_id
             |        FROM s WHERE n_tok > 0),
             |segs AS (SELECT g.doc_id, g.pack_id,
             |    i.ids[CAST(GREATEST(pack_id * 128 - st, 0) AS INT) + 1 :
             |          CAST(LEAST((pack_id + 1) * 128 - st, n_tok) AS INT)] AS seg
             |  FROM seg g JOIN ids i USING (doc_id))
             |SELECT pack_id,
             |  ARRAY_TO_STRING(FLATTEN(LIST(seg ORDER BY doc_id)), ',') AS ids,
             |  CAST(LEN(FLATTEN(LIST(seg ORDER BY doc_id))) AS BIGINT) AS n_ids,
             |  ARRAY_TO_STRING(LIST(CAST(LEN(seg) AS INT) ORDER BY doc_id), ',')
             |    AS seg_lens
             |FROM segs GROUP BY pack_id ORDER BY pack_id""".stripMargin)),

    // ----- tokenize → detokenize round trip ------------------------------
    // Decode is O(1) literal-array indexing per id. Under a vocab that
    // covers the corpus (31 distinct words at every SF; size 64 here),
    // rejoining the decoded tokens must reproduce the original text
    // byte-for-byte — the oracle emits literal TRUE/0, so a single
    // decode defect flips the hash (the e_ann_lsh contract).
    "d_detokenize" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val vocab = graft.operators.Curation.buildWordVocab(docs, "text", 64)
        graft.operators.Curation.tokenizeToIds(docs, "doc_id", "text", vocab)
          .join(docs.select("doc_id", "text"), "doc_id")
          .select(col("doc_id"),
            (array_join(graft.operators.Curation.idsToTokens(col("ids"), vocab),
              " ") === col("text")).as("roundtrip_ok"),
            col("n_oov"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, TRUE AS roundtrip_ok, CAST(0 AS BIGINT) AS n_oov
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- vocab coverage drift (persisted-vocab staleness signal) ------
    // Mirror of e_quantizer_drift for the tokenization family: the
    // corpus under its own vocab passes (rebuild=false); the same docs
    // with 'a'→'4' mutated (translate/REPLACE, byte-identical on both
    // engines) go OOV-heavy and trip the rebuild flag. Both regimes
    // reach the hash compare.
    "d_vocab_drift" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val vocab = graft.operators.Curation.buildWordVocab(
          docs.filter(col("doc_id") % 10 === 0), "text", size = 64)
        val shifted = docs.select(col("doc_id"),
          translate(col("text"), "a", "4").as("text"))
        graft.operators.Curation.vocabDrift(docs, "doc_id", "text", vocab,
            maxDocOov = 0.2, maxHighFrac = 0.2)
          .withColumn("batch", lit("in_dist"))
          .unionByName(graft.operators.Curation.vocabDrift(shifted,
              "doc_id", "text", vocab, maxDocOov = 0.2, maxHighFrac = 0.2)
            .withColumn("batch", lit("shifted")))
          .select("batch", "n_docs", "n_tokens", "n_oov", "oov_rate",
            "frac_high", "rebuild")
          .orderBy("batch")
      },
      Some {
        def driftSql(src: String, label: String) =
          s"""SELECT '$label' AS batch, n_docs, n_tokens, n_oov, oov_rate,
             |  frac_high, frac_high > 0.2 AS rebuild FROM (
             |  SELECT COUNT(*) AS n_docs,
             |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
             |    CAST(SUM(oo) AS BIGINT) AS n_oov,
             |    ROUND(CAST(SUM(oo) AS DOUBLE)
             |      / GREATEST(SUM(nt), 1), 4) AS oov_rate,
             |    ROUND(CAST(SUM(CASE WHEN CAST(oo AS DOUBLE)
             |        / GREATEST(nt, 1) > 0.2 THEN 1 ELSE 0 END) AS DOUBLE)
             |      / COUNT(*), 4) AS frac_high
             |  FROM (
             |    SELECT t.doc_id, COUNT(*) AS nt,
             |      COUNT(*) FILTER (v.id IS NULL) AS oo
             |    FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
             |          FROM $src) t
             |    LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id))""".stripMargin
        s"""WITH vocab AS (
           |  SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok)
           |    AS INTEGER) AS id
           |  FROM (SELECT tok, COUNT(*) AS cnt
           |        FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
           |              FROM documents) WHERE doc_id % 10 = 0 GROUP BY tok
           |        ORDER BY cnt DESC, tok LIMIT 64)),
           |shifted AS (SELECT doc_id, REPLACE(text, 'a', '4') AS text
           |  FROM documents)
           |SELECT * FROM (
           |  ${driftSql("documents", "in_dist")}
           |  UNION ALL
           |  ${driftSql("shifted", "shifted")})
           |ORDER BY batch""".stripMargin
      }),

    // ----- BPE subword training (the trainer-real tokenizer family) -----
    // Six merges learned on the doc_id%10 slice, each row the winning
    // pair with its weighted count — the full training TRACE is the
    // output, so a single tie-break or pair-count divergence anywhere
    // in the iteration flips the hash. The oracle unrolls all six
    // iterations (pair count → argmax → leftmost-merge recursion).
    "d_bpe_train" -> QueryDef(
      (s, d) => {
        val ms = graft.operators.Bpe.trainMerges(
          t(s, d, "documents").filter(col("doc_id") % 10 === 0), "text", 6)
        import s.implicits._
        ms.zipWithIndex.map { case ((l, r, c), i) => (i + 1, l, r, c) }
          .toDF("merge_rank", "lhs", "rhs", "cnt")
          .orderBy("merge_rank")
      },
      Some(bpeTrainOracleSql(6))),

    // ----- BPE subword encode (text -> trainer-real ids) ----------------
    // The full corpus under the planted fixed model; 'q' is outside the
    // base alphabet so 'query' populates the unk path. Spark side is
    // the map-only zero-exchange codegen expression; the oracle
    // replays the greedy rank rule over DISTINCT words (~31) and joins
    // back. Ids stringify via array_join (non-scalar-output rule).
    // Byte-fallback mode (zero OOV): every document carries an
    // out-of-alphabet plant — 'q' (outside the planted alphabet), plus
    // 2-, 3-, and 4-byte UTF-8 code points — and the fallback encodes
    // them as UTF-8 byte ids replayed arithmetically in SQL; n_oov must
    // hash-check to 0 on every row. The unk (non-fallback) path stays
    // covered by d_bpe_drift.
    "d_bpe_ids" -> QueryDef(
      (s, d) => graft.operators.Bpe.encode(
          t(s, d, "documents")
            .withColumn("text", concat(col("text"), lit(bpePlant))),
          "doc_id", "text", plantedBpeFb)
        .withColumn("ids", array_join(col("ids"), ","))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE ${bpeEncodeCtesFor(
                s"text || ${sqlStr(bpePlant)}", byteFallback = true)},
              |flat AS (
              |  SELECT d.doc_id,
              |    flatten(LIST(list_append(i.ids, ${plantedBpe.spaceId})
              |      ORDER BY d.ord)) AS idsp
              |  FROM docw d JOIN wids i ON d.wd = i.w
              |  GROUP BY d.doc_id)
              |SELECT doc_id,
              |  ARRAY_TO_STRING(idsp[1:LEN(idsp)-1], ',') AS ids,
              |  CAST(LEN(idsp) - 1 AS BIGINT) AS n_tokens,
              |  CAST(LEN(LIST_FILTER(idsp[1:LEN(idsp)-1], x -> x = 0))
              |    AS BIGINT) AS n_oov
              |FROM flat ORDER BY doc_id""".stripMargin)),

    // ----- BPE model drift (persisted-merge-table staleness signal) -----
    // d_vocab_drift's pattern over the subword model: unknown-symbol
    // rate under the planted alphabet (the 'q' gap supplies a real OOV
    // population), with the per-doc high-OOV share driving the rebuild
    // flag. One map-only encode + one global aggregate.
    "d_bpe_drift" -> QueryDef(
      (s, d) => graft.operators.Bpe.drift(
        t(s, d, "documents"), "doc_id", "text", plantedBpe,
        maxDocOov = 0.01, maxHighFrac = 0.3),
      Some(s"""WITH RECURSIVE $bpeEncodeCtes,
              |pd AS (
              |  SELECT d.doc_id,
              |    SUM(LEN(i.ids)) + COUNT(*) - 1 AS nt,
              |    SUM(LEN(LIST_FILTER(i.ids, x -> x = 0))) AS oo
              |  FROM docw d JOIN wids i ON d.wd = i.w
              |  GROUP BY d.doc_id)
              |SELECT n_docs, n_tokens, n_oov, oov_rate, frac_high,
              |  frac_high > 0.3 AS rebuild FROM (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
              |    CAST(SUM(oo) AS BIGINT) AS n_oov,
              |    ROUND(CAST(SUM(oo) AS DOUBLE)
              |      / GREATEST(SUM(nt), 1), 4) AS oov_rate,
              |    ROUND(CAST(SUM(CASE WHEN CAST(oo AS DOUBLE)
              |        / GREATEST(nt, 1) > 0.01 THEN 1 ELSE 0 END) AS DOUBLE)
              |      / GREATEST(COUNT(*), 1), 4) AS frac_high
              |  FROM pd)""".stripMargin)),

    // ----- HTML main-content extraction (the crawl-ingest step) ---------
    // Deterministically planted markup around every document: chrome the
    // classifier must DROP (2-word title, style+script payloads — the
    // script contains a raw '<' and a fake close tag, exercising the
    // raw-text skip — an all-link nav, a half-link footer at density
    // 0.5 > 0.4) and blocks it must KEEP (a 4-word heading, the document
    // body, an entity-bearing paragraph, and for doc_id%7 a conditional
    // appendix so both plant branches reach the hash). The oracle
    // constructs the expected extraction from the same inputs — both
    // engines strip the same plant.
    "d_html_extract" -> QueryDef(
      (s, d) => {
        val html = concat(
          lit("<html><head><title>site index</title>" +
            "<style>p{color:red}</style>" +
            "<script>if (1 < 2) { var x = \"</p>\"; }</script></head><body>" +
            "<nav><a href='/'>Home</a> <a href='/a'>About us</a> " +
            "<a>Contact</a></nav><h1>report for doc "),
          col("doc_id").cast("string"),
          lit("</h1><!-- boilerplate --><p>"), col("text"),
          lit("</p><p>copy &amp; paste &lt;ok&gt;</p>"),
          when(col("doc_id") % 7 === 0,
            concat(lit("<blockquote>retained appendix for doc "),
              col("doc_id").cast("string"), lit("</blockquote>")))
            .otherwise(lit("")),
          lit("<div><a href='/t'>Terms</a> <a>Privacy</a> (c) 2024</div>" +
            "</body></html>"))
        graft.operators.Curation.extractMainContent(
          t(s, d, "documents").withColumn("html", html),
          "doc_id", "html", minWords = 3, maxLinkDensity = 0.4)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  'report for doc ' || doc_id || chr(10) || text || chr(10)
             |  || 'copy & paste <ok>'
             |  || CASE WHEN doc_id % 7 = 0
             |       THEN chr(10) || 'retained appendix for doc ' || doc_id
             |       ELSE '' END AS content
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- fill-in-the-middle sample construction (PSM reorder) ---------
    // Half the docs (doc_id % 2 = 0, length >= 3) FIM-reorder under
    // deterministic doc_id-derived boundaries both engines compute
    // identically; the other half pass through autoregressive — both
    // branches reach the hash compare, sentinels ride in-band as
    // negative ids. Map-only over the tokenized frame.
    "d_fim_splits" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val vocab = graft.operators.Curation.buildWordVocab(
          docs.filter(col("doc_id") % 10 === 0), "text", size = 16)
        val sized = graft.operators.Curation.tokenizeToIds(
            docs, "doc_id", "text", vocab)
          .select(col("doc_id"), col("ids"), col("n_tokens").as("n"))
        val a = when(col("n") >= 3,
          lit(1) + col("doc_id") % (col("n") - 2)).otherwise(lit(1L))
        val app = col("doc_id") % 2 === 0 && col("n") >= 3
        val b = when(app,
          a + 1 + (col("doc_id") * 31 % 97) % (col("n") - a - 1))
          .otherwise(a + 1)
        // fim_ids stringify via array_join: driver pandas compare can't
        // sort raw array cells (q_array_agg precedent)
        sized.select(col("doc_id"),
            array_join(graft.operators.Curation.fimReorder(
              col("ids"), a, b, app), ",").as("fim_ids"),
            when(app, col("n") + 3).otherwise(col("n")).as("n_fim"),
            app.as("fim_applied"))
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
             |toks AS (
             |  SELECT doc_id, UNNEST(
             |    [{'ord': i, 'tok': ws[i]} FOR i IN RANGE(1, LEN(ws)+1)],
             |    recursive := true)
             |  FROM docs),
             |vocab AS (
             |  SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok)
             |    AS INTEGER) AS id
             |  FROM (SELECT tok, COUNT(*) AS cnt FROM toks
             |        WHERE doc_id % 10 = 0 GROUP BY tok
             |        ORDER BY cnt DESC, tok LIMIT 16)),
             |ids AS (
             |  SELECT t.doc_id, ARRAY_AGG(COALESCE(v.id, 0) ORDER BY t.ord) AS ids
             |  FROM toks t LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id),
             |sized AS (SELECT doc_id, ids, CAST(LEN(ids) AS BIGINT) AS n FROM ids),
             |bounds AS (SELECT doc_id, ids, n,
             |    (doc_id % 2 = 0 AND n >= 3) AS app,
             |    CASE WHEN n >= 3 THEN 1 + doc_id % (n - 2) ELSE 1 END AS a
             |  FROM sized),
             |bounds2 AS (SELECT *,
             |    CASE WHEN app THEN a + 1 + (doc_id * 31 % 97) % (n - a - 1)
             |         ELSE a + 1 END AS b
             |  FROM bounds)
             |SELECT doc_id,
             |  ARRAY_TO_STRING(CASE WHEN app THEN
             |    [CAST(-1 AS INTEGER)] || ids[1 : CAST(a AS INT)] ||
             |    [CAST(-2 AS INTEGER)] || ids[CAST(b AS INT) + 1 : CAST(n AS INT)] ||
             |    [CAST(-3 AS INTEGER)] || ids[CAST(a AS INT) + 1 : CAST(b AS INT)]
             |  ELSE ids END, ',') AS fim_ids,
             |  CAST(CASE WHEN app THEN n + 3 ELSE n END AS BIGINT) AS n_fim,
             |  app AS fim_applied
             |FROM bounds2 ORDER BY doc_id""".stripMargin)),

    // ----- PII redaction (C4/Dolma-style scrub) ----------------------------
    // The synthetic corpus carries no natural PII, so the query PLANTS
    // deterministic emails/phones/IPs from doc_id on BOTH sides — the
    // oracle builds the identical text and must replace byte-for-byte
    // (patterns stay in the Java-regex/RE2 common subset).
    "d_pii_redact" -> QueryDef(
      (s, d) => {
        import graft.operators.Curation
        val planted = tSpread(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@example.com"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              lit(" call 555-867-5309")).otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
                lit(".7"))).otherwise(lit(""))).as("text"))
        planted.select(col("doc_id"),
          Curation.redactPii(col("text")).as("clean"),
          Curation.piiCount(col("text")).as("n_pii"))
          .orderBy("doc_id")
      },
      Some {
        val Seq(email, ssn, phone, ip) =
          graft.operators.Curation.PiiPatterns.map(_._1)
        s"""WITH planted AS (
           |  SELECT doc_id, text ||
           |    CASE WHEN doc_id % 3 = 0
           |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
           |      ELSE '' END ||
           |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END ||
           |    CASE WHEN doc_id % 7 = 0
           |      THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
           |      ELSE '' END AS text
           |  FROM documents),
           |r1 AS (SELECT doc_id, LEN(regexp_extract_all(text, '$email')) AS c1,
           |  regexp_replace(text, '$email', '<EMAIL>', 'g') AS t FROM planted),
           |r2 AS (SELECT doc_id, c1, LEN(regexp_extract_all(t, '$ssn')) AS c2,
           |  regexp_replace(t, '$ssn', '<SSN>', 'g') AS t FROM r1),
           |r3 AS (SELECT doc_id, c1, c2, LEN(regexp_extract_all(t, '$phone')) AS c3,
           |  regexp_replace(t, '$phone', '<PHONE>', 'g') AS t FROM r2),
           |r4 AS (SELECT doc_id, c1, c2, c3, LEN(regexp_extract_all(t, '$ip')) AS c4,
           |  regexp_replace(t, '$ip', '<IP>', 'g') AS t FROM r3)
           |SELECT doc_id, t AS clean, c1 + c2 + c3 + c4 AS n_pii
           |FROM r4 ORDER BY doc_id""".stripMargin
      }),

    // ----- deterministic mixture sampling (data mixing) --------------------
    // Hash-mod sampling: reproducible across engines and runs (Knuth
    // multiplicative hash in plain modular arithmetic), so the oracle
    // computes the IDENTICAL sample — no RNG, no seed drift.
    "d_sample_mix" -> QueryDef(
      (s, d) => graft.operators.Curation.hashModSample(
        t(s, d, "documents"), "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.1))
        .select("doc_id", "source").orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM documents
             |WHERE ((doc_id % 1000003) * 2654435761) % 4294967296 % 100 <
             |  CASE source WHEN 'src0' THEN 50 WHEN 'src1' THEN 25
             |              WHEN 'src2' THEN 10 ELSE 100 END
             |ORDER BY doc_id""".stripMargin)),

    // ----- Gopher quality rules (Rae et al. A1.1) --------------------------
    // Document-level heuristic filter: word-count bounds, mean word
    // length, symbol ratio, alphabetic-word fraction, stopword hits —
    // every measure rounded to 4 before thresholding so both engines
    // compare identical doubles.
    "d_gopher_rules" -> QueryDef(
      (s, d) => graft.operators.Curation.gopherRules(
        t(s, d, "documents"), "text", stopwords)
        .select("doc_id", "n_words", "mean_word_len", "alpha_frac",
          "symbol_ratio", "stopword_hits", "gopher_pass")
        .orderBy("doc_id"),
      Some {
        val stopList = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, text, STRING_SPLIT(text, ' ') AS w
           |           FROM documents),
           |m AS (SELECT doc_id,
           |  CAST(LEN(w) AS BIGINT) AS n_words,
           |  ROUND(CAST(LIST_SUM(LIST_TRANSFORM(w, x -> LEN(x))) AS DOUBLE)
           |    / LEN(w), 4) AS mean_word_len,
           |  ROUND(CAST(LEN(LIST_FILTER(w, x -> REGEXP_MATCHES(x, '[A-Za-z]')))
           |    AS DOUBLE) / LEN(w), 4) AS alpha_frac,
           |  ROUND(CAST(LEN(REGEXP_EXTRACT_ALL(text, '#')) +
           |    LEN(REGEXP_EXTRACT_ALL(text, '\\.\\.\\.')) AS DOUBLE)
           |    / LEN(w), 4) AS symbol_ratio,
           |  CAST(LEN(LIST_FILTER(w, x ->
           |    LIST_CONTAINS($stopList, LOWER(x)))) AS BIGINT) AS stopword_hits
           |  FROM t)
           |SELECT doc_id, n_words, mean_word_len, alpha_frac, symbol_ratio,
           |  stopword_hits,
           |  (n_words >= 50 AND n_words <= 100000 AND
           |   mean_word_len >= 3 AND mean_word_len <= 10 AND
           |   alpha_frac >= 0.8 AND symbol_ratio <= 0.1 AND
           |   stopword_hits >= 2) AS gopher_pass
           |FROM m ORDER BY doc_id""".stripMargin
      }),

    // ----- mixture accounting (per-source token shares) --------------------
    "d_mixture" -> QueryDef(
      (s, d) => graft.operators.Curation.mixtureReport(
        t(s, d, "documents"), "source", "text").orderBy("source"),
      Some("""SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
             |  ROUND(SUM(LEN(STRING_SPLIT(text, ' '))) /
             |    SUM(SUM(LEN(STRING_SPLIT(text, ' ')))) OVER (), 6)
             |    AS token_share
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ----- SemDeDup (Abbas et al.) — oracle-checked via planted clusters --
    // The testdata embeddings carry no semantic near-dups (max pairwise
    // cosine 0.48), so the query PLANTS them from doc_id on BOTH sides:
    // 10 tight clusters of integer-valued 16-dim vectors (cluster base
    // scaled 1000x + per-doc perturbation). Integer elements are exact in
    // float32 AND double, and every dot/norm² partial sum stays an exact
    // integer < 2^53 — the cosines are bit-identical across engines with
    // zero FP fuzz. Cross-cluster cosine maxes at 0.34 (measured over the
    // quadratic-residue base family), so truth at 0.9 is exactly the
    // within-cluster pairs. Emitted rows are the EXACT brute-force pairs
    // (which DuckDB mirrors) plus a recall_ok column gating semDedupPairs
    // against them at >= 0.9 — the e_ann_lsh trick: a clustering or
    // recall regression flips the column on every row and fails the hash.
    "d_semdedup" -> QueryDef(
      (s, d) => {
        val planted = plantedVecs(s, d)
        val exact = Dedup.embeddingCosinePairs(planted, "doc_id", "v", 0.9)
        val found = Dedup.semDedupPairs(planted, "doc_id", "v",
          threshold = 0.9, nlist = 10, iterations = 4)
          .select(col("id_a"), col("id_b"), lit(1d).as("__hit"))
        exact.join(found, Seq("id_a", "id_b"), "left")
          .withColumn("recall_ok",
            avg(coalesce(col("__hit"), lit(0d))).over(Window.partitionBy()) >= 0.9)
          .select("id_a", "id_b", "cosine", "recall_ok")
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH v AS (
             |  $plantedVecsSql),
             |p AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.emb, b.emb),
             |        x -> x[1] * x[2])) /
             |      (SQRT(LIST_SUM(LIST_TRANSFORM(a.emb, x -> x * x))) *
             |       SQRT(LIST_SUM(LIST_TRANSFORM(b.emb, x -> x * x)))), 4) AS cosine
             |  FROM v a JOIN v b ON a.doc_id < b.doc_id)
             |SELECT id_a, id_b, cosine, TRUE AS recall_ok
             |FROM p WHERE cosine >= 0.9 ORDER BY id_a, id_b""".stripMargin)),

    // ----- IVF ANN with a TRAINED quantizer — oracle-checked ---------------
    // Same planted clusters as d_semdedup (IVF's home turf: a trained
    // coarse quantizer shapes buckets to the data's modes). Emitted rows
    // are the EXACT brute-force top-1 (which DuckDB mirrors) plus a
    // recall_ok column: the whole-result average of "IVF found the true
    // nearest cosine" gated at >= 0.9 — a trainer or probe regression
    // flips every row and fails the hash (the e_ann_lsh contract).
    "e_ivf_top1" -> QueryDef(
      (s, d) => {
        val planted = plantedVecs(s, d)
        val queries = planted.filter(col("doc_id") < 50)
        val model = Similarity.trainIvfCentroids(
          planted, "doc_id", "v", nlist = 10, iterations = 4)
        val ivf = Similarity.ivfTopK(queries, planted, "doc_id", "v",
          k = 1, nlist = 10, nprobe = 2, quantizer = Some(model))
          .select(col("query_id"), round(col("cosine"), 4).as("ivf_cosine"))
        val exact = Similarity.bruteForceTopK(queries, planted, "doc_id", "v", k = 1)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cosine"), 4).as("cosine"))
        exact.join(ivf, Seq("query_id"), "left")
          .withColumn("recall_ok",
            avg(when(col("ivf_cosine").isNotNull &&
              col("ivf_cosine") === col("cosine"), 1d).otherwise(0d))
              .over(Window.partitionBy()) >= 0.9)
          .select("query_id", "neighbor_id", "cosine", "recall_ok")
          .orderBy("query_id")
      },
      Some {
        val dotAB = "LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.emb, b.emb), " +
          "p -> p[1] * p[2]))"
        def dotSelf(x: String) =
          s"LIST_SUM(LIST_TRANSFORM($x.emb, v -> v * v))"
        val cos = s"$dotAB / (SQRT(${dotSelf("a")}) * SQRT(${dotSelf("b")}))"
        s"""WITH v AS (
           |  $plantedVecsSql)
           |SELECT a.doc_id AS query_id,
           |  ARG_MAX(b.doc_id, $cos) AS neighbor_id,
           |  ROUND(MAX($cos), 4) AS cosine,
           |  TRUE AS recall_ok
           |FROM v a JOIN v b ON a.doc_id <> b.doc_id
           |WHERE a.doc_id < 50
           |GROUP BY a.doc_id ORDER BY query_id""".stripMargin
      }),

    // ----- IVF-PQ ANN (product-quantized codes + exact re-rank) -----------
    // Same planted clusters and contract as e_ivf_top1: emitted rows are
    // the exact brute-force top-1, plus recall_ok = "IVF-PQ's candidate
    // path found the true nearest" averaged >= 0.9 — a codebook, encode,
    // ADC, or re-rank regression flips every row and fails the hash. The
    // bucket join carries m=4 byte codes instead of 16 floats.
    "e_ivfpq_top1" -> QueryDef(
      (s, d) => {
        val planted = plantedVecs(s, d)
        val queries = planted.filter(col("doc_id") < 50)
        val coarse = Similarity.trainIvfCentroids(
          planted, "doc_id", "v", nlist = 10, iterations = 4)
        val pq = Similarity.trainPq(planted, "doc_id", "v",
          m = 4, ksub = 16, sampleN = 200, iterations = 6)
        val approx = Similarity.ivfPqTopK(queries, planted, "doc_id", "v",
          k = 1, pq, nlist = 10, nprobe = 2, rerank = 40,
          quantizer = Some(coarse))
          .select(col("query_id"), round(col("cosine"), 4).as("pq_cosine"))
        val exact = Similarity.bruteForceTopK(queries, planted, "doc_id", "v", k = 1)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cosine"), 4).as("cosine"))
        exact.join(approx, Seq("query_id"), "left")
          .withColumn("recall_ok",
            avg(when(col("pq_cosine").isNotNull &&
              col("pq_cosine") === col("cosine"), 1d).otherwise(0d))
              .over(Window.partitionBy()) >= 0.9)
          .select("query_id", "neighbor_id", "cosine", "recall_ok")
          .orderBy("query_id")
      },
      Some {
        val dotAB = "LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.emb, b.emb), " +
          "p -> p[1] * p[2]))"
        def dotSelf(x: String) =
          s"LIST_SUM(LIST_TRANSFORM($x.emb, v -> v * v))"
        val cos = s"$dotAB / (SQRT(${dotSelf("a")}) * SQRT(${dotSelf("b")}))"
        s"""WITH v AS (
           |  $plantedVecsSql)
           |SELECT a.doc_id AS query_id,
           |  ARG_MAX(b.doc_id, $cos) AS neighbor_id,
           |  ROUND(MAX($cos), 4) AS cosine,
           |  TRUE AS recall_ok
           |FROM v a JOIN v b ON a.doc_id <> b.doc_id
           |WHERE a.doc_id < 50
           |GROUP BY a.doc_id ORDER BY query_id""".stripMargin
      }),

    // ----- sampled LSH recall audit (the production recall monitor) ------
    // Exact word-shingle Jaccard pairs among a 250-doc deterministic
    // hash sample (the truth side — oracle-replayable; the 400-doc
    // figures quoted in Dedup.scala are from the timing experiments,
    // not this query's budget), with ONE
    // declarative recall_ok gate over the full-corpus LSH's recovery of
    // those pairs (the e_ann_lsh contract: a banding recall regression
    // flips every row and fails the hash). At 100 TB this is how recall
    // is actually monitored — exact truth on a bounded sample, never
    // the corpus.
    "d_minhash_recall" -> QueryDef(
      (s, d) => Dedup.minhashRecallAudit(t(s, d, "documents"),
        "doc_id", "text", sampleN = 250, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some {
        val h = graft.operators.Mixing.minstdSql("doc_id", 53L)
        s"""WITH sample AS (
           |  SELECT doc_id, text FROM (
           |    SELECT doc_id, text FROM documents
           |    ORDER BY $h, doc_id LIMIT 250)),
           |sh AS (
           |  SELECT doc_id, LIST_DISTINCT(
           |    CASE WHEN LEN(w) < 3 THEN [ARRAY_TO_STRING(w, ' ')]
           |      ELSE [ARRAY_TO_STRING(w[i : i + 2], ' ')
           |            FOR i IN RANGE(1, LEN(w) - 1)] END) AS g
           |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM sample))
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  ROUND(CAST(LEN(LIST_FILTER(a.g, x -> LIST_CONTAINS(b.g, x)))
           |      AS DOUBLE) /
           |    (LEN(a.g) + LEN(b.g)
           |      - LEN(LIST_FILTER(a.g, x -> LIST_CONTAINS(b.g, x)))), 4)
           |    AS jaccard,
           |  TRUE AS recall_ok
           |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |WHERE ROUND(CAST(LEN(LIST_FILTER(a.g, x -> LIST_CONTAINS(b.g, x)))
           |      AS DOUBLE) /
           |    (LEN(a.g) + LEN(b.g)
           |      - LEN(LIST_FILTER(a.g, x -> LIST_CONTAINS(b.g, x)))), 4)
           |    >= 0.5
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // ----- winnowing (MOSS) quotation/copy detection (rows-only; the
    // w+k-1 shared-substring guarantee is suite-gated) ---------------------
    // tSpread A/B REJECTED here (1.92 -> 2.03 s isolated sf0.1): the
    // rolling-hash fingerprint pass is cheap enough that repartitioning
    // full document text costs more than the parallelism buys
    // UPGRADED from rows-only (round 15): unlike XXH64, the winnow hash —
    // Rabin-Karp base-257 with 64-bit wraparound plus the two-constant
    // fmix64 finalizer — IS ANSI-expressible: HUGEINT carries the mod-2^64
    // arithmetic (the 64x64 multiply splits into 32-bit halves so no
    // intermediate tops 2^97), xor works on HUGEINT, and the rightmost-min
    // window rule collapses to plain per-window MIN because only the
    // selected VALUE enters the fingerprint set. The replay runs on code
    // points == bytes (the corpus is pure ASCII, strlen == length
    // asserted by the n<k branch never firing at either SF; min doc 47B).
    "d_winnow_pairs" -> QueryDef(
      (s, d) => Dedup.winnowingPairs(t(s, d, "documents"), "doc_id", "text",
        k = 16, w = 32, threshold = 0.2).orderBy("id_a", "id_b"),
      Some {
        val m64 = "18446744073709551616"
        def mulmod(v: String, c: String) =
          s"(($v % 4294967296) * $c + ((($v // 4294967296) * $c) " +
            s"% 4294967296) * 4294967296) % $m64"
        s"""WITH grams AS (
           |  SELECT doc_id, i,
           |    LIST_REDUCE(LIST_PREPEND(CAST(0 AS HUGEINT),
           |      [CAST(ascii(text[j]) AS HUGEINT)
           |       FOR j IN RANGE(i, LEAST(i + 16, strlen(text) + 1))]),
           |      (h, b) -> (h * 257 + b) % $m64) AS rh
           |  FROM (SELECT doc_id, text, UNNEST(RANGE(1,
           |      GREATEST(strlen(text) - 15, 1) + 1)) AS i
           |    FROM documents WHERE strlen(text) > 0)),
           |x1 AS (SELECT doc_id, i, xor(rh, rh // 8589934592) AS v
           |  FROM grams),
           |x2 AS (SELECT doc_id, i,
           |    ${mulmod("v", "18397679294719823053")} AS v FROM x1),
           |x3 AS (SELECT doc_id, i, xor(v, v // 8589934592) AS v FROM x2),
           |x4 AS (SELECT doc_id, i,
           |    ${mulmod("v", "14181476777654086739")} AS v FROM x3),
           |-- the JVM's window minima compare SIGNED longs: re-bias the
           |-- unsigned mix value before any MIN (identity stays injective,
           |-- so set/bucket semantics are unchanged)
           |x5 AS (SELECT doc_id, i,
           |    CASE WHEN xor(v, v // 8589934592) >= 9223372036854775808
           |      THEN xor(v, v // 8589934592) - $m64
           |      ELSE xor(v, v // 8589934592) END AS h
           |  FROM x4),
           |hl AS (SELECT doc_id, LIST(h ORDER BY i) AS hs
           |  FROM x5 GROUP BY 1),
           |fpr AS (
           |  SELECT doc_id AS id, UNNEST(LIST_DISTINCT(
           |      [LIST_MIN(hs[t:t+31]) FOR t IN RANGE(1, LEN(hs) - 30)]))
           |    AS fp
           |  FROM hl WHERE LEN(hs) >= 32
           |  UNION ALL
           |  SELECT doc_id, LIST_MIN(hs) FROM hl WHERE LEN(hs) < 32),
           |elig AS (
           |  SELECT fp, id FROM fpr
           |  QUALIFY COUNT(*) OVER (PARTITION BY fp) BETWEEN 2 AND 32),
           |cand AS (
           |  SELECT a.id AS id_a, b.id AS id_b
           |  FROM elig a JOIN elig b ON a.fp = b.fp AND a.id < b.id
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |cnt AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS nf
           |  FROM fpr GROUP BY 1),
           |iv AS (
           |  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS ni
           |  FROM cand c
           |  JOIN fpr a ON a.id = c.id_a
           |  JOIN fpr b ON b.id = c.id_b AND b.fp = a.fp
           |  GROUP BY 1, 2),
           |j AS (
           |  SELECT iv.id_a, iv.id_b, ROUND(CAST(iv.ni AS DOUBLE)
           |      / (ca.nf + cb.nf - iv.ni), 4) AS jaccard
           |  FROM iv JOIN cnt ca ON ca.id = iv.id_a
           |  JOIN cnt cb ON cb.id = iv.id_b)
           |SELECT id_a, id_b, jaccard FROM j
           |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin
      }),

    // ----- ANN: brute-force cosine top-1 (rows-only; FP argmax) -----------
    "e_ann_top1" -> QueryDef(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding", k = 1)
          .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"))
          .orderBy("query_id")
      },
      Some {
        // DuckDB's LIST_COSINE_SIMILARITY computes in float32; spell out the
        // double-precision cosine so it matches Spark bit-for-bit.
        val dotAB = "LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.embedding, b.embedding), " +
          "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        def dotSelf(x: String) =
          s"LIST_SUM(LIST_TRANSFORM($x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        val cos = s"$dotAB / (SQRT(${dotSelf("a")}) * SQRT(${dotSelf("b")}))"
        s"""SELECT a.vec_id AS query_id,
           |  ARG_MAX(b.vec_id, $cos) AS neighbor_id,
           |  ROUND(MAX($cos), 4) AS cosine
           |FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |WHERE a.vec_id < 50
           |GROUP BY a.vec_id ORDER BY query_id""".stripMargin
      }),

    // ----- quantizer drift report (incremental-ANN maintenance signal) -----
    // Two batches against one FIXED arithmetic quantizer (the planted
    // clusters' noise-free centers, reproduced by both engines):
    // in-distribution vectors assign near-perfectly (retrain=false); a
    // batch from a DIFFERENT base family assigns poorly and trips the
    // retrain flag — both regimes reach the hash compare. Map-only dots
    // against the literal model + one global aggregate; the batch never
    // shuffles.
    "e_quantizer_drift" -> QueryDef(
      (s, d) => {
        val quant = Array.tabulate(10)(g => Array.tabulate(16)(j =>
          (((g * 31 + j * 17 + g * j * 13) % 23 - 11) * 1000).toFloat))
        val g2 = col("doc_id") % 10
        val shifted = t(s, d, "documents")
          .filter(col("doc_id") >= 200 && col("doc_id") < 400)
          .select(col("doc_id"),
            transform(sequence(lit(0), lit(15)), j =>
              (((g2 * 37 + j * 29 + g2 * j * 7) % 19 - 9) * 1000 +
                ((col("doc_id") * 11 + j * 5) % 13 - 6)).cast("float")).as("v"))
        Similarity.quantizerDrift(plantedVecs(s, d), "doc_id", "v", quant,
            minAssignCos = 0.99, maxLowFrac = 0.1)
          .withColumn("batch", lit("in_dist"))
          .unionByName(Similarity.quantizerDrift(shifted, "doc_id", "v", quant,
              minAssignCos = 0.99, maxLowFrac = 0.1)
            .withColumn("batch", lit("shifted")))
          .select("batch", "n", "mean_assign_cos", "frac_low", "retrain")
          .orderBy("batch")
      },
      Some {
        def driftSql(batch: String, label: String) =
          s"""SELECT '$label' AS batch, n, mean_assign_cos, frac_low,
             |  frac_low > 0.1 AS retrain FROM (
             |  SELECT COUNT(*) AS n,
             |    ROUND(CAST(SUM(CAST(cc AS DECIMAL(20,6))) AS DOUBLE)
             |      / COUNT(*), 4) AS mean_assign_cos,
             |    ROUND(CAST(SUM(CASE WHEN cc < 0.99 THEN 1 ELSE 0 END)
             |      AS DOUBLE) / COUNT(*), 4) AS frac_low
             |  FROM (
             |    SELECT doc_id, ROUND(MAX(
             |      LIST_SUM(LIST_TRANSFORM(LIST_ZIP(emb, c),
             |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |      / SQRT(LIST_SUM(LIST_TRANSFORM(emb, x -> x * x))
             |           * LIST_SUM(LIST_TRANSFORM(c, x -> x * x)))), 4) AS cc
             |    FROM $batch, cents GROUP BY doc_id))""".stripMargin
        s"""WITH cents AS (
           |  SELECT g, LIST_TRANSFORM(RANGE(0, 16), j -> CAST(
           |    ((g * 31 + j * 17 + g * j * 13) % 23 - 11) * 1000 AS DOUBLE)) AS c
           |  FROM RANGE(0, 10) t(g)),
           |b1 AS (
           |  $plantedVecsSql),
           |b2 AS (SELECT doc_id,
           |    LIST_TRANSFORM(RANGE(0, 16), j -> CAST(
           |      (((doc_id % 10) * 37 + j * 29 + (doc_id % 10) * j * 7) % 19 - 9)
           |        * 1000 + ((doc_id * 11 + j * 5) % 13 - 6) AS DOUBLE)) AS emb
           |  FROM documents WHERE doc_id >= 200 AND doc_id < 400)
           |SELECT * FROM (
           |  ${driftSql("b1", "in_dist")}
           |  UNION ALL
           |  ${driftSql("b2", "shifted")})
           |ORDER BY batch""".stripMargin
      }),

    // ----- ANN: LSH-bucketed variant, recall-gated in-query ---------------
    // The LSH output itself is banding-dependent (no ANSI oracle can
    // reproduce which bucket a query probes), but its QUALITY is a
    // checkable invariant: the emitted rows are the EXACT top-1 (which
    // DuckDB mirrors, same as e_ann_top1) plus a recall_ok column — the
    // whole-result average of "LSH found the true nearest cosine" gated
    // at ≥ 0.9. The oracle emits literal TRUE, so an LSH recall
    // regression flips the column for every row and fails the hash
    // check; the same trick does NOT transfer to the pair-set queries
    // (d_minhash/d_simhash/d_winnow): their outputs are pair SETS whose
    // membership is banding-dependent, with no exact counterpart row set
    // of the same shape to gate against — they stay recall-gated in
    // RecallSuite instead.
    "e_ann_lsh" -> QueryDef(
      (s, d) => {
        val emb = tSpread(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 50)
        // planes=3/tables=16: multi-table SRP holds recall@1 ≥ 0.98 on
        // these (weakly clustered) embeddings at sf0.001/0.01/0.1 —
        // measured, with the 0.9 gate as the regression floor
        val lsh = Similarity.lshTopK(
          queries, emb, "vec_id", "embedding", k = 1, planes = 3, tables = 16)
          .select(col("query_id"), round(col("cosine"), 4).as("lsh_cosine"))
        val exact = Similarity.bruteForceTopK(
          queries, emb, "vec_id", "embedding", k = 1)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cosine"), 4).as("cosine"))
        // recall@1 on rounded cosines (a tie at the top is equally near);
        // the 50-row global window is bounded by the query-set size
        exact.join(lsh, Seq("query_id"), "left")
          .withColumn("recall_ok",
            avg(when(col("lsh_cosine").isNotNull &&
              col("lsh_cosine") === col("cosine"), 1d).otherwise(0d))
              .over(org.apache.spark.sql.expressions.Window.partitionBy()) >= 0.9)
          .select("query_id", "neighbor_id", "cosine", "recall_ok")
          .orderBy("query_id")
      },
      Some {
        val dotAB = "LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.embedding, b.embedding), " +
          "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        def dotSelf(x: String) =
          s"LIST_SUM(LIST_TRANSFORM($x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        val cos = s"$dotAB / (SQRT(${dotSelf("a")}) * SQRT(${dotSelf("b")}))"
        s"""SELECT a.vec_id AS query_id,
           |  ARG_MAX(b.vec_id, $cos) AS neighbor_id,
           |  ROUND(MAX($cos), 4) AS cosine,
           |  TRUE AS recall_ok
           |FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |WHERE a.vec_id < 50
           |GROUP BY a.vec_id ORDER BY query_id""".stripMargin
      }),

    // ----- embedding norms per label --------------------------------------
    "e_norms_by_label" -> QueryDef(
      (s, d) => t(s, d, "embeddings")
        .select(col("label"), Similarity.l2Norm(col("embedding")).as("norm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), dsum(col("norm")).as("norm_sum"))
        .orderBy("label"),
      Some(s"""SELECT label, COUNT(*) AS n_vecs,
              |  ${dsumSql("SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")} AS norm_sum
              |FROM embeddings GROUP BY label ORDER BY label""".stripMargin)),

    // ----- multimodal: binary column + feature extraction -----------------
    "m_media_features" -> QueryDef(
      (s, d) => {
        val media = Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text", "text/plain")
        Multimodal.extractFeatures(media)
          .select(col("media_id"), col("n_bytes"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ----- training-output materialization (operators/Mixing.scala) --------
    // All three ride ONE portable hash (3-round Lehmer MINSTD — every
    // intermediate an exact integer < 2^47), so DuckDB replays the
    // identical shuffle/sample bit-for-bit: the randomness IS the oracle.

    // Deterministic global shuffle into shards: (doc, shard, position).
    "d_global_shuffle" -> QueryDef(
      (s, d) => graft.operators.Mixing.globalShuffle(
        t(s, d, "documents"), "doc_id", numShards = 8)
        .orderBy("shard", "pos"),
      Some {
        val h = graft.operators.Mixing.minstdSql("doc_id", 41L)
        s"""WITH k AS (SELECT doc_id, $h AS skey FROM documents)
           |SELECT doc_id, CAST(skey % 8 AS INT) AS shard,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY skey % 8
           |    ORDER BY skey, doc_id) AS INT) AS pos
           |FROM k ORDER BY shard, pos""".stripMargin
      }),

    // Curriculum ordering: difficulty bands visited in order, MINSTD-
    // shuffled within — bands here from a deterministic length bin
    // (longer docs = later band), 4 shards per band. The position window
    // partitions by (band, shard), never band-wide.
    "d_curriculum" -> QueryDef(
      (s, d) => graft.operators.Mixing.curriculumOrder(
        t(s, d, "documents"), "doc_id",
        band = least(floor(col("n_chars") / 150), lit(5)), numShards = 4)
        .orderBy("band", "shard", "pos"),
      Some {
        val h = graft.operators.Mixing.minstdSql("doc_id", 41L)
        s"""WITH k AS (SELECT doc_id,
           |    CAST(LEAST(FLOOR(n_chars / 150), 5) AS INT) AS band,
           |    $h AS skey FROM documents)
           |SELECT doc_id, band, CAST(skey % 4 AS INT) AS shard,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY band, skey % 4
           |    ORDER BY skey, doc_id) AS INT) AS pos
           |FROM k ORDER BY band, shard, pos""".stripMargin
      }),

    // Temperature-flattened mixture sampling (T5 §3.4.3, τ=2): expected
    // 30% of the corpus with per-source rates ∝ √count. Selection is the
    // cross-multiplied integer compare — no division, no float boundary.
    "d_mix_temperature" -> QueryDef(
      (s, d) => graft.operators.Mixing.temperatureSample(
        t(s, d, "documents"), "doc_id", "source", targetFrac = 0.3)
        .orderBy("doc_id"),
      Some {
        val h = graft.operators.Mixing.minstdSql("d.doc_id", 41L)
        s"""WITH dom AS (SELECT source, COUNT(*) AS n_d,
           |  CAST(ROUND(SQRT(COUNT(*)) * 1000000, 0) AS BIGINT) AS ss_d
           |  FROM documents GROUP BY source),
           |z AS (SELECT SUM(ss_d) AS z6,
           |  CAST(FLOOR(SUM(n_d) * 0.3) AS BIGINT) AS t FROM dom)
           |SELECT d.doc_id, d.source
           |FROM documents d JOIN dom ON d.source = dom.source CROSS JOIN z
           |WHERE (($h - 1) % 1000000) * z.z6 * dom.n_d < z.t * dom.ss_d * 1000000
           |ORDER BY d.doc_id""".stripMargin
      }),

    // Token-budget epoch planning (LLaMA-style repeat table): src0's
    // budget caps at maxEpochs, src1 gets 1 full + partial, src2 partial
    // only, every other source 0 — all four regimes in one result.
    "d_epoch_plan" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents").withColumn("n_tok",
          size(split(col("text"), " ")).cast("long"))
        graft.operators.Mixing.epochPlan(docs, "doc_id", "source", "n_tok",
          budgets = Map("src0" -> 5000L, "src1" -> 2000L, "src2" -> 700L),
          maxEpochs = 3)
          .orderBy("doc_id")
      },
      Some {
        val h = graft.operators.Mixing.minstdSql("d.doc_id", 41L)
        s"""WITH docs AS (SELECT doc_id, source,
           |  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
           |  FROM documents),
           |dom AS (SELECT source, SUM(n_tokens) AS avail,
           |  CAST(CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 2000
           |       WHEN 'src2' THEN 700 ELSE 0 END AS BIGINT) AS budget
           |  FROM docs GROUP BY source),
           |dom2 AS (SELECT source, avail,
           |  LEAST(budget // avail, 3) AS full_epochs,
           |  CASE WHEN budget // avail >= 3 THEN 0
           |       ELSE budget - (budget // avail) * avail END AS rem
           |  FROM dom)
           |SELECT d.doc_id, d.source, d.n_tokens,
           |  CAST(dom2.full_epochs + CASE WHEN (($h - 1) % 1000000) * dom2.avail
           |    < dom2.rem * 1000000 THEN 1 ELSE 0 END AS INT) AS epochs
           |FROM docs d JOIN dom2 ON d.source = dom2.source
           |ORDER BY d.doc_id""".stripMargin
      }),

    // Boilerplate line removal (CCNet/RefinedWeb line-wise filtering).
    // The corpus text has no newlines, so the query PLANTS multi-line
    // docs from doc_id on BOTH sides: a corpus-wide HEADER (df 500),
    // a FOOTER on even ids (df 250), a body line shared by the doc's
    // base-50 group (df ~10), and a unique line. minDf=100 must drop
    // exactly the header and footer, preserve line order, and count the
    // removals — every clean_text reaches the hash compare.
    "d_line_dedup" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"))
          .withColumn("text", concat_ws("\n",
            lit("HEADER cookie notice"),
            concat(lit("body of group "), col("doc_id") % 50),
            concat(lit("unique line "), col("doc_id")),
            when(col("doc_id") % 2 === 0, lit("FOOTER terms apply"))))
        graft.operators.Curation.removeBoilerplateLines(
          docs, "doc_id", "text", minDf = 100)
          .select("doc_id", "clean_text", "n_lines_removed")
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    'HEADER cookie notice' || CHR(10) ||
             |    'body of group ' || (doc_id % 50) || CHR(10) ||
             |    'unique line ' || doc_id ||
             |    CASE WHEN doc_id % 2 = 0
             |      THEN CHR(10) || 'FOOTER terms apply' ELSE '' END AS text
             |  FROM documents),
             |lines AS (
             |  SELECT doc_id, UNNEST(
             |    [{'pos': i, 'line': l[i]} FOR i IN RANGE(1, LEN(l)+1)],
             |    recursive := true)
             |  FROM (SELECT doc_id, STRING_SPLIT(text, CHR(10)) AS l
             |        FROM planted)),
             |hot AS (SELECT line FROM lines GROUP BY line
             |        HAVING COUNT(*) >= 100),
             |kept AS (SELECT doc_id,
             |    ARRAY_TO_STRING(LIST(line ORDER BY pos), CHR(10)) AS clean_text,
             |    COUNT(*) AS n_kept
             |  FROM lines WHERE line NOT IN (SELECT line FROM hot)
             |  GROUP BY doc_id)
             |SELECT p.doc_id,
             |  COALESCE(k.clean_text, '') AS clean_text,
             |  CAST(LEN(STRING_SPLIT(p.text, CHR(10))) - COALESCE(k.n_kept, 0)
             |    AS BIGINT) AS n_lines_removed
             |FROM planted p LEFT JOIN kept k USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Word-blocklist safety filter (the C4 badwords rule): drop any doc
    // containing a blocked word as a WHOLE token (substring matching
    // over-blocks — "assess" is not "ass"); emit the per-doc blocked
    // ratio and keep flag so both regimes hash-compare. Map-only.
    "d_badword_filter" -> QueryDef(
      (s, d) => {
        val blocked = Seq("merge", "window") // stand-in list; corpus words
        // keep derives from an EXACT membership test, not the rounded
        // ratio: a single blocked token among > 20k would round to
        // ratio 0.0 and sail through the safety gate
        t(s, d, "documents")
          .select(col("doc_id"),
            TextFunctions.stopwordRatio(col("text"), blocked)
              .as("blocked_ratio"),
            (!arrays_overlap(split(col("text"), " "),
              typedlit(blocked))).as("keep"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
             |    t -> t IN ('merge', 'window'))) AS DOUBLE)
             |    / GREATEST(LEN(STRING_SPLIT(text, ' ')), 1), 4)
             |    AS blocked_ratio,
             |  LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
             |    t -> t IN ('merge', 'window'))) = 0 AS keep
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // CCNet head/middle/tail bucketing: LM surprisal scores cut at exact
    // tercile thresholds — ONE aggregate broadcasts two numbers, the
    // classification is a map-only comparison chain (no corpus-wide
    // ntile window). Threshold literals render from the same Scala
    // doubles on both sides, so the quantile interpolation is
    // bit-identical (the q_percentile percentile≡quantile_cont pairing).
    "d_ccnet_buckets" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val lm = graft.operators.Curation.ngramLm(
          docs.filter(col("doc_id") % 10 === 0), "text", n = 3)
        val scored = graft.operators.Curation.surprisalScore(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", lm)
        graft.operators.Curation.scoreBuckets(scored, "nll",
          Seq("head", "middle", "tail"))
          .select("id", "nll", "bucket")
          .orderBy("id")
      },
      Some {
        val p1 = (1.0 / 3).toString
        val p2 = (2.0 / 3).toString
        s"""WITH model AS (
           |  SELECT g, COUNT(*) AS c FROM (
           |    SELECT UNNEST(CASE WHEN LENGTH(text) < 3 THEN [text]
           |      ELSE [text[i:i+2] FOR i IN RANGE(1, LENGTH(text) - 1)]
           |      END) AS g
           |    FROM documents WHERE doc_id % 10 = 0) GROUP BY 1),
           |stats AS (SELECT SUM(c) AS total, COUNT(*) AS v FROM model),
           |grams AS (
           |  SELECT doc_id, UNNEST(CASE WHEN LENGTH(text) < 3 THEN [text]
           |    ELSE [text[i:i+2] FOR i IN RANGE(1, LENGTH(text) - 1)]
           |    END) AS g
           |  FROM documents WHERE doc_id % 10 <> 0),
           |scored AS (
           |  SELECT doc_id AS id,
           |    ROUND(CAST(SUM(CAST(-LN(CAST(COALESCE(m.c, 0) + 1 AS DOUBLE)
           |        / (total + v + 1)) AS DECIMAL(30,9))) AS DOUBLE)
           |      / COUNT(*), 2) AS nll
           |  FROM grams LEFT JOIN model m USING (g) CROSS JOIN stats
           |  GROUP BY 1),
           |th AS (SELECT quantile_cont(nll, [$p1, $p2]) AS t FROM scored)
           |SELECT id, nll,
           |  CASE WHEN nll <= ROUND(t[1], 6) THEN 'head'
           |       WHEN nll <= ROUND(t[2], 6) THEN 'middle'
           |       ELSE 'tail' END AS bucket
           |FROM scored CROSS JOIN th ORDER BY id""".stripMargin
      }),

    // Train-once CCNet bucketing: cuts trained on the doc_id < 250
    // scored slice, STAMPED (round-to-6 lives in the model), and the
    // doc_id >= 250 batch classifies under the frozen cuts — labels stay
    // comparable across batches instead of shifting with each batch's
    // own percentiles (the vocab/quantizer/BM25 snapshot discipline).
    "d_ccnet_incr" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val lm = graft.operators.Curation.ngramLm(
          docs.filter(col("doc_id") % 10 === 0), "text", n = 3)
        def scored(f: Column) = graft.operators.Curation.surprisalScore(
          docs.filter((col("doc_id") % 10 =!= 0) && f), "doc_id", "text", lm)
        val cuts = graft.operators.Curation.scoreCutsModel(
          scored(col("doc_id") < 250), "nll", k = 3)
        graft.operators.Curation.scoreBucketsUnderCuts(
          scored(col("doc_id") >= 250), "nll",
          Seq("head", "middle", "tail"), cuts)
          .select("id", "nll", "bucket")
          .orderBy("id")
      },
      Some {
        val p1 = (1.0 / 3).toString
        val p2 = (2.0 / 3).toString
        s"""WITH model AS (
           |  SELECT g, COUNT(*) AS c FROM (
           |    SELECT UNNEST(CASE WHEN LENGTH(text) < 3 THEN [text]
           |      ELSE [text[i:i+2] FOR i IN RANGE(1, LENGTH(text) - 1)]
           |      END) AS g
           |    FROM documents WHERE doc_id % 10 = 0) GROUP BY 1),
           |stats AS (SELECT SUM(c) AS total, COUNT(*) AS v FROM model),
           |grams AS (
           |  SELECT doc_id, UNNEST(CASE WHEN LENGTH(text) < 3 THEN [text]
           |    ELSE [text[i:i+2] FOR i IN RANGE(1, LENGTH(text) - 1)]
           |    END) AS g
           |  FROM documents WHERE doc_id % 10 <> 0),
           |scored AS (
           |  SELECT doc_id AS id,
           |    ROUND(CAST(SUM(CAST(-LN(CAST(COALESCE(m.c, 0) + 1 AS DOUBLE)
           |        / (total + v + 1)) AS DECIMAL(30,9))) AS DOUBLE)
           |      / COUNT(*), 2) AS nll
           |  FROM grams LEFT JOIN model m USING (g) CROSS JOIN stats
           |  GROUP BY 1),
           |th AS (SELECT quantile_cont(nll, [$p1, $p2]) AS t
           |  FROM scored WHERE id < 250)
           |SELECT id, nll,
           |  CASE WHEN nll <= ROUND(t[1], 6) THEN 'head'
           |       WHEN nll <= ROUND(t[2], 6) THEN 'middle'
           |       ELSE 'tail' END AS bucket
           |FROM scored CROSS JOIN th WHERE id >= 250 ORDER BY id""".stripMargin
      }),

    // Drift signal for stamped cuts — bucket-share skew: the in-dist
    // batch holds near the 1/k reference shares; the e->3 shifted batch
    // floods the tail bucket and trips rebuild. Both regimes reach the
    // hash compare (the d_bm25_drift two-regime union).
    "d_ccnet_cuts_drift" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val lm = graft.operators.Curation.ngramLm(
          docs.filter(col("doc_id") % 10 === 0), "text", n = 3)
        def scored(src: org.apache.spark.sql.DataFrame) =
          graft.operators.Curation.surprisalScore(src, "doc_id", "text", lm)
        val rest = docs.filter(col("doc_id") % 10 =!= 0)
        val cuts = graft.operators.Curation.scoreCutsModel(
          scored(rest.filter(col("doc_id") < 250)), "nll", k = 3)
        val batch = rest.filter(col("doc_id") >= 250)
        def drift(src: org.apache.spark.sql.DataFrame, label: String) =
          graft.operators.Curation.scoreCutsDrift(scored(src), "nll", cuts,
              maxShareSkew = 0.2)
            .withColumn("batch", lit(label))
        drift(batch, "in_dist")
          .unionByName(drift(batch.select(col("doc_id"),
            translate(col("text"), "e", "3").as("text")), "shifted"))
          .select("batch", "bucket_pos", "n", "share", "skew", "max_skew",
            "rebuild")
          .orderBy("batch", "bucket_pos")
      },
      Some {
        val p1 = (1.0 / 3).toString
        val p2 = (2.0 / 3).toString
        def side(label: String, tx: String) =
          s"""SELECT '$label' AS batch, bucket_pos, n, share, skew,
             |  max_skew, max_skew > 0.2 AS rebuild FROM (
             |  WITH scored_b AS (
             |    SELECT doc_id AS id,
             |      ROUND(CAST(SUM(CAST(-LN(CAST(COALESCE(m.c, 0) + 1
             |          AS DOUBLE) / (total + v + 1)) AS DECIMAL(30,9)))
             |        AS DOUBLE) / COUNT(*), 2) AS nll
             |    FROM (
             |      SELECT doc_id, UNNEST(CASE WHEN LENGTH($tx) < 3
             |        THEN [$tx]
             |        ELSE [($tx)[i:i+2] FOR i IN RANGE(1, LENGTH($tx) - 1)]
             |        END) AS g
             |      FROM documents WHERE doc_id % 10 <> 0 AND doc_id >= 250)
             |    LEFT JOIN model m USING (g) CROSS JOIN stats
             |    GROUP BY 1),
             |  assigned AS (
             |    SELECT CASE WHEN nll > c2 THEN 3 WHEN nll > c1 THEN 2
             |      ELSE 1 END AS bucket_pos
             |    FROM scored_b CROSS JOIN cuts),
             |  counts AS (SELECT bucket_pos, COUNT(*) AS cn FROM assigned
             |    GROUP BY 1),
             |  tot AS (SELECT CAST(COALESCE(SUM(cn), 0) AS BIGINT) AS total
             |    FROM counts),
             |  per AS (
             |    SELECT s.bucket_pos,
             |      CAST(COALESCE(c.cn, 0) AS BIGINT) AS n,
             |      ROUND(CAST(COALESCE(c.cn, 0) AS DOUBLE) / total, 4)
             |        AS share,
             |      ROUND(ABS(CAST(COALESCE(c.cn, 0) AS DOUBLE) / total
             |        - 1.0 / 3), 4) AS skew
             |    FROM (SELECT UNNEST([1, 2, 3]) AS bucket_pos) s
             |    LEFT JOIN counts c USING (bucket_pos) CROSS JOIN tot)
             |  SELECT per.*, roll.max_skew
             |  FROM per CROSS JOIN (SELECT MAX(skew) AS max_skew FROM per)
             |    roll)""".stripMargin
        s"""WITH model AS (
           |  SELECT g, COUNT(*) AS c FROM (
           |    SELECT UNNEST(CASE WHEN LENGTH(text) < 3 THEN [text]
           |      ELSE [text[i:i+2] FOR i IN RANGE(1, LENGTH(text) - 1)]
           |      END) AS g
           |    FROM documents WHERE doc_id % 10 = 0) GROUP BY 1),
           |stats AS (SELECT SUM(c) AS total, COUNT(*) AS v FROM model),
           |scored_ref AS (
           |  SELECT doc_id AS id,
           |    ROUND(CAST(SUM(CAST(-LN(CAST(COALESCE(m.c, 0) + 1 AS DOUBLE)
           |        / (total + v + 1)) AS DECIMAL(30,9))) AS DOUBLE)
           |      / COUNT(*), 2) AS nll
           |  FROM (
           |    SELECT doc_id, UNNEST(CASE WHEN LENGTH(text) < 3 THEN [text]
           |      ELSE [text[i:i+2] FOR i IN RANGE(1, LENGTH(text) - 1)]
           |      END) AS g
           |    FROM documents WHERE doc_id % 10 <> 0 AND doc_id < 250)
           |  LEFT JOIN model m USING (g) CROSS JOIN stats
           |  GROUP BY 1),
           |th AS (SELECT quantile_cont(nll, [$p1, $p2]) AS t
           |  FROM scored_ref),
           |cuts AS (SELECT ROUND(t[1], 6) AS c1, ROUND(t[2], 6) AS c2
           |  FROM th)
           |SELECT * FROM (
           |${side("in_dist", "text")}
           |UNION ALL
           |${side("shifted", "REPLACE(text, 'e', '3')")})
           |ORDER BY batch, bucket_pos""".stripMargin
      }),

    // Corpus report card: every CUBE cell over (lang, source) with doc
    // count, exact token total, distinct-content count and the exact-dup
    // rate — the one-pass per-snapshot summary a pipeline run emits.
    "d_corpus_report" -> QueryDef(
      (s, d) => graft.operators.Curation.corpusReport(
        t(s, d, "documents"), "text", Seq("lang", "source"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first),
      Some("""SELECT lang, source,
             |  GROUPING(lang) = 1 AS lang_agg,
             |  GROUPING(source) = 1 AS source_agg,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
             |  COUNT(DISTINCT MD5(text)) AS n_distinct,
             |  ROUND(1 - CAST(COUNT(DISTINCT MD5(text)) AS DOUBLE)
             |    / COUNT(*), 4) AS dup_rate
             |FROM documents
             |GROUP BY CUBE (lang, source)
             |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin)),

    // Incremental corpus report (rows-only BY DESIGN: n_distinct is a
    // DataSketches HLL estimate no ANSI engine reproduces bit-for-bit;
    // the fold-equals-one-shot law and the estimate tolerance are
    // suite-gated instead). Two batch states union and merge into the
    // full CUBE report — the corpus-to-date report card from
    // O(#cells · KB) state, no batch re-read.
    "d_corpus_report_incr" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val state = graft.operators.Curation.corpusReportBatch(
            docs.filter(col("doc_id") < 250), "text", Seq("lang", "source"))
          .unionByName(graft.operators.Curation.corpusReportBatch(
            docs.filter(col("doc_id") >= 250), "text", Seq("lang", "source")))
        graft.operators.Curation.mergeCorpusReport(state, Seq("lang", "source"))
          .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)
      },
      None),

    // The SAME incremental report under the portable KMV distinct
    // sketch (ORACLE — closes the family's last rows-only row): k
    // smallest distinct poly-31 hashes of the content md5 per leaf
    // cell; merge = k smallest of the union (exactly the whole-corpus
    // sketch — the fold law), estimate = (k−1)·mod div h_k, every step
    // integer arithmetic DuckDB replays bit-for-bit. k=64 here so the
    // sf0.01 corpus exercises BOTH estimator branches (big cells pass
    // k and estimate; small cells stay exact); production default is
    // k=1024 with DataSketches HLL as the denser production sketch.
    "d_corpus_report_incr_poly" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val state = graft.operators.Curation.corpusReportBatchKmv(
            docs.filter(col("doc_id") < 250), "text",
            Seq("lang", "source"), k = 64)
          .unionByName(graft.operators.Curation.corpusReportBatchKmv(
            docs.filter(col("doc_id") >= 250), "text",
            Seq("lang", "source"), k = 64))
        graft.operators.Curation.mergeCorpusReportKmv(state,
            Seq("lang", "source"), k = 64)
          .orderBy(col("lang").asc_nulls_first,
            col("source").asc_nulls_first, col("lang_agg"),
            col("source_agg"))
      },
      Some("""WITH hashed AS (
             |  SELECT lang, source,
             |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS tok,
             |    LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |      [CAST(ascii(c) AS BIGINT)
             |       FOR c IN STRING_SPLIT(MD5(text), '')]),
             |      (h, cp) -> (h * 31 + cp) % 2147483647) + 1 AS h
             |  FROM documents),
             |counts AS (
             |  SELECT lang, source,
             |    GROUPING(lang) = 1 AS lang_agg,
             |    GROUPING(source) = 1 AS source_agg,
             |    COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens
             |  FROM hashed GROUP BY CUBE (lang, source)),
             |cells AS (
             |  SELECT lang, source,
             |    GROUPING(lang) = 1 AS lang_agg,
             |    GROUPING(source) = 1 AS source_agg, h
             |  FROM hashed GROUP BY CUBE (lang, source), h),
             |topk AS (
             |  SELECT * FROM cells
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY lang_agg,
             |    source_agg, lang, source ORDER BY h) <= 64),
             |est AS (
             |  SELECT lang_agg, source_agg, lang, source,
             |    CASE WHEN COUNT(*) < 64 THEN COUNT(*)
             |      ELSE (CAST(63 AS BIGINT) * 2147483647) // MAX(h)
             |    END AS n_distinct
             |  FROM topk GROUP BY 1, 2, 3, 4)
             |SELECT c.lang, c.source, c.lang_agg, c.source_agg,
             |  c.n_docs, c.n_tokens, e.n_distinct,
             |  ROUND(GREATEST(0, 1 - CAST(e.n_distinct AS DOUBLE)
             |    / c.n_docs), 4) AS dup_rate
             |FROM counts c JOIN est e
             |  ON c.lang_agg = e.lang_agg AND c.source_agg = e.source_agg
             |  AND c.lang IS NOT DISTINCT FROM e.lang
             |  AND c.source IS NOT DISTINCT FROM e.source
             |ORDER BY c.lang NULLS FIRST, c.source NULLS FIRST,
             |  c.lang_agg, c.source_agg""".stripMargin)),

    // Cross-batch incremental line dedup: docs < 250 are the persisted
    // line-df history ([[lineIndex]] — 32-byte rows, text never
    // re-read); docs >= 250 arrive as the batch. History-owned lines
    // (header/footer/group bodies — first seen in the history half)
    // excise from EVERY batch copy; the batch-only "late group" line
    // exercises in-batch first-seen ownership; unique lines pass.
    "d_line_dedup_incr" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"))
          .withColumn("text", concat_ws("\n",
            lit("HEADER cookie notice"),
            concat(lit("body of group "), col("doc_id") % 50),
            concat(lit("unique line "), col("doc_id")),
            when(col("doc_id") >= 250,
              concat(lit("late group "), col("doc_id") % 7)),
            when(col("doc_id") % 2 === 0, lit("FOOTER terms apply"))))
        val hist = graft.operators.Curation.lineIndex(
          docs.filter(col("doc_id") < 250), "doc_id", "text")
        graft.operators.Curation.dedupLinesAgainstHistory(
          docs.filter(col("doc_id") >= 250), hist, "doc_id", "text",
          minDf = 2)
          .select("doc_id", "clean_text", "n_lines_removed")
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    'HEADER cookie notice' || CHR(10) ||
             |    'body of group ' || (doc_id % 50) || CHR(10) ||
             |    'unique line ' || doc_id ||
             |    CASE WHEN doc_id >= 250
             |      THEN CHR(10) || 'late group ' || (doc_id % 7)
             |      ELSE '' END ||
             |    CASE WHEN doc_id % 2 = 0
             |      THEN CHR(10) || 'FOOTER terms apply' ELSE '' END AS text
             |  FROM documents),
             |lines AS (
             |  SELECT doc_id, UNNEST(
             |    [{'pos': i, 'line': l[i]} FOR i IN RANGE(1, LEN(l)+1)],
             |    recursive := true)
             |  FROM (SELECT doc_id, STRING_SPLIT(text, CHR(10)) AS l
             |        FROM planted)),
             |hist AS (SELECT line, COUNT(*) AS hdf,
             |    MIN(struct_pack(doc_id := doc_id, pos := pos)) AS hown
             |  FROM lines WHERE doc_id < 250 GROUP BY line),
             |bidx AS (SELECT line, COUNT(*) AS bdf,
             |    MIN(struct_pack(doc_id := doc_id, pos := pos)) AS bown
             |  FROM lines WHERE doc_id >= 250 GROUP BY line),
             |merged AS (SELECT b.line,
             |    COALESCE(h.hown, b.bown) AS own,
             |    b.bdf + COALESCE(h.hdf, 0) AS df
             |  FROM bidx b LEFT JOIN hist h USING (line)),
             |kept AS (SELECT l.doc_id,
             |    ARRAY_TO_STRING(LIST(l.line ORDER BY l.pos), CHR(10))
             |      AS clean_text,
             |    COUNT(*) AS n_kept
             |  FROM lines l JOIN merged m USING (line)
             |  WHERE l.doc_id >= 250 AND (m.df < 2 OR
             |    (m.own.doc_id = l.doc_id AND m.own.pos = l.pos))
             |  GROUP BY l.doc_id)
             |SELECT p.doc_id,
             |  COALESCE(k.clean_text, '') AS clean_text,
             |  CAST(LEN(STRING_SPLIT(p.text, CHR(10))) - COALESCE(k.n_kept, 0)
             |    AS BIGINT) AS n_lines_removed
             |FROM planted p LEFT JOIN kept k USING (doc_id)
             |WHERE p.doc_id >= 250
             |ORDER BY doc_id""".stripMargin)),

    // Keep-first line dedup (Dolma dedupe_paragraphs): same planted
    // corpus as d_line_dedup, but duplicated lines keep their canonical
    // min-(doc_id,pos) occurrence instead of vanishing everywhere —
    // doc 0 (first by id) retains the header/footer/group lines that
    // every later doc loses. Both rules reach the hash compare.
    "d_line_dedup_first" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"))
          .withColumn("text", concat_ws("\n",
            lit("HEADER cookie notice"),
            concat(lit("body of group "), col("doc_id") % 50),
            concat(lit("unique line "), col("doc_id")),
            when(col("doc_id") % 2 === 0, lit("FOOTER terms apply"))))
        graft.operators.Curation.dedupLines(docs, "doc_id", "text", minDf = 2)
          .select("doc_id", "clean_text", "n_lines_removed")
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    'HEADER cookie notice' || CHR(10) ||
             |    'body of group ' || (doc_id % 50) || CHR(10) ||
             |    'unique line ' || doc_id ||
             |    CASE WHEN doc_id % 2 = 0
             |      THEN CHR(10) || 'FOOTER terms apply' ELSE '' END AS text
             |  FROM documents),
             |lines AS (
             |  SELECT doc_id, UNNEST(
             |    [{'pos': i, 'line': l[i]} FOR i IN RANGE(1, LEN(l)+1)],
             |    recursive := true)
             |  FROM (SELECT doc_id, STRING_SPLIT(text, CHR(10)) AS l
             |        FROM planted)),
             |owners AS (SELECT line, COUNT(*) AS df,
             |    MIN(struct_pack(doc_id := doc_id, pos := pos)) AS own
             |  FROM lines GROUP BY line),
             |kept AS (SELECT l.doc_id,
             |    ARRAY_TO_STRING(LIST(l.line ORDER BY l.pos), CHR(10))
             |      AS clean_text,
             |    COUNT(*) AS n_kept
             |  FROM lines l JOIN owners o USING (line)
             |  WHERE o.df < 2 OR (o.own.doc_id = l.doc_id AND o.own.pos = l.pos)
             |  GROUP BY l.doc_id)
             |SELECT p.doc_id,
             |  COALESCE(k.clean_text, '') AS clean_text,
             |  CAST(LEN(STRING_SPLIT(p.text, CHR(10))) - COALESCE(k.n_kept, 0)
             |    AS BIGINT) AS n_lines_removed
             |FROM planted p LEFT JOIN kept k USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // URL canonicalization + domain blocklist (the C4/RefinedWeb crawl
    // dedup step). The corpus carries no URLs, so the query PLANTS
    // deterministic variants from doc_id on BOTH sides (the d_pii_redact
    // discipline): four decorations of one base page — case-shuffled
    // scheme/host, a www. prefix, reordered query params, a fragment —
    // must collapse to ONE canonical form; dedup keeps the min doc_id
    // per canonical; domains ex0.com flag blocked. Map-only except the
    // per-canonical keep window.
    "d_url_canonical" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"))
        val b = col("doc_id") % 50
        val v = col("doc_id") % 4
        val site = concat(lit("site"), b, lit(".ex"), b % 10, lit(".com"))
        val pathQ = concat(lit("/Page/"), b)
        val url = when(v === 0,
            concat(lit("https://"), site, pathQ, lit("?a=1&b=2")))
          .when(v === 1,
            concat(lit("HTTPS://WWW."), upper(site), pathQ, lit("?a=1&b=2")))
          .when(v === 2,
            concat(lit("https://"), site, pathQ, lit("?b=2&a=1")))
          .otherwise(
            concat(lit("https://"), site, pathQ, lit("?a=1&b=2#sec")))
        val canon = graft.operators.Curation.canonicalizeUrl(col("url"))
        val w = Window.partitionBy("canon").orderBy("doc_id")
        docs.withColumn("url", url)
          .withColumn("canon", canon)
          .withColumn("domain", graft.operators.Curation.urlDomain(col("url")))
          .withColumn("blocked", col("domain") === "ex0.com")
          .withColumn("keep", row_number().over(w) === 1 && !col("blocked"))
          .select("doc_id", "url", "canon", "domain", "blocked", "keep")
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    'site' || (doc_id % 50) || '.ex' || (doc_id % 50 % 10)
             |      || '.com' AS site,
             |    '/Page/' || (doc_id % 50) AS pathq,
             |    doc_id % 4 AS v
             |  FROM documents),
             |urls AS (
             |  SELECT doc_id,
             |    CASE v
             |      WHEN 0 THEN 'https://' || site || pathq || '?a=1&b=2'
             |      WHEN 1 THEN 'HTTPS://WWW.' || UPPER(site) || pathq
             |        || '?a=1&b=2'
             |      WHEN 2 THEN 'https://' || site || pathq || '?b=2&a=1'
             |      ELSE 'https://' || site || pathq || '?a=1&b=2#sec'
             |    END AS url
             |  FROM planted),
             |parts AS (
             |  SELECT doc_id, url,
             |    LOWER(REGEXP_EXTRACT(url, '^[A-Za-z]+', 0)) AS scheme,
             |    REGEXP_REPLACE(LOWER(
             |      REGEXP_EXTRACT(url, '^[A-Za-z]+://([^/?#]+)', 1)),
             |      '^www[.]', '') AS host,
             |    REGEXP_EXTRACT(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS p,
             |    REGEXP_EXTRACT(url, '[?]([^#]*)', 1) AS qs
             |  FROM urls),
             |canoned AS (
             |  SELECT doc_id, url,
             |    scheme || '://' || host ||
             |      (CASE WHEN p = '' THEN '/' ELSE p END) ||
             |      (CASE WHEN qs = '' THEN '' ELSE '?' ||
             |        ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT(qs, '&')), '&')
             |       END) AS canon,
             |    host,
             |    CASE WHEN LEN(STRING_SPLIT(host, '.')) <= 2 THEN host
             |         ELSE ARRAY_TO_STRING(STRING_SPLIT(host, '.')[-2:], '.')
             |    END AS domain
             |  FROM parts)
             |SELECT doc_id, url, canon, domain,
             |  domain = 'ex0.com' AS blocked,
             |  (ROW_NUMBER() OVER (PARTITION BY canon ORDER BY doc_id) = 1
             |    AND NOT domain = 'ex0.com') AS keep
             |FROM canoned ORDER BY doc_id""".stripMargin)),

    // Deterministic train/val/test split assignment: 10000-band MINSTD
    // draw, named splits own contiguous integer bands — assignment is a
    // pure function of (doc_id, seed), so every row's split reaches the
    // hash compare and a band-boundary defect cannot pass. Map-only.
    "d_split_assign" -> QueryDef(
      (s, d) => graft.operators.Mixing.splitAssign(
        t(s, d, "documents"), "doc_id",
        Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
        .select("doc_id", "source", "split")
        .orderBy("doc_id"),
      Some {
        val h = graft.operators.Mixing.minstdSql("doc_id", 97L)
        s"""SELECT doc_id, source,
           |  CASE WHEN ($h - 1) % 10000 < 9000 THEN 'train'
           |       WHEN ($h - 1) % 10000 < 9500 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // Train/test split-leakage audit — the composition the split exists
    // for: after a deterministic hash split, which TRAIN docs still
    // share >= 32 distinct 12-grams with a TEST doc (near-dupe leakage a
    // random split cannot prevent, only dedup can)? splitAssign feeds
    // the contamination operator with the test side as the persisted
    // gram index: the index broadcasts, the train side never shuffles
    // (hash probe + candidate-bounded string verify).
    "d_split_leakage" -> QueryDef(
      (s, d) => {
        // spread ONLY the train (corpus) side — the d_contamination
        // pattern: the heavy gram map passes parallelize past the
        // testdata's single row group while the test-side index builds
        // stay independent 1-task scans feeding broadcasts
        val split = (df: org.apache.spark.sql.DataFrame) =>
          graft.operators.Mixing.splitAssign(df, "doc_id",
            Seq(("train", 0.95), ("test", 0.05)))
        val idx = Dedup.benchmarkGramIndex(
          split(t(s, d, "documents"))
            .filter(col("split") === "test")
            .select(col("doc_id"), col("text")),
          "doc_id", "text", n = 12)
        Dedup.contaminationAgainstIndex(
          split(tSpread(s, d, "documents"))
            .filter(col("split") === "train"), "doc_id", "text", idx,
          n = 12, minShared = 32)
          .withColumnRenamed("corpus_id", "train_id")
          .withColumnRenamed("bench_id", "test_id")
          .orderBy("train_id", "test_id")
      },
      Some {
        val h = graft.operators.Mixing.minstdSql("doc_id", 97L)
        s"""WITH sp AS (SELECT doc_id, text,
           |  CASE WHEN ($h - 1) % 10000 < 9500 THEN 'train'
           |       ELSE 'test' END AS split
           |  FROM documents),
           |grams AS (SELECT doc_id, split, UNNEST(LIST_DISTINCT(
           |    CASE WHEN LENGTH(text) < 12 THEN [text]
           |         ELSE [text[i:i+11] FOR i IN RANGE(1, LENGTH(text) - 10)]
           |    END)) AS g
           |  FROM sp)
           |SELECT c.doc_id AS train_id, b.doc_id AS test_id,
           |  COUNT(*) AS shared_grams
           |FROM grams c JOIN grams b ON c.g = b.g
           |WHERE c.split = 'train' AND b.split = 'test'
           |GROUP BY 1, 2 HAVING COUNT(*) >= 32
           |ORDER BY train_id, test_id""".stripMargin
      }),

    // Exactly-k uniform deterministic sample: the k smallest rows under
    // the MINSTD hash order. Plans as TakeOrderedAndProject (map-side
    // partial top-k, no global sort — PlanSuite-pinned); the oracle
    // replays the identical hash order and cut.
    "d_sample_exact_n" -> QueryDef(
      (s, d) => graft.operators.Mixing.sampleExactN(
        t(s, d, "documents"), "doc_id", k = 100)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id"),
      Some {
        val h = graft.operators.Mixing.minstdSql("doc_id", 53L)
        s"""SELECT doc_id, source, lang FROM (
           |  SELECT doc_id, source, lang FROM documents
           |  ORDER BY $h, doc_id LIMIT 100)
           |ORDER BY doc_id""".stripMargin
      }),

    // Mix-steering incremental sampler: two skewed-target batches with the
    // realized counts of batch 1 steering batch 2's acceptance — the full
    // cross-batch evolution (deficit arithmetic, history coupling, MINSTD
    // draw) replayed exactly by the oracle.
    "d_mix_steered" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val targets = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.15,
          "src3" -> 0.1, "src4" -> 0.05)
        val b1 = docs.filter(col("doc_id") < 250)
        val b2 = docs.filter(col("doc_id") >= 250)
        val noHistory = graft.operators.Mixing.acceptedCounts(
          docs.limit(0).select(col("doc_id"), col("source")), "source")
        val acc1 = graft.operators.Mixing.steeredSample(
          b1, "doc_id", "source", targets, noHistory, acceptFrac = 0.2)
        val acc2 = graft.operators.Mixing.steeredSample(
          b2, "doc_id", "source", targets,
          graft.operators.Mixing.acceptedCounts(acc1, "source"),
          acceptFrac = 0.2)
        acc1.withColumn("batch", lit(1))
          .unionByName(acc2.withColumn("batch", lit(2)))
          .orderBy("doc_id")
      },
      Some {
        def h(e: String) = graft.operators.Mixing.minstdSql(e, 41L)
        s"""WITH b1 AS (SELECT doc_id, source FROM documents WHERE doc_id < 250),
           |b2 AS (SELECT doc_id, source FROM documents WHERE doc_id >= 250),
           |t(source, t6) AS (VALUES ('src0', 400000), ('src1', 300000),
           |  ('src2', 150000), ('src3', 100000), ('src4', 50000)),
           |c1 AS (SELECT source, COUNT(*) AS b_d FROM b1 GROUP BY source),
           |a1 AS (SELECT CAST(FLOOR(SUM(b_d) * 0.2) AS BIGINT) AS a_total FROM c1),
           |d1 AS (SELECT c1.source, c1.b_d, GREATEST(0, LEAST(c1.b_d,
           |    COALESCE(t.t6, 0) * a1.a_total // 1000000 - 0)) AS a_d
           |  FROM c1 LEFT JOIN t ON c1.source = t.source CROSS JOIN a1),
           |acc1 AS (SELECT b1.doc_id, b1.source FROM b1 JOIN d1 ON b1.source = d1.source
           |  WHERE ((${h("b1.doc_id")} - 1) % 1000000) * d1.b_d < d1.a_d * 1000000),
           |h AS (SELECT source, COUNT(*) AS have FROM acc1 GROUP BY source),
           |ht AS (SELECT COALESCE(SUM(have), 0) AS have_total FROM h),
           |c2 AS (SELECT source, COUNT(*) AS b_d FROM b2 GROUP BY source),
           |a2 AS (SELECT CAST(FLOOR(SUM(b_d) * 0.2) AS BIGINT) AS a_total FROM c2),
           |d2 AS (SELECT c2.source, c2.b_d, GREATEST(0, LEAST(c2.b_d,
           |    COALESCE(t.t6, 0) * (a2.a_total + ht.have_total) // 1000000
           |      - COALESCE(h.have, 0))) AS a_d
           |  FROM c2 LEFT JOIN t ON c2.source = t.source
           |  LEFT JOIN h ON c2.source = h.source CROSS JOIN a2 CROSS JOIN ht),
           |acc2 AS (SELECT b2.doc_id, b2.source FROM b2 JOIN d2 ON b2.source = d2.source
           |  WHERE ((${h("b2.doc_id")} - 1) % 1000000) * d2.b_d < d2.a_d * 1000000)
           |SELECT doc_id, source, 1 AS batch FROM acc1
           |UNION ALL SELECT doc_id, source, 2 AS batch FROM acc2
           |ORDER BY doc_id""".stripMargin
      }),

    // ----- hybrid retrieval: one-scan multi-query BM25 + ANN, RRF-fused ---
    // Five queries retrieve lexically (bm25Multi — ONE corpus scan for
    // all queries) and semantically (brute-force cosine over the planted
    // vectors, query = docs 0-4), fused by reciprocal-rank fusion.
    // Deterministic end to end: bm25 scores decimal-summed + rounded,
    // cosines exact-integer products, rank ties break on id, and the
    // fused score is a FIXED-ORDER sum of two correctly-rounded
    // divisions — both engines produce the identical double.
    "d_hybrid_retrieval" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val qs = Map(0 -> Seq("join", "spark"), 1 -> Seq("stream", "window"),
          2 -> Seq("filter", "sort"), 3 -> Seq("merge", "table"),
          4 -> Seq("hash", "scan"))
        val lex = graft.operators.Relevance.bm25Multi(docs, "doc_id", "text", qs)
          .select(col("query_id"), col("id"), col("bm25").as("score"))
        val planted = plantedVecs(s, d)
        val sem = Similarity.bruteForceTopK(
          planted.filter(col("doc_id") < 5), planted, "doc_id", "v", k = 100)
          .select(col("query_id"), col("neighbor_id").as("id"),
            col("cosine").as("score"))
        graft.operators.Relevance.rrfFuse(lex, sem, rrfK = 60,
          innerTop = 100, k = 10)
          .orderBy("query_id", "rrf_rank")
      },
      Some(s"""WITH v AS (
             |  $plantedVecsSql),
             |q(query_id, term) AS (VALUES (0,'join'),(0,'spark'),(1,'stream'),(1,'window'),
             |  (2,'filter'),(2,'sort'),(3,'merge'),(3,'table'),(4,'hash'),(4,'scan')),
             |base AS (SELECT doc_id, STRING_SPLIT(text,' ') AS ws,
             |  LEN(STRING_SPLIT(text,' ')) AS dl FROM documents),
             |stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM base),
             |hits AS (SELECT doc_id, dl, UNNEST(ws) AS term FROM base),
             |tf AS (SELECT h.doc_id, h.term, COUNT(*) AS tf, MAX(h.dl) AS dl
             |  FROM hits h JOIN (SELECT DISTINCT term FROM q) t USING (term) GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |part AS (SELECT q.query_id, tf.doc_id,
             |    LN(1 + ((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)))
             |      * ((tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * (dl / avgdl)))) AS p
             |  FROM tf JOIN df USING (term) JOIN q USING (term) CROSS JOIN stats),
             |lex AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id AS id,
             |    ROUND(CAST(SUM(CAST(p AS DECIMAL(30,9))) AS DOUBLE), 4) AS score
             |  FROM part GROUP BY 1, 2),
             |lexr AS (SELECT query_id, id, ROW_NUMBER() OVER (
             |    PARTITION BY query_id ORDER BY score DESC, id) AS r_a FROM lex
             |  QUALIFY r_a <= 100),
             |sem AS (SELECT a.doc_id AS query_id, b.doc_id AS id,
             |    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.emb, b.emb), x -> x[1] * x[2])) /
             |      (SQRT(LIST_SUM(LIST_TRANSFORM(a.emb, x -> x * x))) *
             |       SQRT(LIST_SUM(LIST_TRANSFORM(b.emb, x -> x * x)))) AS score
             |  FROM v a JOIN v b ON a.doc_id < 5 AND b.doc_id <> a.doc_id),
             |semr AS (SELECT query_id, id, ROW_NUMBER() OVER (
             |    PARTITION BY query_id ORDER BY score DESC, id) AS r_b FROM sem
             |  QUALIFY r_b <= 100),
             |f AS (SELECT COALESCE(la.query_id, sb.query_id) AS query_id,
             |    COALESCE(la.id, sb.id) AS id,
             |    COALESCE(1.0/(60 + la.r_a), 0) + COALESCE(1.0/(60 + sb.r_b), 0) AS rrf
             |  FROM lexr la FULL OUTER JOIN semr sb
             |    ON la.query_id = sb.query_id AND la.id = sb.id)
             |SELECT query_id, CAST(ROW_NUMBER() OVER (
             |    PARTITION BY query_id ORDER BY rrf DESC, id) AS INT) AS rrf_rank,
             |  id, ROUND(rrf, 6) AS rrf_score
             |FROM f QUALIFY rrf_rank <= 10
             |ORDER BY query_id, rrf_rank""".stripMargin)),

    // ----- edit-distance similarity join (Ed-Join prefix filter) ----------
    // Keys are 32-char document prefixes with a PLANTED deterministic
    // single-char mutation on doc_id % 5 == 3 rows (both engines build
    // the identical key), so the result exercises ed 0, 1, and 2 — the
    // corpus's own near-dups are exact-prefix copies. The oracle is the
    // brute-force quadratic join; the engine must reach the same exact
    // pair set through the prefix filter.
    "d_fuzzy_join" -> QueryDef(
      (s, d) => {
        // plain [[t]], NOT tSpread: the repartition strips the scan's size
        // stats, flipping this query's small-side broadcast to sort-merge
        // (measured 4.6 -> 9.8 s) — the levenshtein stage is already spread
        // by the gram-explode exchange.
        val keyed = t(s, d, "documents")
          .withColumn("k0", substring(col("text"), 1, 32))
          .withColumn("k", when(col("doc_id") % 5 === 3,
            concat(expr("substring(k0, 1, doc_id % 20)"), lit("q"),
              expr("substring(k0, doc_id % 20 + 2, 32)")))
            .otherwise(col("k0")))
        graft.operators.FuzzyJoin.editDistanceJoin(
          keyed.select("doc_id", "k"), "doc_id", "k", maxDist = 2, q = 3)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH s0 AS (SELECT doc_id, SUBSTR(text, 1, 32) AS k0 FROM documents),
             |s AS (SELECT doc_id, CASE WHEN doc_id % 5 = 3 THEN
             |    SUBSTR(k0, 1, doc_id % 20) || 'q' || SUBSTR(k0, doc_id % 20 + 2)
             |  ELSE k0 END AS k FROM s0)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(levenshtein(a.k, b.k) AS INT) AS ed
             |FROM s a JOIN s b ON a.doc_id < b.doc_id
             |WHERE levenshtein(a.k, b.k) <= 2
             |ORDER BY id_a, id_b""".stripMargin)),

    // ----- gram-order-model drift (fuzzy-family staleness signal) -------
    // Third of the staleness trio (quantizer, vocab, gram order). A
    // stale order model stays EXACT (unseen grams rank rarest, prefixes
    // only grow) but stops being selective — the symptom is the share
    // of batch grams the model never saw. In-dist keys under their own
    // slice's model pass; 'a'→'4' mutated keys trip the rebuild flag.
    "d_gram_order_drift" -> QueryDef(
      (s, d) => {
        val s0 = t(s, d, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 32).as("k"))
        val order = graft.operators.FuzzyJoin.gramOrderModel(
          s0.filter(col("doc_id") % 10 === 0), "k", q = 3)
        val shifted = s0.select(col("doc_id"),
          translate(col("k"), "a", "4").as("k"))
        graft.operators.FuzzyJoin.gramOrderDrift(s0, "doc_id", "k", order,
            q = 3, maxUnseenFrac = 0.2)
          .withColumn("batch", lit("in_dist"))
          .unionByName(graft.operators.FuzzyJoin.gramOrderDrift(shifted,
              "doc_id", "k", order, q = 3, maxUnseenFrac = 0.2)
            .withColumn("batch", lit("shifted")))
          .select("batch", "n_keys", "n_grams", "n_unseen", "unseen_frac",
            "rebuild")
          .orderBy("batch")
      },
      Some {
        def driftSql(src: String, label: String) =
          s"""SELECT '$label' AS batch, n_keys, n_grams, n_unseen,
             |  unseen_frac, unseen_frac > 0.2 AS rebuild FROM (
             |  SELECT COUNT(DISTINCT t.doc_id) AS n_keys, COUNT(*) AS n_grams,
             |    COUNT(*) FILTER (m.g IS NULL) AS n_unseen,
             |    ROUND(CAST(COUNT(*) FILTER (m.g IS NULL) AS DOUBLE)
             |      / GREATEST(COUNT(*), 1), 4) AS unseen_frac
             |  FROM (SELECT doc_id, UNNEST(LIST_DISTINCT(
             |      [SUBSTR(k, i, 3) FOR i IN RANGE(1, LEN(k) - 1)])) AS g
             |    FROM $src WHERE LEN(k) >= 3) t
             |  LEFT JOIN model m USING (g))""".stripMargin
        s"""WITH s0 AS (SELECT doc_id, SUBSTR(text, 1, 32) AS k FROM documents),
           |model AS (SELECT DISTINCT UNNEST(LIST_DISTINCT(
           |    [SUBSTR(k, i, 3) FOR i IN RANGE(1, LEN(k) - 1)])) AS g
           |  FROM s0 WHERE doc_id % 10 = 0 AND LEN(k) >= 3),
           |shifted AS (SELECT doc_id, REPLACE(k, 'a', '4') AS k FROM s0)
           |SELECT * FROM (
           |  ${driftSql("s0", "in_dist")}
           |  UNION ALL
           |  ${driftSql("shifted", "shifted")})
           |ORDER BY batch""".stripMargin
      }),

    // ----- ordered string aggregation (listagg) ---------------------------
    // Deterministic by construction: collect_set → array_sort → join —
    // the concatenation order is data-defined, never partition-defined.
    "q_listagg" -> QueryDef(
      (s, d) => t(s, d, "region")
        .join(t(s, d, "nation"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(concat_ws(",", array_sort(collect_set(col("n_name")))).as("nations"),
          count(lit(1)).as("n"))
        .orderBy("r_name"),
      Some("""SELECT r.r_name, STRING_AGG(n.n_name, ',' ORDER BY n.n_name) AS nations,
             |  COUNT(*) AS n
             |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
             |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin)),

    // ----- bitwise aggregates ---------------------------------------------
    // AND/OR/XOR fold over group members — order-independent, so exact
    // across engines with no decimal scaffolding.
    "q_bitagg" -> QueryDef(
      (s, d) => t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(expr("bit_and(o_orderkey)").as("and_key"),
          expr("bit_or(o_orderkey)").as("or_key"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, BIT_AND(o_orderkey) AS and_key,
             |  BIT_OR(o_orderkey) AS or_key, BIT_XOR(o_orderkey) AS xor_key,
             |  COUNT(*) AS n
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ===== SFT / chat-data family (operators/Sft.scala) ===================
    // The post-training half of the pipeline. Conversations derive
    // deterministically from documents (conv = doc_id div 4, alternating
    // user/assistant roles) so both engines construct the same corpus.

    // ----- chat-template rendering ----------------------------------------
    // Turns serialize under a ChatML-style template in turn order — the
    // string the tokenizer consumes. One partial-agg'd exchange; the
    // sort is within each collected conversation, never the corpus.
    "d_chat_render" -> QueryDef(
      (s, d) => graft.operators.Sft.renderChatML(
          sftTurns(t(s, d, "documents")), "conv_id", "turn_idx", "role",
          "content")
        .orderBy("conv_id"),
      Some(s"""WITH $SftTurnsSql
             |SELECT conv_id,
             |  STRING_AGG('<|' || role || '|>' || content || '<|end|>', ''
             |    ORDER BY turn_idx) AS rendered,
             |  CAST(COUNT(*) AS BIGINT) AS n_turns,
             |  CAST(COUNT(*) FILTER (role = 'assistant') AS BIGINT)
             |    AS n_assistant
             |FROM turns GROUP BY conv_id ORDER BY conv_id""".stripMargin)),

    // ----- loss-mask spans ------------------------------------------------
    // Per-turn token spans in conversation-local coordinates — the loss
    // mask in run-length form (trainable marks assistant turns). The
    // prefix sum windows by conversation: thousands of bounded window
    // groups, never a corpus-wide ordering.
    "d_loss_mask" -> QueryDef(
      (s, d) => graft.operators.Sft.turnSpansByCount(
          sftTurns(t(s, d, "documents")).withColumn("n",
            size(split(col("content"), " ")).cast("long")),
          "conv_id", "turn_idx", "role", "n")
        .orderBy("conv_id", "turn_idx"),
      Some(s"""WITH $SftTurnsSql,
             |n AS (SELECT conv_id, turn_idx, role,
             |    CAST(LEN(STRING_SPLIT(content, ' ')) AS BIGINT) AS nt
             |  FROM turns)
             |SELECT conv_id, turn_idx, role,
             |  CAST(SUM(nt) OVER w - nt AS BIGINT) AS tok_start,
             |  CAST(SUM(nt) OVER w AS BIGINT) AS tok_end,
             |  role = 'assistant' AS trainable
             |FROM n WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
             |ORDER BY conv_id, turn_idx""".stripMargin)),

    // ----- loss-mask-preserving sequence packing --------------------------
    // Conversations concatenate into fixed-budget packs with the
    // turn-level mask carried through as intersected segments — what a
    // trainer actually loads. Packing is the two-pass distributed
    // prefix sum (packAssignmentsByCount); the oracle replays it with a
    // plain ordered window at test scale, then intersects intervals.
    "d_sft_pack" -> QueryDef(
      (s, d) => {
        val spans = graft.operators.Sft.turnSpansByCount(
          sftTurns(t(s, d, "documents")).withColumn("n",
            size(split(col("content"), " ")).cast("long")),
          "conv_id", "turn_idx", "role", "n")
        graft.operators.Sft.maskedPackSegments(spans, budget = 256)
          .orderBy("pack_id", "conv_id", "turn_idx")
      },
      Some(s"""WITH $SftTurnsSql,
             |n AS (SELECT conv_id, turn_idx, role,
             |    CAST(LEN(STRING_SPLIT(content, ' ')) AS BIGINT) AS nt
             |  FROM turns),
             |spans AS (
             |  SELECT conv_id, turn_idx, role,
             |    CAST(SUM(nt) OVER w - nt AS BIGINT) AS tok_start,
             |    CAST(SUM(nt) OVER w AS BIGINT) AS tok_end,
             |    role = 'assistant' AS trainable
             |  FROM n WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
             |tot AS (SELECT conv_id, MAX(tok_end) AS n_tok
             |  FROM spans GROUP BY conv_id),
             |g AS (SELECT conv_id, n_tok,
             |    CAST(SUM(n_tok) OVER (ORDER BY conv_id) - n_tok AS BIGINT)
             |      AS gstart
             |  FROM tot),
             |packs AS (
             |  SELECT conv_id, gstart,
             |    UNNEST(RANGE(gstart // 256, (gstart + n_tok - 1) // 256 + 1))
             |      AS pack_id
             |  FROM g WHERE n_tok > 0),
             |pseg AS (
             |  SELECT conv_id, CAST(pack_id AS BIGINT) AS pack_id,
             |    CAST(GREATEST(pack_id * 256 - gstart, 0) AS BIGINT) AS p_start,
             |    CAST((pack_id + 1) * 256 - gstart AS BIGINT) AS p_end
             |  FROM packs)
             |SELECT p.pack_id, s.conv_id, s.turn_idx, s.role,
             |  GREATEST(p.p_start, s.tok_start) AS seg_start,
             |  LEAST(p.p_end, s.tok_end) AS seg_end, s.trainable
             |FROM pseg p JOIN spans s USING (conv_id)
             |WHERE LEAST(p.p_end, s.tok_end) > GREATEST(p.p_start, s.tok_start)
             |ORDER BY pack_id, conv_id, turn_idx""".stripMargin)),

    // ----- assistant-side conversation dedup ------------------------------
    // Two conversations with different user phrasings but identical
    // assistant answers are the SFT duplicate that matters. Assistant
    // contents are planted as a 5-way cycle so duplicate answer sets
    // actually occur; fingerprint is MD5 (portable), keep-first by
    // conv_id. Two partial-agg'd exchanges.
    "d_assistant_dedup" -> QueryDef(
      (s, d) => graft.operators.Sft.assistantDedup(
          sftTurns(t(s, d, "documents")).withColumn("content",
            when(col("role") === "assistant", concat(lit("reply "),
              (col("turn_doc_id") % 5).cast("string")))
              .otherwise(col("content"))),
          "conv_id", "turn_idx", "role", "content")
        .orderBy("conv_id"),
      Some(s"""WITH $SftTurnsSql,
             |pt AS (SELECT conv_id, turn_idx, role,
             |    CASE WHEN role = 'assistant'
             |      THEN 'reply ' || CAST(turn_doc_id % 5 AS VARCHAR)
             |      ELSE content END AS content
             |  FROM turns),
             |fp AS (SELECT conv_id,
             |    MD5(COALESCE(STRING_AGG(
             |      CASE WHEN role = 'assistant' THEN content END,
             |      chr(10) ORDER BY turn_idx), '')) AS fp
             |  FROM pt GROUP BY conv_id),
             |k AS (SELECT fp, MIN(conv_id) AS keep_id FROM fp GROUP BY fp)
             |SELECT f.conv_id, f.fp, f.conv_id = k.keep_id AS keep
             |FROM fp f JOIN k USING (fp) ORDER BY f.conv_id""".stripMargin)),

    // ----- sliding-window chunking (embedding/retrieval prep) -------------
    // A long document embeds as window-sized passages, not one vector:
    // fixed windows at a stride, the LAST window right-aligned so every
    // chunk is exactly `window` tokens unless the doc is shorter (no
    // runt tails). Map-only — one sequence explode, no exchange.
    "d_chunk_windows" -> QueryDef(
      (s, d) => graft.operators.Sft.chunkWindows(
          t(s, d, "documents").select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n")),
          "doc_id", "n", window = 64, stride = 48)
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH n AS (SELECT doc_id,
             |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS nt
             |  FROM documents),
             |c AS (SELECT doc_id, nt,
             |    CASE WHEN nt <= 64 THEN 1
             |         ELSE (nt - 64 + 47) // 48 + 1 END AS nc
             |  FROM n WHERE nt > 0),
             |u AS (SELECT doc_id, nt, UNNEST(RANGE(0, nc)) AS chunk_id FROM c)
             |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |  CAST(LEAST(chunk_id * 48, GREATEST(nt - 64, 0)) AS BIGINT)
             |    AS tok_start,
             |  CAST(LEAST(LEAST(chunk_id * 48, GREATEST(nt - 64, 0)) + 64, nt)
             |    AS BIGINT) AS tok_end
             |FROM u ORDER BY doc_id, chunk_id""".stripMargin)),

    // ----- chunk text materialization -------------------------------------
    // The retrieval-indexer form: the chunk's actual text slice rides
    // along. Map-only (split/slice/rejoin in one projection — the
    // document never joins back to its own chunks).
    "d_chunk_text" -> QueryDef(
      (s, d) => graft.operators.Sft.chunkText(
          t(s, d, "documents").filter(col("doc_id") % 10 === 0),
          "doc_id", "text", window = 32, stride = 24)
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws
             |  FROM documents WHERE doc_id % 10 = 0),
             |n AS (SELECT doc_id, ws, CAST(LEN(ws) AS BIGINT) AS nt
             |  FROM w WHERE LEN(ws) > 0),
             |c AS (SELECT doc_id, ws, nt,
             |    CASE WHEN nt <= 32 THEN 1
             |         ELSE (nt - 32 + 23) // 24 + 1 END AS nc
             |  FROM n),
             |u AS (SELECT doc_id, ws, nt, UNNEST(RANGE(0, nc)) AS chunk_id
             |  FROM c),
             |s AS (SELECT doc_id, ws, nt, chunk_id,
             |    LEAST(chunk_id * 24, GREATEST(nt - 32, 0)) AS st FROM u)
             |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |  CAST(st AS BIGINT) AS tok_start,
             |  CAST(LEAST(st + 32, nt) AS BIGINT) AS tok_end,
             |  ARRAY_TO_STRING(LIST_SLICE(ws, CAST(st + 1 AS BIGINT),
             |    CAST(LEAST(st + 32, nt) AS BIGINT)), ' ') AS chunk
             |FROM s ORDER BY doc_id, chunk_id""".stripMargin)),

    // ----- whole-document (next-fit) packing ------------------------------
    // The no-straddle packer: docs pack whole, padding the remainder —
    // what a masked/SFT export wants (a conversation split across two
    // sequences trains on half an answer). The fold is non-associative,
    // so the operator buckets it (one sequential fold per deterministic
    // id-quantile bucket); with buckets=1 it is textbook next-fit in id
    // order, which the oracle replays with a recursive CTE (the
    // d_connected_components precedent).
    "d_nextfit_pack" -> QueryDef(
      (s, d) => graft.operators.Packing.packWholeDocs(
          t(s, d, "documents").select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n")),
          "doc_id", "n", budget = 256, buckets = 1)
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE ord AS (
             |  SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)
             |      AS n_tok,
             |    ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
             |  FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) > 0),
             |f AS (
             |  SELECT rn, doc_id, n_tok, CAST(0 AS BIGINT) AS pack_id,
             |    n_tok AS fill
             |  FROM ord WHERE rn = 1
             |  UNION ALL
             |  SELECT o.rn, o.doc_id, o.n_tok,
             |    CASE WHEN f.fill + o.n_tok > 256 THEN f.pack_id + 1
             |         ELSE f.pack_id END,
             |    CASE WHEN f.fill + o.n_tok > 256 THEN o.n_tok
             |         ELSE f.fill + o.n_tok END
             |  FROM f JOIN ord o ON o.rn = f.rn + 1)
             |SELECT doc_id, pack_id, n_tok FROM f
             |ORDER BY doc_id""".stripMargin)),

    // ----- cross-batch assistant dedup (persisted fp history) -------------
    // The incremental form: prior batches persist only the 16-byte
    // answer-set fingerprint per conversation; a new batch collapses
    // in-batch keep-first AND drops any fingerprint class the history
    // has seen. History = the conv%5==0 slice's fingerprints; batch =
    // the rest; the planted 5-way answer cycle guarantees real hits.
    "d_assistant_dedup_incr" -> QueryDef(
      (s, d) => {
        val pt = sftTurns(t(s, d, "documents")).withColumn("content",
          when(col("role") === "assistant", concat(lit("reply "),
            (col("turn_doc_id") % 5).cast("string")))
            .otherwise(col("content")))
        val hist = graft.operators.Sft.assistantFingerprints(
          pt.filter(col("conv_id") % 5 === 0), "conv_id", "turn_idx",
          "role", "content")
        graft.operators.Sft.assistantDedupAgainstHistory(
            pt.filter(col("conv_id") % 5 =!= 0), "conv_id", "turn_idx",
            "role", "content", hist)
          .orderBy("conv_id")
      },
      Some(s"""WITH $SftTurnsSql,
             |pt AS (SELECT conv_id, turn_idx, role,
             |    CASE WHEN role = 'assistant'
             |      THEN 'reply ' || CAST(turn_doc_id % 5 AS VARCHAR)
             |      ELSE content END AS content
             |  FROM turns),
             |allfp AS (SELECT conv_id,
             |    MD5(COALESCE(STRING_AGG(
             |      CASE WHEN role = 'assistant' THEN content END,
             |      chr(10) ORDER BY turn_idx), '')) AS fp
             |  FROM pt GROUP BY conv_id),
             |hist AS (SELECT DISTINCT fp FROM allfp WHERE conv_id % 5 = 0),
             |batch AS (SELECT * FROM allfp WHERE conv_id % 5 <> 0),
             |k AS (SELECT fp, MIN(conv_id) AS keep_id FROM batch GROUP BY fp)
             |SELECT b.conv_id, b.fp,
             |  b.conv_id = k.keep_id AND h.fp IS NULL AS keep
             |FROM batch b JOIN k USING (fp)
             |LEFT JOIN hist h ON h.fp = b.fp
             |ORDER BY b.conv_id""".stripMargin)),

    // ----- whole-conversation masked packing ------------------------------
    // maskedPackSegments over the NO-STRADDLE packer: each conversation
    // lands in exactly one next-fit pack, so the mask segments are the
    // turn spans with a pack id attached — the form a real SFT trainer
    // loads (pad waste instead of half-answer training). Oracle =
    // recursive-CTE next-fit over conversation totals joined to the
    // span replay.
    "d_sft_pack_whole" -> QueryDef(
      (s, d) => {
        val spans = graft.operators.Sft.turnSpansByCount(
          sftTurns(t(s, d, "documents")).withColumn("n",
            size(split(col("content"), " ")).cast("long")),
          "conv_id", "turn_idx", "role", "n")
        graft.operators.Sft.maskedPackWhole(spans, budget = 512,
            buckets = 1)
          .orderBy("pack_id", "conv_id", "turn_idx")
      },
      Some(s"""WITH RECURSIVE $SftTurnsSql,
             |n AS (SELECT conv_id, turn_idx, role,
             |    CAST(LEN(STRING_SPLIT(content, ' ')) AS BIGINT) AS nt
             |  FROM turns),
             |spans AS (
             |  SELECT conv_id, turn_idx, role,
             |    CAST(SUM(nt) OVER w - nt AS BIGINT) AS tok_start,
             |    CAST(SUM(nt) OVER w AS BIGINT) AS tok_end,
             |    role = 'assistant' AS trainable
             |  FROM n WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
             |ord AS (SELECT conv_id, MAX(tok_end) AS n_tok,
             |    ROW_NUMBER() OVER (ORDER BY conv_id) AS rn
             |  FROM spans GROUP BY conv_id HAVING MAX(tok_end) > 0),
             |f AS (
             |  SELECT rn, conv_id, CAST(0 AS BIGINT) AS pack_id,
             |    n_tok AS fill
             |  FROM ord WHERE rn = 1
             |  UNION ALL
             |  SELECT o.rn, o.conv_id,
             |    CASE WHEN f.fill + o.n_tok > 512 THEN f.pack_id + 1
             |         ELSE f.pack_id END,
             |    CASE WHEN f.fill + o.n_tok > 512 THEN o.n_tok
             |         ELSE f.fill + o.n_tok END
             |  FROM f JOIN ord o ON o.rn = f.rn + 1)
             |SELECT f.pack_id, s.conv_id, s.turn_idx, s.role,
             |  s.tok_start AS seg_start, s.tok_end AS seg_end, s.trainable
             |FROM f JOIN spans s USING (conv_id)
             |ORDER BY pack_id, conv_id, turn_idx""".stripMargin)),

    // ===== preference-pair (RLHF/DPO) QC ==================================
    // Pairs derive from adjacent documents (even=chosen, odd=rejected);
    // prompts cycle 50 ways so duplicates occur, and pair_id%17==3
    // plants degenerate pairs (rejected := chosen).

    // ----- per-pair audit -------------------------------------------------
    "d_pref_audit" -> QueryDef(
      (s, d) => graft.operators.Sft.preferenceAudit(prefPairs(
          t(s, d, "documents")), "pair_id", "prompt", "chosen", "rejected")
        .orderBy("pair_id"),
      Some(s"""WITH $PrefPairsSql
             |, a AS (SELECT pair_id,
             |    CAST(LEN(STRING_SPLIT(chosen, ' ')) AS BIGINT) AS chosen_tok,
             |    CAST(LEN(STRING_SPLIT(rejected, ' ')) AS BIGINT)
             |      AS rejected_tok,
             |    chosen = rejected AS degenerate, prompt
             |  FROM pairs),
             |fstp AS (SELECT prompt, MIN(pair_id) AS first_id
             |  FROM a GROUP BY prompt)
             |SELECT a.pair_id, a.chosen_tok, a.rejected_tok,
             |  a.chosen_tok - a.rejected_tok AS len_gap, a.degenerate,
             |  a.chosen_tok > a.rejected_tok AS chosen_longer,
             |  a.pair_id <> f.first_id AS prompt_dup
             |FROM a JOIN fstp f USING (prompt)
             |ORDER BY pair_id""".stripMargin)),

    // ----- corpus roll-up -------------------------------------------------
    // chosen_longer_frac is THE length-bias number (0.5 = unbiased);
    // fractions divide exact integer sums once, so both engines land on
    // the same double.
    "d_pref_report" -> QueryDef(
      (s, d) => graft.operators.Sft.preferenceReport(prefPairs(
          t(s, d, "documents")), "pair_id", "prompt", "chosen", "rejected"),
      Some(s"""WITH $PrefPairsSql
             |, a AS (SELECT pair_id, prompt,
             |    CAST(LEN(STRING_SPLIT(chosen, ' ')) AS BIGINT) AS ct,
             |    CAST(LEN(STRING_SPLIT(rejected, ' ')) AS BIGINT) AS rt,
             |    chosen = rejected AS degenerate
             |  FROM pairs),
             |fstp AS (SELECT prompt, MIN(pair_id) AS first_id
             |  FROM a GROUP BY prompt)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |  CAST(COUNT(*) FILTER (degenerate) AS BIGINT) AS n_degenerate,
             |  CAST(COUNT(*) FILTER (a.pair_id <> f.first_id) AS BIGINT)
             |    AS n_prompt_dup,
             |  ROUND(CAST(COUNT(*) FILTER (ct > rt) AS DOUBLE)
             |    / GREATEST(COUNT(*), 1), 4) AS chosen_longer_frac,
             |  ROUND(CAST(SUM(ct - rt) AS DOUBLE) / GREATEST(COUNT(*), 1), 4)
             |    AS mean_len_gap
             |FROM a JOIN fstp f USING (prompt)""".stripMargin)),

    // ----- turn-boundary conversation splitting ---------------------------
    // The upstream step packWholeDocs' oversize rejection demands:
    // conversations longer than the budget split at TURN boundaries
    // (greedy next-fit over turns), never mid-answer. The per-conv fold
    // runs inside a codegen'd aggregate HOF; the oracle replays it with
    // a recursive CTE advancing every conversation one turn per step.
    "d_conv_split" -> QueryDef(
      (s, d) => graft.operators.Sft.splitConversations(
          sftTurns(t(s, d, "documents")).withColumn("n",
            size(split(col("content"), " ")).cast("long")),
          "conv_id", "turn_idx", "n", budget = 120)
        .orderBy("conv_id", "turn_idx"),
      Some(s"""WITH RECURSIVE $SftTurnsSql,
             |r AS (SELECT conv_id, turn_idx,
             |    CAST(LEN(STRING_SPLIT(content, ' ')) AS BIGINT) AS nt,
             |    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx)
             |      AS rn
             |  FROM turns),
             |f AS (
             |  SELECT conv_id, turn_idx, nt, rn, CAST(0 AS BIGINT) AS sub_id,
             |    nt AS fill
             |  FROM r WHERE rn = 1
             |  UNION ALL
             |  SELECT o.conv_id, o.turn_idx, o.nt, o.rn,
             |    CASE WHEN f.fill + o.nt > 120 AND f.fill > 0
             |         THEN f.sub_id + 1 ELSE f.sub_id END,
             |    CASE WHEN f.fill + o.nt > 120 AND f.fill > 0
             |         THEN o.nt ELSE f.fill + o.nt END
             |  FROM f JOIN r o
             |    ON o.conv_id = f.conv_id AND o.rn = f.rn + 1)
             |SELECT conv_id, turn_idx, sub_id FROM f
             |ORDER BY conv_id, turn_idx""".stripMargin)),

    // ----- reward-proxy margin audit --------------------------------------
    // The learned quality signal scores both sides of every preference
    // pair; inverted pairs (scorer prefers the REJECTED side) are the
    // label-noise queue. Planted integer weights make both scores
    // bit-for-bit replayable (the d_quality_clf discipline).
    "d_pref_margin" -> QueryDef(
      (s, d) => {
        val model = graft.operators.QualityClf.Model(
          Array.tabulate(64)(b => ((b.toLong * 37) % 21) - 10), 3L)
        graft.operators.Sft.preferenceMargin(prefPairs(
            t(s, d, "documents")), "pair_id", "chosen", "rejected", model)
          .orderBy("pair_id")
      },
      Some {
        // no '|' characters in this helper: the OUTER stripMargin below
        // runs over the spliced text too, and would eat the first pipe
        // of a '||' concat (hence LIST_CONCAT / CONCAT here)
        def feats(side: String) =
          s"""LIST_CONCAT(
    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
       [CAST(ascii(c) AS BIGINT) FOR c IN STRING_SPLIT(ws_$side[i], '')]),
       (h, cp) -> (h * 31 + cp) % 64)
     FOR i IN RANGE(1, LEN(ws_$side) + 1)],
    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
       [CAST(ascii(c) AS BIGINT)
        FOR c IN STRING_SPLIT(CONCAT(ws_$side[i], ' ', ws_$side[i + 1]), '')]),
       (h, cp) -> (h * 31 + cp) % 64)
     FOR i IN RANGE(1, LEN(ws_$side))])"""
        def score(fb: String) =
          s"CAST(3 + COALESCE(LIST_SUM([((b * 37) % 21) - 10 FOR b IN $fb]), 0) AS BIGINT)"
        s"""WITH $PrefPairsSql,
           |w AS (SELECT pair_id,
           |    LIST_FILTER(STRING_SPLIT(chosen, ' '), t -> LENGTH(t) > 0)
           |      AS ws_c,
           |    LIST_FILTER(STRING_SPLIT(rejected, ' '), t -> LENGTH(t) > 0)
           |      AS ws_r
           |  FROM pairs),
           |f AS (SELECT pair_id,
           |    ${feats("c")} AS fb_c,
           |    ${feats("r")} AS fb_r
           |  FROM w),
           |sc AS (SELECT pair_id,
           |    ${score("fb_c")} AS chosen_score,
           |    ${score("fb_r")} AS rejected_score
           |  FROM f)
           |SELECT pair_id, chosen_score, rejected_score,
           |  chosen_score - rejected_score AS margin,
           |  chosen_score - rejected_score < 0 AS inverted
           |FROM sc ORDER BY pair_id""".stripMargin
      }),

    // ----- tokenizer fertility report (per-source QC) ---------------------
    // Subword tokens per whitespace word, by source: high fertility on
    // one source means its text is being shredded to characters — it
    // costs proportionally more context window and trains worse. The
    // oracle reuses the greedy-encode replay (word-TYPE recursion) and
    // aggregates the same per-doc totals the drift oracle derives.
    // Under the byte-fallback model with the out-of-alphabet plant the
    // oov column — the number the fallback exists to drive to 0 —
    // hash-checks to 0 for every source.
    "d_bpe_fertility" -> QueryDef(
      (s, d) => graft.operators.Bpe.fertility(
          t(s, d, "documents")
            .withColumn("text", concat(col("text"), lit(bpePlant))),
          "doc_id", "text", "source", plantedBpeFb)
        .orderBy("source"),
      Some(s"""WITH RECURSIVE ${bpeEncodeCtesFor(
                s"text || ${sqlStr(bpePlant)}", byteFallback = true)},
              |pd AS (
              |  SELECT d.doc_id,
              |    CAST(SUM(LEN(i.ids)) + COUNT(*) - 1 AS BIGINT) AS nt,
              |    CAST(SUM(LEN(LIST_FILTER(i.ids, x -> x = 0))) AS BIGINT)
              |      AS oo
              |  FROM docw d JOIN wids i ON d.wd = i.w
              |  GROUP BY d.doc_id),
              |j AS (SELECT doc.source, pd.nt, pd.oo,
              |    CAST(LEN(STRING_SPLIT(doc.text || ${sqlStr(bpePlant)},
              |      ' ')) AS BIGINT) AS nw
              |  FROM pd JOIN documents doc USING (doc_id))
              |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(nw) AS BIGINT) AS n_words,
              |  CAST(SUM(nt) AS BIGINT) AS n_subwords,
              |  CAST(SUM(oo) AS BIGINT) AS n_oov,
              |  ROUND(CAST(SUM(nt) AS DOUBLE) / GREATEST(SUM(nw), 1), 4)
              |    AS fertility,
              |  ROUND(CAST(SUM(oo) AS DOUBLE) / GREATEST(SUM(nt), 1), 4)
              |    AS oov_rate
              |FROM j GROUP BY source ORDER BY source""".stripMargin)),

    // ----- classifier calibration report (per-source QC) ------------------
    // The learned gate's deployment check: per-source keep rates under
    // the planted weight vector — a collapsed or saturated source means
    // mis-calibration long before coverage drift trips. Scoring replay
    // is the d_quality_clf SQL aggregated by source.
    "d_clf_calibration" -> QueryDef(
      (s, d) => {
        val model = graft.operators.QualityClf.Model(
          Array.tabulate(64)(b => ((b.toLong * 37) % 21) - 10), 3L)
        graft.operators.QualityClf.calibration(t(s, d, "documents"),
          "doc_id", "text", "source", model).orderBy("source")
      },
      Some("""WITH w AS (
             |  SELECT source,
             |    LIST_FILTER(STRING_SPLIT(text, ' '), t -> LENGTH(t) > 0) AS ws
             |  FROM documents),
             |f AS (
             |  SELECT source,
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT) FOR c IN STRING_SPLIT(ws[i], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws) + 1)]
             |    ||
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT)
             |        FOR c IN STRING_SPLIT(ws[i] || ' ' || ws[i + 1], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws))] AS fb
             |  FROM w),
             |sc AS (SELECT source,
             |    CAST(3 + COALESCE(LIST_SUM(
             |      [((b * 37) % 21) - 10 FOR b IN fb]), 0) AS BIGINT) AS s
             |  FROM f)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(COUNT(*) FILTER (s > 0) AS BIGINT) AS n_keep,
             |  ROUND(CAST(COUNT(*) FILTER (s > 0) AS DOUBLE)
             |    / GREATEST(COUNT(*), 1), 4) AS keep_rate,
             |  ROUND(CAST(SUM(s) AS DOUBLE) / GREATEST(COUNT(*), 1), 4)
             |    AS mean_score,
             |  MIN(s) AS min_score, MAX(s) AS max_score
             |FROM sc GROUP BY source ORDER BY source""".stripMargin)),

    // ----- semantic (embedding-space) decontamination ---------------------
    // The paraphrase-robust sibling of d_contamination: the corpus is the
    // non-eval embeddings PLUS planted leaks (eval vectors scaled by 2 —
    // an exponent bump, so cosine is EXACTLY 1.0 in IEEE double on both
    // engines); at tau=0.99 exactly the planted leaks flag, and every
    // doc's best-match cosine reaches the hash compare. Map-only scoring
    // against the literal eval matrix: zero joins, zero exchanges.
    "d_semantic_decon" -> QueryDef(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.operators.Dedup.semanticContamination(
            semanticDeconCorpus(emb), "vec_id", "embedding",
            emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
            tau = 0.99, maxEvalRows = 200000)
          .orderBy("id")
      },
      Some(semanticDeconSql)),

    // ----- semantic decontamination via the persisted eval index ----------
    // Same screen through the marker-enforced table path: the index
    // persists once per eval-set release (saveEvalEmbeddingIndex stamps
    // HistoryFormat.EvalEmbedding), every batch probes statelessly —
    // bit-identical to the in-memory screen (the SQL is shared).
    "d_semantic_decon_incr" -> QueryDef(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val idxPath = scratch(s, "semantic_decon_idx")
        graft.operators.Dedup.saveEvalEmbeddingIndex(
          emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
          idxPath)
        graft.operators.Dedup.semanticContaminationAgainstIndexTable(
            semanticDeconCorpus(emb), "vec_id", "embedding", idxPath,
            tau = 0.99)
          .orderBy("id")
      },
      Some(semanticDeconSql)),

    // ----- packing-efficiency report (pad-waste QC) -----------------------
    // The utilization number the whole-doc packer's pad-waste trade
    // ships with: one corpus row over the d_nextfit_pack assignment.
    // The oracle replays the same next-fit recursion, then aggregates
    // per-pack fills; ratios divide exact integer sums once.
    "d_pack_report" -> QueryDef(
      (s, d) => graft.operators.Packing.packReport(
        graft.operators.Packing.packWholeDocs(
          t(s, d, "documents").select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n")),
          "doc_id", "n", budget = 256, buckets = 1), budget = 256),
      Some("""WITH RECURSIVE ord AS (
             |  SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)
             |      AS n_tok,
             |    ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
             |  FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) > 0),
             |f AS (
             |  SELECT rn, doc_id, n_tok, CAST(0 AS BIGINT) AS pack_id,
             |    n_tok AS fill
             |  FROM ord WHERE rn = 1
             |  UNION ALL
             |  SELECT o.rn, o.doc_id, o.n_tok,
             |    CASE WHEN f.fill + o.n_tok > 256 THEN f.pack_id + 1
             |         ELSE f.pack_id END,
             |    CASE WHEN f.fill + o.n_tok > 256 THEN o.n_tok
             |         ELSE f.fill + o.n_tok END
             |  FROM f JOIN ord o ON o.rn = f.rn + 1),
             |per AS (
             |  SELECT pack_id, CAST(SUM(n_tok) AS BIGINT) AS fill,
             |    CAST(COUNT(*) AS BIGINT) AS nd
             |  FROM f GROUP BY pack_id)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_packs,
             |  CAST(SUM(nd) AS BIGINT) AS n_docs,
             |  CAST(SUM(fill) AS BIGINT) AS n_tokens,
             |  CAST(COUNT(*) * 256 - SUM(fill) AS BIGINT) AS pad_tokens,
             |  ROUND(CAST(SUM(fill) AS DOUBLE)
             |    / GREATEST(COUNT(*) * 256, 1), 4) AS utilization,
             |  MIN(fill) AS min_fill, MAX(fill) AS max_fill,
             |  CAST(COUNT(*) FILTER (fill = 256) AS BIGINT) AS full_packs
             |FROM per""".stripMargin)),

    // ----- cross-batch preference-prompt dedup (persisted fp history) -----
    // The RLHF sibling of d_assistant_dedup_incr: a prompt judged in an
    // earlier batch over-weights its preference and leaks across epochs.
    // History = the pair%5==0 slice's prompt fingerprints; batch = the
    // rest; prompts recur by construction (pair_id % 50), so both the
    // in-batch keep-first and the history drop fire.
    "d_pref_dedup_incr" -> QueryDef(
      (s, d) => {
        val pairs = prefPairs(t(s, d, "documents"))
        val hist = graft.operators.Sft.promptFingerprints(
          pairs.filter(col("pair_id") % 5 === 0), "pair_id", "prompt")
        graft.operators.Sft.promptDedupAgainstHistory(
            pairs.filter(col("pair_id") % 5 =!= 0), "pair_id", "prompt",
            hist)
          .orderBy("pair_id")
      },
      Some(s"""WITH $PrefPairsSql,
             |allfp AS (SELECT pair_id, MD5(prompt) AS fp FROM pairs),
             |hist AS (SELECT DISTINCT fp FROM allfp WHERE pair_id % 5 = 0),
             |batch AS (SELECT * FROM allfp WHERE pair_id % 5 <> 0),
             |k AS (SELECT fp, MIN(pair_id) AS keep_id FROM batch GROUP BY fp)
             |SELECT b.pair_id, b.fp,
             |  b.pair_id = k.keep_id AND h.fp IS NULL AS keep
             |FROM batch b JOIN k USING (fp)
             |LEFT JOIN hist h ON h.fp = b.fp
             |ORDER BY b.pair_id""".stripMargin)),

    // ----- PSI score-distribution drift (deployed-classifier QC) ----------
    // Population Stability Index between the reference slice's scores
    // and a character-shifted batch's, under the planted integer-weight
    // model — the standard deployed-model drift number. Integer counts,
    // Laplace (n+1)/(N+K) fractions, LN of their exact-double ratio:
    // every arithmetic step replays bit-for-bit in ANSI SQL. The a->4
    // shift rehashes features, so the batch distribution genuinely
    // moves and the roll-up flag fires.
    "d_clf_psi" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val model = graft.operators.QualityClf.Model(
          Array.tabulate(64)(b => ((b.toLong * 37) % 21) - 10), 3L)
        val ref = graft.operators.QualityClf.score(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", model)
        val bat = graft.operators.QualityClf.score(
          docs.filter(col("doc_id") % 5 =!= 0)
            .select(col("doc_id"), translate(col("text"), "a", "4").as("text")),
          "doc_id", "text", model)
        graft.operators.Curation.psiReport(ref, bat, "score",
            Seq(-100.0, -50.0, 0.0, 50.0))
          .orderBy("bucket")
      },
      Some {
        def side(src: String, tx: String, out: String) =
          s"""w$out AS (
             |  SELECT LIST_FILTER(STRING_SPLIT($tx, ' '),
             |    t -> LENGTH(t) > 0) AS ws
             |  FROM documents WHERE $src),
             |f$out AS (
             |  SELECT
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT) FOR c IN STRING_SPLIT(ws[i], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws) + 1)] ||
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT)
             |        FOR c IN STRING_SPLIT(ws[i] || ' ' || ws[i + 1], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws))] AS fb
             |  FROM w$out),
             |s$out AS (SELECT CAST(3 + COALESCE(LIST_SUM(
             |    [((b * 37) % 21) - 10 FOR b IN fb]), 0) AS BIGINT) AS s
             |  FROM f$out),
             |c$out AS (SELECT
             |    (CASE WHEN s > -100 THEN 1 ELSE 0 END
             |     + CASE WHEN s > -50 THEN 1 ELSE 0 END
             |     + CASE WHEN s > 0 THEN 1 ELSE 0 END
             |     + CASE WHEN s > 50 THEN 1 ELSE 0 END) AS bucket,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM s$out GROUP BY 1)""".stripMargin
        s"""WITH ${side("doc_id % 5 = 0", "text", "r")},
           |${side("doc_id % 5 <> 0", "REPLACE(text, 'a', '4')", "b")},
           |spine AS (SELECT CAST(x AS INT) AS bucket FROM RANGE(0, 5) t(x)),
           |j AS (
           |  SELECT spine.bucket, COALESCE(cr.n, 0) AS ref_n,
           |    COALESCE(cb.n, 0) AS batch_n
           |  FROM spine LEFT JOIN cr ON cr.bucket = spine.bucket
           |  LEFT JOIN cb ON cb.bucket = spine.bucket),
           |tot AS (SELECT SUM(ref_n) AS tr, SUM(batch_n) AS tb FROM j),
           |terms AS (
           |  SELECT j.bucket, j.ref_n, j.batch_n,
           |    CAST(j.ref_n + 1 AS DOUBLE) / (tot.tr + 5) AS rfr,
           |    CAST(j.batch_n + 1 AS DOUBLE) / (tot.tb + 5) AS bfr
           |  FROM j, tot),
           |t2 AS (SELECT *, (bfr - rfr) * LN(bfr / rfr) AS term FROM terms),
           |p AS (SELECT ROUND(SUM(term), 6) AS psi_total FROM t2)
           |SELECT bucket, ref_n, batch_n, ROUND(rfr, 6) AS ref_frac,
           |  ROUND(bfr, 6) AS batch_frac, ROUND(term, 6) AS psi_term,
           |  p.psi_total,
           |  CASE WHEN p.psi_total > 0.25 THEN 'shift'
           |       WHEN p.psi_total > 0.1 THEN 'warn'
           |       ELSE 'stable' END AS drift
           |FROM t2, p ORDER BY bucket""".stripMargin
      }),

    // ----- prototype-based cluster pruning (Sorscher 2206.14486) ----------
    // The diversity-preserving pruner beside SemDeDup: assign each planted
    // vector to its nearest planted centroid (the 10 noise-free g-group
    // patterns — exact-integer floats, so every dot is IEEE-exact), rank
    // within the cluster by cosine-to-centroid rounded at 4 (total order
    // with the id tiebreak), keep the hardest 30% by cross-multiplied
    // integer quota. Map-only assignment against the literal model; the
    // only exchange is the per-cluster ranking window.
    "d_cluster_prune" -> QueryDef(
      (s, d) => {
        val quant = Array.tabulate(10)(g => Array.tabulate(16)(j =>
          (((g * 31 + j * 17 + g * j * 13) % 23 - 11) * 1000).toFloat))
        Similarity.clusterPrune(plantedVecs(s, d), "doc_id", "v", quant,
            keepPermille = 300)
          .select("doc_id", "cluster", "proto_cos", "cluster_n", "rnk", "keep")
          .orderBy("doc_id")
      },
      Some(s"""WITH cents AS (
              |  SELECT g, LIST_TRANSFORM(RANGE(0, 16), j -> CAST(
              |    ((g * 31 + j * 17 + g * j * 13) % 23 - 11) * 1000 AS DOUBLE)) AS c
              |  FROM RANGE(0, 10) t(g)),
              |v AS (
              |  $plantedVecsSql),
              |cos AS (
              |  SELECT v.doc_id, c.g, ROUND(
              |    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(v.emb, c.c),
              |      p -> p[1] * p[2]))
              |    / SQRT(LIST_SUM(LIST_TRANSFORM(v.emb, x -> x * x))
              |         * LIST_SUM(LIST_TRANSFORM(c.c, x -> x * x))), 4) AS pc
              |  FROM v, cents c),
              |asg AS (
              |  SELECT doc_id, g AS cluster, pc AS proto_cos,
              |    ROW_NUMBER() OVER (PARTITION BY doc_id
              |      ORDER BY pc DESC, g ASC) AS rn
              |  FROM cos),
              |rnkd AS (
              |  SELECT doc_id, cluster, proto_cos,
              |    ROW_NUMBER() OVER (PARTITION BY cluster
              |      ORDER BY proto_cos ASC, doc_id ASC) AS rnk,
              |    COUNT(*) OVER (PARTITION BY cluster) AS cluster_n
              |  FROM asg WHERE rn = 1)
              |SELECT doc_id, CAST(cluster AS INT) AS cluster, proto_cos,
              |  cluster_n, rnk, rnk * 1000 <= 300 * cluster_n AS keep
              |FROM rnkd ORDER BY doc_id""".stripMargin)),

    // ----- cross-batch cluster pruning under a quota history ---------------
    // The incremental shape of d_cluster_prune: batch 1 prunes under an
    // empty history, its per-cluster (seen, kept) counts couple into
    // batch 2's quotas — the oracle replays the FULL two-batch evolution
    // including the history coupling (the d_mix_steered discipline).
    "d_cluster_prune_incr" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val quant = Array.tabulate(10)(g => Array.tabulate(16)(j =>
          (((g * 31 + j * 17 + g * j * 13) % 23 - 11) * 1000).toFloat))
        val all = plantedVecs(s, d)
        val empty = Seq.empty[(Int, Long, Long)]
          .toDF("cluster", "seen", "kept")
        val o1 = Similarity.clusterPruneAgainstHistory(
          all.filter(col("doc_id") < 100), "doc_id", "v", quant,
          keepPermille = 300, history = empty)
        // the history is O(nlist) counts — model-sized driver state (the
        // e_ivf_top1 precedent), so collect it rather than embed o1's
        // whole lineage inside o2's plan
        val h1 = Similarity.prunedCounts(o1).collect().toSeq
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
          .toDF("cluster", "seen", "kept")
        val o2 = Similarity.clusterPruneAgainstHistory(
          all.filter(col("doc_id") >= 100), "doc_id", "v", quant,
          keepPermille = 300, history = h1)
        o1.withColumn("batch", lit("b1"))
          .unionByName(o2.withColumn("batch", lit("b2")))
          .select("batch", "doc_id", "cluster", "proto_cos", "rnk",
            "batch_n", "quota", "keep")
          .orderBy("batch", "doc_id")
      },
      Some(s"""WITH cents AS (
              |  SELECT g, LIST_TRANSFORM(RANGE(0, 16), j -> CAST(
              |    ((g * 31 + j * 17 + g * j * 13) % 23 - 11) * 1000 AS DOUBLE)) AS c
              |  FROM RANGE(0, 10) t(g)),
              |v AS (
              |  $plantedVecsSql),
              |cos AS (
              |  SELECT v.doc_id, c.g, ROUND(
              |    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(v.emb, c.c),
              |      p -> p[1] * p[2]))
              |    / SQRT(LIST_SUM(LIST_TRANSFORM(v.emb, x -> x * x))
              |         * LIST_SUM(LIST_TRANSFORM(c.c, x -> x * x))), 4) AS pc
              |  FROM v, cents c),
              |asg AS (
              |  SELECT doc_id, g AS cluster, pc AS proto_cos,
              |    ROW_NUMBER() OVER (PARTITION BY doc_id
              |      ORDER BY pc DESC, g ASC) AS rn
              |  FROM cos QUALIFY rn = 1),
              |r1 AS (
              |  SELECT doc_id, cluster, proto_cos,
              |    ROW_NUMBER() OVER (PARTITION BY cluster
              |      ORDER BY proto_cos ASC, doc_id ASC) AS rnk,
              |    COUNT(*) OVER (PARTITION BY cluster) AS batch_n
              |  FROM asg WHERE doc_id < 100),
              |o1 AS (
              |  SELECT *, GREATEST(CAST(0 AS BIGINT),
              |    LEAST(batch_n, (300 * batch_n) // 1000)) AS quota,
              |    rnk <= GREATEST(CAST(0 AS BIGINT),
              |      LEAST(batch_n, (300 * batch_n) // 1000)) AS keep
              |  FROM r1),
              |h1 AS (
              |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS seen,
              |    CAST(COALESCE(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 0)
              |      AS BIGINT) AS kept
              |  FROM o1 GROUP BY 1),
              |r2 AS (
              |  SELECT doc_id, cluster, proto_cos,
              |    ROW_NUMBER() OVER (PARTITION BY cluster
              |      ORDER BY proto_cos ASC, doc_id ASC) AS rnk,
              |    COUNT(*) OVER (PARTITION BY cluster) AS batch_n
              |  FROM asg WHERE doc_id >= 100),
              |q2 AS (
              |  SELECT r2.*, GREATEST(CAST(0 AS BIGINT), LEAST(batch_n,
              |    (300 * (COALESCE(h1.seen, 0) + batch_n)) // 1000
              |      - COALESCE(h1.kept, 0))) AS quota
              |  FROM r2 LEFT JOIN h1 USING (cluster)),
              |o2 AS (SELECT *, rnk <= quota AS keep FROM q2)
              |SELECT * FROM (
              |  SELECT 'b1' AS batch, doc_id, CAST(cluster AS INT) AS cluster,
              |    proto_cos, rnk, batch_n, quota, keep
              |  FROM o1
              |  UNION ALL
              |  SELECT 'b2', doc_id, CAST(cluster AS INT), proto_cos, rnk,
              |    batch_n, quota, keep
              |  FROM o2)
              |ORDER BY batch, doc_id""".stripMargin)),

    // ----- retrieval eval metrics (recall@k / MRR / nDCG@k) ---------------
    // The eval half of the retrieval family: BM25 ranks three single-term
    // queries over the corpus (one scan via bm25Multi), qrels are the
    // exact-integer rule "the term occurs >= 2 times", and every metric
    // is exact-integer until one terminal double step — nDCG's discount
    // table is a shared BIGINT literal (dcgDiscounts9), so neither
    // engine's log library is in the compared path.
    "d_retrieval_metrics" -> QueryDef(
      (s, d) => {
        val docs = tSpread(s, d, "documents")
        val results = graft.operators.Relevance.bm25Multi(docs, "doc_id",
            "text", Map(1 -> Seq("join"), 2 -> Seq("vector"),
              3 -> Seq("stream")))
          .select(col("query_id"), col("id"), col("bm25").as("score"))
        val qrels = docs
          .select(col("doc_id").as("id"),
            explode(split(col("text"), " ")).as("term"))
          .filter(col("term").isin("join", "vector", "stream"))
          .groupBy("id", "term").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2)
          .select(when(col("term") === "join", 1)
            .when(col("term") === "vector", 2).otherwise(3).as("query_id"),
            col("id"))
        graft.operators.Relevance.retrievalMetrics(results, qrels, k = 10)
          .orderBy("query_id")
      },
      Some {
        val disc9 = graft.operators.Relevance.dcgDiscounts9(10)
          .mkString("[", ", ", "]")
        s"""WITH q AS (SELECT * FROM (VALUES (1, 'join'), (2, 'vector'),
           |    (3, 'stream')) t(query_id, term)),
           |base AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws,
           |    LEN(STRING_SPLIT(text, ' ')) AS dl FROM documents),
           |stats AS (SELECT COUNT(*) AS n,
           |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM base),
           |hits AS (SELECT doc_id, dl, UNNEST(ws) AS term FROM base),
           |tf AS (SELECT h.doc_id, h.term, COUNT(*) AS tf, MAX(h.dl) AS dl
           |  FROM hits h JOIN (SELECT DISTINCT term FROM q) qt USING (term)
           |  GROUP BY 1, 2),
           |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
           |score AS (
           |  SELECT q.query_id, tf.doc_id AS id, ROUND(CAST(SUM(CAST(
           |    LN(1 + ((CAST(n - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)))
           |      * ((tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * (dl / avgdl))))
           |    AS DECIMAL(30,9))) AS DOUBLE), 4) AS s
           |  FROM tf JOIN df USING (term) CROSS JOIN stats JOIN q USING (term)
           |  GROUP BY 1, 2),
           |ranked AS (
           |  SELECT query_id, id, s,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY s DESC, id ASC) AS rank
           |  FROM score QUALIFY rank <= 10),
           |qrels AS (
           |  SELECT CASE term WHEN 'join' THEN 1 WHEN 'vector' THEN 2
           |      ELSE 3 END AS query_id, doc_id AS id
           |  FROM tf WHERE tf >= 2),
           |nrel AS (SELECT query_id, COUNT(*) AS n_rel FROM qrels GROUP BY 1),
           |disc AS (SELECT CAST($disc9 AS BIGINT[]) AS d9),
           |j AS (
           |  SELECT r.query_id, r.rank,
           |    CASE WHEN qr.id IS NULL THEN 0 ELSE 1 END AS rel
           |  FROM ranked r LEFT JOIN qrels qr
           |    ON r.query_id = qr.query_id AND r.id = qr.id),
           |j2 AS (
           |  SELECT *, SUM(rel) OVER (PARTITION BY query_id ORDER BY rank
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hits_at
           |  FROM j),
           |perq AS (
           |  SELECT j2.query_id, CAST(COUNT(*) AS BIGINT) AS n_retrieved,
           |    CAST(SUM(rel) AS BIGINT) AS hits,
           |    CAST(COALESCE(MIN(CASE WHEN rel = 1 THEN rank END), 0)
           |      AS BIGINT) AS first_rel_rank,
           |    CAST(COALESCE(SUM(CASE WHEN rel = 1 THEN d9[rank] END), 0)
           |      AS BIGINT) AS dcg9,
           |    CAST(COALESCE(SUM(CASE WHEN rel = 1 THEN
           |      CAST(ROUND(CAST(hits_at AS DOUBLE) / rank, 6)
           |        AS DECIMAL(18,6)) END), 0) AS DECIMAL(18,6)) AS ap_num
           |  FROM j2, disc GROUP BY 1),
           |full_q AS (
           |  SELECT COALESCE(p.query_id, n.query_id) AS query_id,
           |    COALESCE(n.n_rel, 0) AS n_rel,
           |    COALESCE(p.n_retrieved, 0) AS n_retrieved,
           |    COALESCE(p.hits, 0) AS hits,
           |    COALESCE(p.first_rel_rank, 0) AS first_rel_rank,
           |    COALESCE(p.dcg9, 0) AS dcg9,
           |    COALESCE(p.ap_num, CAST(0 AS DECIMAL(18,6))) AS ap_num
           |  FROM perq p FULL OUTER JOIN nrel n ON p.query_id = n.query_id)
           |SELECT f.query_id, f.n_rel, f.n_retrieved, f.hits,
           |  CASE WHEN f.first_rel_rank > 0
           |    THEN ROUND(CAST(1 AS DOUBLE) / f.first_rel_rank, 6)
           |    ELSE 0.0 END AS rr,
           |  CASE WHEN f.n_rel > 0
           |    THEN ROUND(CAST(f.hits AS DOUBLE) / f.n_rel, 4)
           |    ELSE 0.0 END AS recall_at_k,
           |  ROUND(CAST(f.hits AS DOUBLE) / 10.0, 4) AS precision_at_k,
           |  CASE WHEN COALESCE(LIST_SUM(d9[1 : LEAST(10, f.n_rel)]), 0) > 0
           |    THEN ROUND(CAST(f.dcg9 AS DOUBLE) /
           |      LIST_SUM(d9[1 : LEAST(10, f.n_rel)]), 4)
           |    ELSE 0.0 END AS ndcg_at_k,
           |  CASE WHEN f.n_rel > 0
           |    THEN ROUND(CAST(f.ap_num AS DOUBLE) / f.n_rel, 4)
           |    ELSE 0.0 END AS ap_at_k
           |FROM full_q f, disc ORDER BY query_id""".stripMargin
      }),

    // ----- rater agreement (Cohen's kappa): scorer v1 vs scorer v2 --------
    // The QC that decides whether a re-trained gate can replace the
    // deployed one: two planted weight vectors score every document
    // (integer-exact, one fused scan), the 2x2 confusion counts reduce in
    // ONE partial-agg'd global aggregate, and kappa is a single double
    // tree over exact longs — chance-corrected agreement, so lopsided
    // keep rates can't fake concordance the way raw po does.
    "d_rater_agreement" -> QueryDef(
      (s, d) => {
        val m1 = graft.operators.QualityClf.Model(
          Array.tabulate(64)(b => ((b.toLong * 37) % 21) - 10), 3L)
        val m2 = graft.operators.QualityClf.Model(
          Array.tabulate(64)(b => ((b.toLong * 29) % 19) - 9), -2L)
        graft.operators.Curation.raterAgreement(t(s, d, "documents"),
          graft.operators.QualityClf.scoreCol(col("text"), m1) > 0,
          graft.operators.QualityClf.scoreCol(col("text"), m2) > 0)
      },
      Some("""WITH w AS (
             |  SELECT LIST_FILTER(STRING_SPLIT(text, ' '),
             |    t -> LENGTH(t) > 0) AS ws
             |  FROM documents),
             |f AS (
             |  SELECT
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT) FOR c IN STRING_SPLIT(ws[i], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws) + 1)] ||
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT)
             |        FOR c IN STRING_SPLIT(ws[i] || ' ' || ws[i + 1], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws))] AS fb
             |  FROM w),
             |s AS (SELECT
             |    (3 + COALESCE(LIST_SUM(
             |      [((b * 37) % 21) - 10 FOR b IN fb]), 0)) > 0 AS a,
             |    (-2 + COALESCE(LIST_SUM(
             |      [((b * 29) % 19) - 9 FOR b IN fb]), 0)) > 0 AS b
             |  FROM f),
             |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(COALESCE(SUM(CASE WHEN a AND b THEN 1 END), 0)
             |      AS BIGINT) AS n11,
             |    CAST(COALESCE(SUM(CASE WHEN a AND NOT b THEN 1 END), 0)
             |      AS BIGINT) AS n10,
             |    CAST(COALESCE(SUM(CASE WHEN NOT a AND b THEN 1 END), 0)
             |      AS BIGINT) AS n01,
             |    CAST(COALESCE(SUM(CASE WHEN NOT a AND NOT b THEN 1 END), 0)
             |      AS BIGINT) AS n00
             |  FROM s),
             |k AS (SELECT *,
             |    CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
             |    (CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
             |      * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
             |    + (CAST(n01 + n00 AS DOUBLE) / CAST(n AS DOUBLE))
             |      * (CAST(n10 + n00 AS DOUBLE) / CAST(n AS DOUBLE)) AS pe
             |  FROM c)
             |-- NULL-rater rows are excluded before the aggregate (operator
             |-- contract); this corpus has none, so no WHERE is needed here
             |SELECT n, n11, n10, n01, n00,
             |  CASE WHEN n > 0 THEN ROUND(po, 4) ELSE 0.0 END AS po,
             |  CASE WHEN n > 0 THEN ROUND(pe, 4) ELSE 0.0 END AS pe,
             |  CASE WHEN n > 0 AND pe < 1 THEN ROUND((po - pe) / (1 - pe), 4)
             |    ELSE 0.0 END AS kappa,
             |  (n = 0 OR (n > 0 AND pe = 1)) AS degenerate
             |FROM k""".stripMargin)),

    // ----- best-of-n rejection sampling ------------------------------------
    // The RLHF data step after candidate generation: 8 candidates per
    // prompt (doc_id div 8), the deployed scorer picks the winner, margin
    // over the runner-up is the decisiveness a downstream filter
    // thresholds on. Scoring fuses into the scan; the per-prompt window
    // is map-side trimmed to 2 rows (WindowGroupLimit).
    "d_best_of_n" -> QueryDef(
      (s, d) => {
        val m1 = graft.operators.QualityClf.Model(
          Array.tabulate(64)(b => ((b.toLong * 37) % 21) - 10), 3L)
        graft.operators.Sft.bestOfN(
          t(s, d, "documents").select(expr("doc_id div 8").as("prompt_id"),
            col("doc_id").as("cand_id"), col("text")),
          "prompt_id", "cand_id", "text", m1)
          .orderBy("prompt_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '),
             |    t -> LENGTH(t) > 0) AS ws
             |  FROM documents),
             |f AS (
             |  SELECT doc_id,
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT) FOR c IN STRING_SPLIT(ws[i], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws) + 1)] ||
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT)
             |        FOR c IN STRING_SPLIT(ws[i] || ' ' || ws[i + 1], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws))] AS fb
             |  FROM w),
             |sc AS (SELECT doc_id // 8 AS prompt_id, doc_id AS cand_id,
             |    CAST(3 + COALESCE(LIST_SUM(
             |      [((b * 37) % 21) - 10 FOR b IN fb]), 0) AS BIGINT) AS s
             |  FROM f),
             |r AS (SELECT prompt_id, cand_id, s,
             |    ROW_NUMBER() OVER (PARTITION BY prompt_id
             |      ORDER BY s DESC, cand_id ASC) AS rnk,
             |    CAST(COUNT(*) OVER (PARTITION BY prompt_id) AS BIGINT)
             |      AS n_cands
             |  FROM sc)
             |SELECT prompt_id,
             |  MAX(CASE WHEN rnk = 1 THEN cand_id END) AS best_cand_id,
             |  MAX(CASE WHEN rnk = 1 THEN s END) AS best_score,
             |  COALESCE(MAX(CASE WHEN rnk = 2 THEN s END),
             |    MAX(CASE WHEN rnk = 1 THEN s END)) AS runner_up_score,
             |  MAX(CASE WHEN rnk = 1 THEN s END)
             |    - COALESCE(MAX(CASE WHEN rnk = 2 THEN s END),
             |        MAX(CASE WHEN rnk = 1 THEN s END)) AS margin,
             |  MAX(n_cands) AS n_cands
             |FROM r WHERE rnk <= 2 GROUP BY prompt_id
             |ORDER BY prompt_id""".stripMargin)),

    // ----- ANALYZE-style table profile -------------------------------------
    // Per-column row/null/distinct counts, lexical min/max of the string
    // form, mean string length — ONE aggregation pass, unpivoted with
    // stack. Exact NDV (the oracle-checkable mode; the 100 TB path flips
    // exactNdv=false for HLL and loses the Expand fan-out).
    "d_table_profile" -> QueryDef(
      (s, d) => graft.operators.Profile.tableProfile(t(s, d, "documents"))
        .orderBy("column_name"),
      Some {
        val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
        cols.map { c =>
          s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  MIN(CAST($c AS VARCHAR)) AS min_s,
             |  MAX(CAST($c AS VARCHAR)) AS max_s,
             |  CASE WHEN COUNT($c) > 0 THEN ROUND(
             |    CAST(SUM(LENGTH(CAST($c AS VARCHAR))) AS DOUBLE)
             |      / COUNT($c), 4) ELSE 0.0 END AS avg_len
             |FROM documents""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }),

    // ----- profile drift (stamped-profile comparison) -----------------------
    // The drift discipline applied to the profile family: the reference
    // slice (doc_id < 100) is the stamped profile, the batch is the rest
    // MUTATED to move the shape — lang nulled on src0 rows (null-rate
    // drift), source dropped (missing_column), lang_uc added
    // (new_column). Both engines profile both sides and replay the
    // identical ratio trees; nullable report columns project through
    // sentinels (the driver-compare rule).
    "d_profile_drift" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val ref = graft.operators.Profile.tableProfile(
          docs.filter(col("doc_id") < 100))
        val batch = graft.operators.Profile.tableProfile(
          docs.filter(col("doc_id") >= 100).select(col("doc_id"),
            when(col("source") === "src0", lit(null).cast("string"))
              .otherwise(col("lang")).as("lang"),
            col("n_chars"), col("text"), upper(col("lang")).as("lang_uc")))
        graft.operators.Profile.profileDrift(batch, ref,
            maxNullDelta = 0.05, maxNdvRatio = 2.0)
          .select(col("column_name"), col("status"),
            coalesce(col("null_rate_ref"), lit(-1d)).as("null_rate_ref"),
            coalesce(col("null_rate_batch"), lit(-1d))
              .as("null_rate_batch"),
            coalesce(col("null_delta"), lit(-1d)).as("null_delta"),
            coalesce(col("ndv_ref"), lit(-1L)).as("ndv_ref"),
            coalesce(col("ndv_batch"), lit(-1L)).as("ndv_batch"),
            coalesce(col("ndv_ratio"), lit(-1d)).as("ndv_ratio"),
            col("range_widened"), coalesce(col("len_ratio"), lit(-1d))
              .as("len_ratio"), col("drifted"))
          .orderBy("column_name")
      },
      Some {
        def prof(cols: Seq[String], from: String) = cols.map { c =>
          s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  MIN(CAST($c AS VARCHAR)) AS min_s,
             |  MAX(CAST($c AS VARCHAR)) AS max_s,
             |  CASE WHEN COUNT($c) > 0 THEN ROUND(
             |    CAST(SUM(LENGTH(CAST($c AS VARCHAR))) AS DOUBLE)
             |      / COUNT($c), 4) ELSE 0.0 END AS avg_len
             |FROM $from""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH bsrc AS (
           |  SELECT doc_id,
           |    CASE WHEN source = 'src0' THEN NULL ELSE lang END AS lang,
           |    n_chars, text, UPPER(lang) AS lang_uc
           |  FROM documents WHERE doc_id >= 100),
           |rsrc AS (SELECT * FROM documents WHERE doc_id < 100),
           |bp AS (
           |${prof(Seq("doc_id", "lang", "n_chars", "text", "lang_uc"),
              "bsrc")}),
           |rp AS (
           |${prof(Seq("doc_id", "lang", "n_chars", "source", "text"),
              "rsrc")}),
           |j AS (
           |  SELECT COALESCE(bp.column_name, rp.column_name)
           |      AS column_name,
           |    CASE WHEN rp.column_name IS NULL THEN 'new_column'
           |      WHEN bp.column_name IS NULL THEN 'missing_column'
           |      ELSE 'ok' END AS status,
           |    bp.n_rows AS rb, bp.n_null AS ub,
           |    bp.n_distinct AS ndv_batch, bp.min_s AS mnb,
           |    bp.max_s AS mxb, bp.avg_len AS lb,
           |    rp.n_rows AS rr, rp.n_null AS ur,
           |    rp.n_distinct AS ndv_ref, rp.min_s AS mnr,
           |    rp.max_s AS mxr, rp.avg_len AS lr
           |  FROM bp FULL OUTER JOIN rp USING (column_name)),
           |k AS (
           |  SELECT *,
           |    CASE WHEN rr > 0 THEN ROUND(CAST(ur AS DOUBLE) / rr, 4)
           |      ELSE 0.0 END AS nr,
           |    CASE WHEN rb > 0 THEN ROUND(CAST(ub AS DOUBLE) / rb, 4)
           |      ELSE 0.0 END AS nb
           |  FROM j),
           |m AS (
           |  SELECT *,
           |    CASE WHEN status = 'ok' AND rb > 0
           |      THEN ROUND(ABS(nb - nr), 4) END AS null_delta,
           |    CASE WHEN status = 'ok' AND ndv_batch IS NOT NULL
           |        AND ndv_ref IS NOT NULL AND ndv_ref > 0
           |        AND rb > 0 AND rr > 0
           |      THEN ROUND((CAST(ndv_batch AS DOUBLE)
           |          * CAST(rr AS DOUBLE))
           |        / (CAST(rb AS DOUBLE) * CAST(ndv_ref AS DOUBLE)), 6)
           |      END AS ndv_ratio
           |  FROM k)
           |SELECT column_name, status,
           |  CASE WHEN rr IS NOT NULL THEN nr ELSE -1.0 END
           |    AS null_rate_ref,
           |  CASE WHEN rb IS NOT NULL THEN nb ELSE -1.0 END
           |    AS null_rate_batch,
           |  COALESCE(null_delta, -1.0) AS null_delta,
           |  COALESCE(ndv_ref, -1) AS ndv_ref,
           |  COALESCE(ndv_batch, -1) AS ndv_batch,
           |  COALESCE(ndv_ratio, -1.0) AS ndv_ratio,
           |  status = 'ok' AND COALESCE(mnb < mnr OR mxb > mxr, FALSE)
           |    AS range_widened,
           |  CASE WHEN status = 'ok' AND lr > 0 AND rb > 0
           |    THEN ROUND(lb / lr, 4) ELSE -1.0 END AS len_ratio,
           |  (status <> 'ok' OR COALESCE(null_delta > 0.05, FALSE)
           |    OR COALESCE(ndv_ratio > 2.0 OR ndv_ratio * 2.0 < 1.0,
           |      FALSE)) AS drifted
           |FROM m ORDER BY column_name""".stripMargin
      }),

    // ----- higher moments (skewness / kurtosis), engine-exact --------------
    // The q_stats_corr discipline one order up: one-pass skewness() /
    // kurtosis() accumulate co-moments in float order (never hashable);
    // instead the four power sums accumulate as EXACT scale-0 decimals
    // (quantities are integral; (9,0)^4 stays under both engines' width
    // caps), then ONE identical double tree per group — pow() is avoided
    // (not correctly-rounded in either engine): sd^3 = var*sd, var^2 =
    // var*var, from an IEEE sqrt.
    "q_stats_moments" -> QueryDef(
      (s, d) => {
        val x = col("l_quantity").cast(DecimalType(9, 0))
        val agg = t(s, d, "lineitem").groupBy("l_returnflag")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(x).cast("double").as("s1"),
            sum(x * x).cast("double").as("s2"),
            sum(x * x * x).cast("double").as("s3"),
            sum(x * x * x * x).cast("double").as("s4"))
        val m = col("s1") / col("n")
        val vr = col("s2") / col("n") - m * m
        val sd = sqrt(vr)
        agg.select(col("l_returnflag"),
            round(((col("s3") / col("n")) - lit(3d) * m * (col("s2") / col("n"))
              + lit(2d) * m * m * m) / (vr * sd), 6).as("skew_q"),
            round(((col("s4") / col("n")) - lit(4d) * m * (col("s3") / col("n"))
              + lit(6d) * m * m * (col("s2") / col("n"))
              - lit(3d) * m * m * m * m) / (vr * vr) - lit(3d), 6)
              .as("kurt_q"))
          .orderBy("l_returnflag")
      },
      Some("""WITH a AS (
             |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,0))) AS DOUBLE) AS s1,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,0))
             |      * CAST(l_quantity AS DECIMAL(9,0))) AS DOUBLE) AS s2,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,0))
             |      * CAST(l_quantity AS DECIMAL(9,0))
             |      * CAST(l_quantity AS DECIMAL(9,0))) AS DOUBLE) AS s3,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,0))
             |      * CAST(l_quantity AS DECIMAL(9,0))
             |      * CAST(l_quantity AS DECIMAL(9,0))
             |      * CAST(l_quantity AS DECIMAL(9,0))) AS DOUBLE) AS s4
             |  FROM lineitem GROUP BY 1),
             |b AS (SELECT l_returnflag, n, s1, s2, s3, s4,
             |    s1 / n AS m, s2 / n - (s1 / n) * (s1 / n) AS vr,
             |    SQRT(s2 / n - (s1 / n) * (s1 / n)) AS sd
             |  FROM a)
             |SELECT l_returnflag,
             |  ROUND(((s3 / n) - 3 * m * (s2 / n) + 2 * m * m * m)
             |    / (vr * sd), 6) AS skew_q,
             |  ROUND(((s4 / n) - 4 * m * (s3 / n) + 6 * m * m * (s2 / n)
             |    - 3 * m * m * m * m) / (vr * vr) - 3, 6) AS kurt_q
             |FROM b ORDER BY l_returnflag""".stripMargin)),

    // ----- BM25 under FROZEN collection statistics -------------------------
    // The incremental-retrieval pattern: stats (df/n/avgdl) snapshot on
    // the doc_id%3==0 reference slice, every other doc scores under that
    // frozen snapshot — scores stay comparable across batches indexed
    // under one snapshot, and the oracle replays the full two-corpus
    // coupling. Unseen terms take the df=0 maximal-idf fallback.
    "d_bm25_incr" -> QueryDef(
      (s, d) => {
        val docs = tSpread(s, d, "documents")
        val stats = graft.operators.Relevance.bm25CollectionStats(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
        graft.operators.Relevance.bm25UnderStats(
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
          stats, query = Seq("join", "vector", "stream")).orderBy("id")
      },
      Some("""WITH ref AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws,
             |    LEN(STRING_SPLIT(text, ' ')) AS dl
             |  FROM documents WHERE doc_id % 3 = 0),
             |sc AS (SELECT COUNT(*) AS n,
             |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM ref),
             |dfq AS (SELECT term, COUNT(*) AS df FROM (
             |    SELECT DISTINCT doc_id, UNNEST(ws) AS term FROM ref)
             |  WHERE term IN ('join', 'vector', 'stream') GROUP BY 1),
             |batch AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws,
             |    LEN(STRING_SPLIT(text, ' ')) AS dl
             |  FROM documents WHERE doc_id % 3 <> 0),
             |hits AS (SELECT doc_id, dl, UNNEST(ws) AS term FROM batch),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
             |  FROM hits WHERE term IN ('join', 'vector', 'stream')
             |  GROUP BY 1, 2),
             |part AS (
             |  SELECT tf.doc_id,
             |    LN(1 + ((CAST(n - COALESCE(dfq.df, 0) AS DOUBLE) + 0.5)
             |      / (CAST(COALESCE(dfq.df, 0) AS DOUBLE) + 0.5)))
             |    * ((tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75)
             |      + 0.75 * (dl / avgdl)))) AS p
             |  FROM tf LEFT JOIN dfq USING (term) CROSS JOIN sc)
             |SELECT doc_id AS id,
             |  ROUND(CAST(SUM(CAST(p AS DECIMAL(30,9))) AS DOUBLE), 4) AS bm25
             |FROM part GROUP BY 1 ORDER BY id""".stripMargin)),

    // ----- frozen-stats staleness report -----------------------------------
    // The drift signal of the retrieval snapshot: the in-distribution
    // batch sits under both thresholds; the e->3 shifted batch floods
    // new terms and trips rebuild. Both regimes reach the hash compare
    // (the e_quantizer_drift two-row union).
    "d_bm25_drift" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val stats = graft.operators.Relevance.bm25CollectionStats(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
        def drift(batch: org.apache.spark.sql.DataFrame, label: String) =
          graft.operators.Relevance.bm25StatsDrift(batch, "doc_id", "text",
              stats, maxNewTermRate = 0.1, maxAvgdlShift = 0.2)
            .withColumn("batch", lit(label))
        drift(docs.filter(col("doc_id") % 3 =!= 0), "in_dist")
          .unionByName(drift(docs.filter(col("doc_id") % 3 =!= 0)
            .select(col("doc_id"),
              translate(col("text"), "e", "3").as("text")), "shifted"))
          .select("batch", "n_docs", "new_term_rate", "avgdl_batch",
            "avgdl_ref", "avgdl_ratio", "rebuild")
          .orderBy("batch")
      },
      Some {
        def side(label: String, tx: String) =
          s"""SELECT '$label' AS batch, n_docs, new_term_rate, avgdl_batch,
             |  avgdl_ref, avgdl_ratio,
             |  n_docs > 0 AND (new_term_rate > 0.1
             |    OR ABS(avgdl_ratio - 1) > 0.2) AS rebuild
             |FROM (
             |  SELECT d.n_docs,
             |    ROUND(CAST(t.occ_new AS DOUBLE) / GREATEST(t.occ, 1), 4)
             |      AS new_term_rate,
             |    ROUND(CAST(d.sumdl_b AS DOUBLE) / GREATEST(d.n_docs, 1), 4)
             |      AS avgdl_batch,
             |    ROUND(CAST(r.sumdl AS DOUBLE) / GREATEST(r.n, 1), 4)
             |      AS avgdl_ref,
             |    CASE WHEN d.n_docs > 0 THEN ROUND(
             |      (CAST(d.sumdl_b AS DOUBLE) / GREATEST(d.n_docs, 1))
             |      / (CAST(r.sumdl AS DOUBLE) / GREATEST(r.n, 1)), 4)
             |      ELSE 1.0 END AS avgdl_ratio
             |  FROM (
             |    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |      CAST(COALESCE(SUM(LEN(STRING_SPLIT($tx, ' '))), 0)
             |        AS BIGINT) AS sumdl_b
             |    FROM documents WHERE doc_id % 3 <> 0) d
             |  CROSS JOIN (
             |    SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS occ,
             |      CAST(COALESCE(SUM(CASE WHEN seen IS NULL THEN c
             |        ELSE 0 END), 0) AS BIGINT) AS occ_new
             |    FROM (
             |      SELECT term, COUNT(*) AS c FROM (
             |        SELECT UNNEST(STRING_SPLIT($tx, ' ')) AS term
             |        FROM documents WHERE doc_id % 3 <> 0)
             |      WHERE LENGTH(term) > 0 GROUP BY 1) tc
             |    LEFT JOIN (
             |      SELECT DISTINCT term, 1 AS seen FROM (
             |        SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' '))
             |          AS term
             |        FROM documents WHERE doc_id % 3 = 0)
             |      WHERE LENGTH(term) > 0) st USING (term)) t
             |  CROSS JOIN (
             |    SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |      CAST(COALESCE(SUM(LEN(STRING_SPLIT(text, ' '))), 0)
             |        AS BIGINT) AS sumdl
             |    FROM documents WHERE doc_id % 3 = 0) r)""".stripMargin
        s"""SELECT * FROM (
           |${side("in_dist", "text")}
           |UNION ALL
           |${side("shifted", "REPLACE(text, 'e', '3')")})
           |ORDER BY batch""".stripMargin
      }),

    // ----- group-relative advantage (GRPO normalization) -------------------
    // Each candidate's integer reward centered/scaled within its prompt
    // group: exact long group moments, one double tree per row.
    // Zero-variance groups emit adv 0, never NaN.
    "d_group_advantage" -> QueryDef(
      (s, d) => {
        val m1 = graft.operators.QualityClf.Model(
          Array.tabulate(64)(b => ((b.toLong * 37) % 21) - 10), 3L)
        graft.operators.Sft.groupAdvantage(
          t(s, d, "documents").select(expr("doc_id div 8").as("prompt_id"),
            col("doc_id").as("cand_id"), col("text")),
          "prompt_id", "cand_id", "text", m1)
          .orderBy("prompt_id", "cand_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '),
             |    t -> LENGTH(t) > 0) AS ws
             |  FROM documents),
             |f AS (
             |  SELECT doc_id,
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT) FOR c IN STRING_SPLIT(ws[i], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws) + 1)] ||
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT)
             |        FOR c IN STRING_SPLIT(ws[i] || ' ' || ws[i + 1], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws))] AS fb
             |  FROM w),
             |sc AS (SELECT doc_id // 8 AS prompt_id, doc_id AS cand_id,
             |    CAST(3 + COALESCE(LIST_SUM(
             |      [((b * 37) % 21) - 10 FOR b IN fb]), 0) AS BIGINT) AS s
             |  FROM f),
             |g AS (SELECT prompt_id, cand_id, s,
             |    CAST(COUNT(*) OVER (PARTITION BY prompt_id) AS BIGINT) AS n,
             |    CAST(SUM(s) OVER (PARTITION BY prompt_id) AS BIGINT) AS s1,
             |    CAST(SUM(s * s) OVER (PARTITION BY prompt_id) AS BIGINT)
             |      AS s2
             |  FROM sc),
             |v AS (SELECT *, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m
             |  FROM g),
             |v2 AS (SELECT *,
             |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - m * m AS vr
             |  FROM v)
             |SELECT prompt_id, cand_id, s AS score, n AS group_n,
             |  ROUND(m, 4) AS group_mean,
             |  CASE WHEN vr > 0
             |    THEN ROUND((CAST(s AS DOUBLE) - m) / SQRT(vr), 6)
             |    ELSE 0.0 END AS advantage
             |FROM v2 ORDER BY prompt_id, cand_id""".stripMargin)),

    // ----- cohort retention (the product-analytics matrix) -----------------
    // Users cohort by first-active day; each (cohort, day) cell counts
    // the cohort's users active that day, retention = exact count ratio
    // rounded once. Two partial-agg'd exchanges (per-user min, per-cell
    // distinct) + a broadcast-back of cohort sizes; day strings sort
    // chronologically by construction.
    "d_cohort_retention" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        graft.operators.Behavioral.cohortRetention(
            graft.operators.Behavioral.activityPairs(ev, col("user_id"),
              tsCol(ev)))
          .orderBy("cohort", "period")
      },
      Some("""WITH e AS (
             |  SELECT DISTINCT user_id,
             |    STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS p
             |  FROM events),
             |first AS (SELECT user_id, MIN(p) AS cohort FROM e GROUP BY 1),
             |sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT)
             |    AS cohort_size
             |  FROM first GROUP BY 1),
             |cells AS (
             |  SELECT f.cohort, e.p, CAST(COUNT(*) AS BIGINT) AS n_active
             |  FROM e JOIN first f USING (user_id) GROUP BY 1, 2)
             |SELECT cohort, p AS period, n_active, cohort_size,
             |  ROUND(CAST(n_active AS DOUBLE) / cohort_size, 4) AS retention
             |FROM cells JOIN sizes USING (cohort)
             |ORDER BY cohort, period""".stripMargin)),

    // ----- sequential funnel (ordered-stage conversion) ---------------------
    // view -> click-after-view -> purchase-after-that-click per user:
    // each stage's timestamp is the MIN event time AFTER the prior
    // stage's — a sequence-pattern query windows can't express and a
    // self-join shouldn't (one conditional-min aggregate per user
    // computes stage 1; stages 2..k are per-user min-filters against the
    // prior stage, all partial-agg'd on the user key). Timestamps
    // compare at exact microseconds (EventTime dispatch); the report
    // rolls conversion ratios up from exact counts.
    "d_funnel" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        val st = graft.operators.Behavioral.funnelFold(None, ev,
          col("user_id"), col("event_type"), tsCol(ev),
          Seq("view", "click", "purchase"))
        graft.operators.Behavioral.funnelReport(st,
          Seq("view", "click", "purchase"))
      },
      Some("""WITH s1 AS (
             |  SELECT user_id, MIN(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (
             |  SELECT e.user_id, MIN(e.ts) AS t2
             |  FROM events e JOIN s1 USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
             |s3 AS (
             |  SELECT e.user_id, MIN(e.ts) AS t3
             |  FROM events e JOIN s2 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
             |c AS (SELECT
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_view,
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_click,
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_purchase)
             |SELECT n_view, n_click, n_purchase,
             |  ROUND(CAST(n_click AS DOUBLE) / GREATEST(n_view, 1), 4)
             |    AS view_to_click,
             |  ROUND(CAST(n_purchase AS DOUBLE) / GREATEST(n_click, 1), 4)
             |    AS click_to_purchase,
             |  ROUND(CAST(n_purchase AS DOUBLE) / GREATEST(n_view, 1), 4)
             |    AS full_funnel
             |FROM c""".stripMargin)),

    // ----- cross-batch cohort retention (activity-matrix fold) --------------
    // The incremental shape: batch 1's distinct (user, period) pairs are
    // the persisted activity matrix, batch 2 folds in via anti-join
    // (replayed pairs append nothing), and the report recomputes from
    // the matrix alone — O(users·days) state, never the events. Split by
    // event_id so the same (user, period) cell ARRIVES in both batches
    // and the dedup actually fires; the oracle replays the fold
    // structure, not just the batch-equivalent answer.
    "d_cohort_retention_incr" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        val b1 = ev.filter(col("event_id") < 500L)
        val b2 = ev.filter(col("event_id") >= 500L)
        val h1 = graft.operators.Behavioral.activityPairs(b1,
          col("user_id"), tsCol(b1))
        val folded = h1.unionByName(graft.operators.Behavioral
          .activityFold(h1, b2, col("user_id"), tsCol(b2)))
        graft.operators.Behavioral.cohortRetention(folded)
          .orderBy("cohort", "period")
      },
      Some("""WITH p1 AS (
             |  SELECT DISTINCT user_id,
             |    STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS period
             |  FROM events WHERE event_id < 500),
             |p2 AS (
             |  SELECT DISTINCT user_id,
             |    STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS period
             |  FROM events WHERE event_id >= 500),
             |folded AS (
             |  SELECT * FROM p1
             |  UNION ALL
             |  SELECT * FROM p2
             |  WHERE NOT EXISTS (SELECT 1 FROM p1
             |    WHERE p1.user_id = p2.user_id AND p1.period = p2.period)),
             |first AS (SELECT user_id, MIN(period) AS cohort
             |  FROM folded GROUP BY 1),
             |sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT)
             |    AS cohort_size
             |  FROM first GROUP BY 1),
             |cells AS (
             |  SELECT f.cohort, a.period, CAST(COUNT(*) AS BIGINT)
             |    AS n_active
             |  FROM folded a JOIN first f USING (user_id) GROUP BY 1, 2)
             |SELECT cohort, period, n_active, cohort_size,
             |  ROUND(CAST(n_active AS DOUBLE) / cohort_size, 4)
             |    AS retention
             |FROM cells JOIN sizes USING (cohort)
             |ORDER BY cohort, period""".stripMargin)),

    // ----- retention curve (offset-pooled triangle) --------------------------
    // cohortRetention's triangle collapsed to one row per day offset:
    // exact counts pool across the cohorts OLD ENOUGH to have reached
    // the offset (capacity from each cohort's age against the newest
    // observed period; all-churned offsets still report retention 0) —
    // never an average of per-cohort ratios, which would sum doubles in
    // engine-dependent order.
    "d_cohort_curve" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        graft.operators.Behavioral.retentionByOffset(
            graft.operators.Behavioral.activityPairs(ev, col("user_id"),
              tsCol(ev)))
          .orderBy("day_offset")
      },
      Some("""WITH act AS (
             |  SELECT DISTINCT user_id,
             |    STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS period
             |  FROM events),
             |first AS (SELECT user_id, MIN(period) AS cohort
             |  FROM act GROUP BY 1),
             |sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT)
             |    AS cohort_size
             |  FROM first GROUP BY 1),
             |cells AS (
             |  SELECT DATE_DIFF('day', CAST(f.cohort AS DATE),
             |      CAST(a.period AS DATE)) AS day_offset,
             |    CAST(COUNT(*) AS BIGINT) AS n_active
             |  FROM act a JOIN first f USING (user_id)
             |  GROUP BY f.cohort, a.period),
             |active AS (SELECT day_offset,
             |    CAST(SUM(n_active) AS BIGINT) AS n_active
             |  FROM cells GROUP BY 1),
             |horizon AS (SELECT MAX(period) AS maxp FROM act),
             |capacity AS (
             |  SELECT day_offset, CAST(COUNT(*) AS BIGINT) AS n_cohorts,
             |    CAST(SUM(cohort_size) AS BIGINT) AS n_capacity
             |  FROM (
             |    SELECT s.cohort_size, UNNEST(RANGE(0,
             |      DATE_DIFF('day', CAST(s.cohort AS DATE),
             |        CAST(h.maxp AS DATE)) + 1)) AS day_offset
             |    FROM sizes s CROSS JOIN horizon h)
             |  GROUP BY 1)
             |SELECT CAST(c.day_offset AS INT) AS day_offset, c.n_cohorts,
             |  COALESCE(a.n_active, 0) AS n_active, c.n_capacity,
             |  ROUND(CAST(COALESCE(a.n_active, 0) AS DOUBLE)
             |    / c.n_capacity, 4) AS retention
             |FROM capacity c LEFT JOIN active a USING (day_offset)
             |ORDER BY day_offset""".stripMargin)),

    // ----- windowed funnel (per-step conversion deadline) --------------------
    // d_funnel with a 5-day step budget: stage i must land within
    // INTERVAL 5 DAYS of t_{i-1} (half-open low, closed high). Interval
    // arithmetic is exact micros in both engines; the fold's
    // no-tombstone law (expired windows stay NULL under time-ordered
    // batches) is suite-pinned in BehavioralSuite.
    "d_funnel_window" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        val stages = Seq("view", "click", "purchase")
        val st = graft.operators.Behavioral.funnelFold(None, ev,
          col("user_id"), col("event_type"), tsCol(ev), stages,
          maxGap = Some(expr("INTERVAL 5 DAYS")))
        graft.operators.Behavioral.funnelReport(st, stages)
      },
      Some("""WITH s1 AS (
             |  SELECT user_id, MIN(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (
             |  SELECT e.user_id, MIN(e.ts) AS t2
             |  FROM events e JOIN s1 USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > s1.t1
             |    AND e.ts <= s1.t1 + INTERVAL 5 DAY GROUP BY 1),
             |s3 AS (
             |  SELECT e.user_id, MIN(e.ts) AS t3
             |  FROM events e JOIN s2 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             |    AND e.ts <= s2.t2 + INTERVAL 5 DAY GROUP BY 1),
             |c AS (SELECT
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_view,
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_click,
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_purchase)
             |SELECT n_view, n_click, n_purchase,
             |  ROUND(CAST(n_click AS DOUBLE) / GREATEST(n_view, 1), 4)
             |    AS view_to_click,
             |  ROUND(CAST(n_purchase AS DOUBLE) / GREATEST(n_click, 1), 4)
             |    AS click_to_purchase,
             |  ROUND(CAST(n_purchase AS DOUBLE) / GREATEST(n_view, 1), 4)
             |    AS full_funnel
             |FROM c""".stripMargin)),

    // ----- cross-batch sequential funnel (per-user stage-state fold) --------
    // Batch 1 builds the (user, t1..t3, max_ts) stage state, batch 2
    // folds in under the event-time-ordered contract (split on the day
    // string so every batch-2 event is newer), the report reads state
    // alone. The oracle replays BOTH folds: stage i's batch-2 candidate
    // is the min stage-i event strictly after the ALREADY-FOLDED
    // t_{i-1}, then coalesces under batch 1's decision — closed stages
    // never re-open.
    "d_funnel_incr" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        val day = date_format(date_trunc("day", tsCol(ev)), "yyyy-MM-dd")
        val stages = Seq("view", "click", "purchase")
        val st1 = graft.operators.Behavioral.funnelFold(None,
          ev.filter(day < "2024-01-15"), col("user_id"),
          col("event_type"), tsCol(ev), stages)
        val st2 = graft.operators.Behavioral.funnelFold(Some(st1),
          ev.filter(day >= "2024-01-15"), col("user_id"),
          col("event_type"), tsCol(ev), stages)
        graft.operators.Behavioral.funnelReport(st2, stages)
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, ts FROM events
             |  WHERE event_type IN ('view', 'click', 'purchase')),
             |b1 AS (SELECT * FROM e
             |  WHERE STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d')
             |    < '2024-01-15'),
             |b2 AS (SELECT * FROM e
             |  WHERE STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d')
             |    >= '2024-01-15'),
             |au AS (SELECT DISTINCT user_id FROM e),
             |s1a AS (SELECT user_id, MIN(ts) AS t1 FROM b1
             |  WHERE event_type = 'view' GROUP BY 1),
             |s2a AS (SELECT b.user_id, MIN(b.ts) AS t2
             |  FROM b1 b JOIN s1a USING (user_id)
             |  WHERE b.event_type = 'click' AND b.ts > s1a.t1 GROUP BY 1),
             |s3a AS (SELECT b.user_id, MIN(b.ts) AS t3
             |  FROM b1 b JOIN s2a USING (user_id)
             |  WHERE b.event_type = 'purchase' AND b.ts > s2a.t2
             |  GROUP BY 1),
             |v2 AS (SELECT user_id, MIN(ts) AS mv FROM b2
             |  WHERE event_type = 'view' GROUP BY 1),
             |t1f AS (SELECT au.user_id, COALESCE(s1a.t1, v2.mv) AS t1
             |  FROM au LEFT JOIN s1a USING (user_id)
             |  LEFT JOIN v2 USING (user_id)),
             |c2 AS (SELECT b.user_id, MIN(b.ts) AS mc
             |  FROM b2 b JOIN t1f USING (user_id)
             |  WHERE b.event_type = 'click' AND b.ts > t1f.t1 GROUP BY 1),
             |t2f AS (SELECT au.user_id, COALESCE(s2a.t2, c2.mc) AS t2
             |  FROM au LEFT JOIN s2a USING (user_id)
             |  LEFT JOIN c2 USING (user_id)),
             |p2 AS (SELECT b.user_id, MIN(b.ts) AS mp
             |  FROM b2 b JOIN t2f USING (user_id)
             |  WHERE b.event_type = 'purchase' AND b.ts > t2f.t2
             |  GROUP BY 1),
             |t3f AS (SELECT au.user_id, COALESCE(s3a.t3, p2.mp) AS t3
             |  FROM au LEFT JOIN s3a USING (user_id)
             |  LEFT JOIN p2 USING (user_id)),
             |c AS (SELECT
             |    (SELECT CAST(COUNT(t1) AS BIGINT) FROM t1f) AS n_view,
             |    (SELECT CAST(COUNT(t2) AS BIGINT) FROM t2f) AS n_click,
             |    (SELECT CAST(COUNT(t3) AS BIGINT) FROM t3f)
             |      AS n_purchase)
             |SELECT n_view, n_click, n_purchase,
             |  ROUND(CAST(n_click AS DOUBLE) / GREATEST(n_view, 1), 4)
             |    AS view_to_click,
             |  ROUND(CAST(n_purchase AS DOUBLE) / GREATEST(n_click, 1), 4)
             |    AS click_to_purchase,
             |  ROUND(CAST(n_purchase AS DOUBLE) / GREATEST(n_view, 1), 4)
             |    AS full_funnel
             |FROM c""".stripMargin)),

    // ----- SCD Type-2 dimension build from the change stream ---------------
    // Every version becomes a validity interval [valid_from, valid_to)
    // with is_current on the open one; deletes close the interval they
    // carry and emit no row. The lead window runs over ALL changes
    // (deletes included) BEFORE the delete filter — both sides mirror
    // that order. valid_to projects through a -1 sentinel (driver
    // compare: a NULL bigint would land as float64 in pandas and
    // hash-mismatch Spark's int64).
    "d_scd2" -> QueryDef(
      (s, d) => {
        val changes = t(s, d, "events")
          .select(col("user_id"), col("event_id"),
            round(col("value"), 2).as("value"), col("event_type"))
        graft.Cdc.scd2(changes, Seq("user_id"), col("event_id"),
            Some(when(col("event_type") === "error", "delete")
              .otherwise("upsert")))
          .select(col("user_id"), col("event_id"), col("value"),
            col("valid_from"), coalesce(col("valid_to"), lit(-1L))
              .as("valid_to"), col("is_current"))
          .orderBy("user_id", "valid_from")
      },
      Some("""SELECT user_id, event_id, value, valid_from,
             |  COALESCE(valid_to, -1) AS valid_to, valid_to IS NULL AS is_current
             |FROM (
             |  SELECT user_id, event_id, ROUND(value, 2) AS value, event_type,
             |    event_id AS valid_from,
             |    LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
             |      AS valid_to
             |  FROM events)
             |WHERE event_type <> 'error'
             |ORDER BY user_id, valid_from""".stripMargin)),

    // ----- incremental SCD Type-2 (two-batch merge replay) ------------------
    // The warehouse shape: batch 1 builds the dimension, batch 2 MERGES —
    // untouched keys carry forward byte-identical, touched keys' open
    // intervals close at their first batch-2 version, and only the
    // touched chains re-window (the d_cluster_prune_incr coupling
    // discipline, applied to intervals). The oracle replays the merge
    // STRUCTURE — dim1, anti/semi splits, the open+batch rebuild — not
    // just the batch-equivalent result, so the incremental path itself is
    // what hash-checks. Versions are event_ids (already per-key ordered
    // across the split), deletes ride event_type='error'.
    "d_scd2_incr" -> QueryDef(
      (s, d) => {
        val ch = t(s, d, "events").select(col("user_id"),
          round(col("value"), 2).as("value"),
          when(col("event_type") === "error", "delete").as("kind"),
          col("event_id").as("v"))
        val b1 = ch.filter(col("v") < 500L)
        val b2 = ch.filter(col("v") >= 500L)
        val dim1 = graft.Cdc.scd2(b1, Seq("user_id"), col("v"),
            Some(col("kind")))
          .select("user_id", "value", "valid_from", "valid_to",
            "is_current")
        graft.Cdc.scd2Merge(dim1, b2, Seq("user_id"), "v", Some("kind"))
          .select(col("user_id"), col("value"), col("valid_from"),
            coalesce(col("valid_to"), lit(-1L)).as("valid_to"),
            col("is_current"))
          .orderBy("user_id", "valid_from")
      },
      Some("""WITH ch AS (
             |  SELECT user_id, ROUND(value, 2) AS value,
             |    CASE WHEN event_type = 'error' THEN 'delete' END AS kind,
             |    event_id AS v
             |  FROM events),
             |b1 AS (SELECT * FROM ch WHERE v < 500),
             |b2 AS (SELECT * FROM ch WHERE v >= 500),
             |dim1 AS (
             |  SELECT user_id, value, valid_from, valid_to FROM (
             |    SELECT user_id, value, kind, v AS valid_from,
             |      LEAD(v) OVER (PARTITION BY user_id ORDER BY v)
             |        AS valid_to
             |    FROM b1)
             |  WHERE kind IS DISTINCT FROM 'delete'),
             |touched AS (SELECT DISTINCT user_id FROM b2),
             |untouched AS (
             |  SELECT * FROM dim1 d
             |  WHERE NOT EXISTS (SELECT 1 FROM touched t
             |    WHERE t.user_id = d.user_id)),
             |closed_t AS (
             |  SELECT * FROM dim1 d
             |  WHERE EXISTS (SELECT 1 FROM touched t
             |    WHERE t.user_id = d.user_id)
             |  AND d.valid_to IS NOT NULL),
             |open_as_ch AS (
             |  SELECT user_id, value, CAST(NULL AS VARCHAR) AS kind,
             |    valid_from AS v
             |  FROM dim1 d
             |  WHERE EXISTS (SELECT 1 FROM touched t
             |    WHERE t.user_id = d.user_id)
             |  AND d.valid_to IS NULL),
             |chain AS (
             |  SELECT * FROM open_as_ch UNION ALL
             |  SELECT user_id, value, kind, v FROM b2),
             |rebuilt AS (
             |  SELECT user_id, value, valid_from, valid_to FROM (
             |    SELECT user_id, value, kind, v AS valid_from,
             |      LEAD(v) OVER (PARTITION BY user_id ORDER BY v)
             |        AS valid_to
             |    FROM chain)
             |  WHERE kind IS DISTINCT FROM 'delete'),
             |merged AS (
             |  SELECT * FROM untouched UNION ALL
             |  SELECT * FROM closed_t UNION ALL
             |  SELECT * FROM rebuilt)
             |SELECT user_id, value, valid_from,
             |  COALESCE(valid_to, -1) AS valid_to,
             |  valid_to IS NULL AS is_current
             |FROM merged ORDER BY user_id, valid_from""".stripMargin)),

    // ----- SCD2 point-in-time lookup (the consumer side) --------------------
    // Facts (the event_id >= 500 slice) look up the dimension version
    // valid AT their event_id against the SCD2 table built from the
    // earlier slice: one equi-join on the key with the half-open
    // interval predicates as residuals. Facts whose key was deleted,
    // never existed, or whose chain starts later keep their row with
    // NULL dim columns (left join; -1/-99 sentinels for the driver
    // compare). Boundary facts (at == valid_from) see the NEW row.
    "d_scd2_lookup" -> QueryDef(
      (s, d) => {
        val ch = t(s, d, "events").select(col("user_id"),
          round(col("value"), 2).as("dim_value"),
          when(col("event_type") === "error", "delete").as("kind"),
          col("event_id").as("v"))
        val dim = graft.Cdc.scd2(ch.filter(col("v") < 500L),
            Seq("user_id"), col("v"), Some(col("kind")))
          .select("user_id", "dim_value", "valid_from", "valid_to",
            "is_current")
        val facts = t(s, d, "events").filter(col("event_id") >= 500L)
          .select(col("event_id"), col("user_id"))
        graft.Cdc.scd2Lookup(facts, dim, Seq("user_id"), "event_id")
          .select(col("event_id"), col("user_id"),
            coalesce(col("dim_value"), lit(-99d)).as("dim_value"),
            coalesce(col("valid_from"), lit(-1L)).as("valid_from"),
            coalesce(col("valid_to"), lit(-1L)).as("valid_to"),
            coalesce(col("is_current"), lit(false)).as("is_current"))
          .orderBy("event_id")
      },
      Some("""WITH ch AS (
             |  SELECT user_id, ROUND(value, 2) AS dim_value,
             |    CASE WHEN event_type = 'error' THEN 'delete' END AS kind,
             |    event_id AS v
             |  FROM events WHERE event_id < 500),
             |dim AS (
             |  SELECT user_id, dim_value, valid_from, valid_to,
             |    valid_to IS NULL AS is_current
             |  FROM (
             |    SELECT user_id, dim_value, kind, v AS valid_from,
             |      LEAD(v) OVER (PARTITION BY user_id ORDER BY v)
             |        AS valid_to
             |    FROM ch)
             |  WHERE kind IS DISTINCT FROM 'delete'),
             |facts AS (
             |  SELECT event_id, user_id FROM events
             |  WHERE event_id >= 500)
             |SELECT f.event_id, f.user_id,
             |  COALESCE(d.dim_value, -99) AS dim_value,
             |  COALESCE(d.valid_from, -1) AS valid_from,
             |  COALESCE(d.valid_to, -1) AS valid_to,
             |  COALESCE(d.is_current, FALSE) AS is_current
             |FROM facts f LEFT JOIN dim d
             |  ON f.user_id = d.user_id
             |  AND f.event_id >= d.valid_from
             |  AND (d.valid_to IS NULL OR f.event_id < d.valid_to)
             |ORDER BY event_id""".stripMargin)),

    // ----- authority scoring (fixed-iteration integer PageRank) ------------
    // Supplier->customer edges from the order graph; 3 all-integer
    // iterations in 1e-9 units, so the oracle unrolls them as CTEs and
    // reproduces every floor division bit-for-bit.
    "d_page_rank" -> QueryDef(
      (s, d) => {
        val edges = t(s, d, "lineitem")
          .join(t(s, d, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey").as("src"), col("o_custkey").as("dst"))
          .distinct()
        graft.operators.Curation.pageRank(edges, "src", "dst",
            iterations = 3)
          .orderBy("node")
      },
      Some {
        def iter(prev: String, out: String) =
          s"""c$out AS (
             |  SELECT e.dst AS node,
             |    CAST(SUM($prev.r9 // od.outdeg) AS BIGINT) AS in9
             |  FROM e JOIN $prev ON e.src = $prev.node
             |  JOIN od ON e.src = od.src GROUP BY 1),
             |$out AS (
             |  SELECT nodes.node,
             |    (15 * (CAST(1000000000 AS BIGINT) // n) // 100)
             |      + (85 * COALESCE(c$out.in9, 0) // 100) AS r9
             |  FROM nodes CROSS JOIN nn
             |  LEFT JOIN c$out ON c$out.node = nodes.node)""".stripMargin
        s"""WITH e AS (
           |  SELECT DISTINCT l_suppkey AS src, o_custkey AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |nodes AS (SELECT DISTINCT node FROM (
           |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
           |od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
           |  FROM e GROUP BY 1),
           |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) // n AS r9
           |  FROM nodes, nn),
           |${iter("r0", "r1")},
           |${iter("r1", "r2")},
           |${iter("r2", "r3")}
           |SELECT node, CAST(r9 AS BIGINT) AS r9,
           |  ROUND(CAST(r9 AS DOUBLE) / 1000000000, 6) AS rank
           |FROM r3 ORDER BY node""".stripMargin
      }),

    // ----- warm-start (delta-edge) PageRank ---------------------------------
    // The incremental shape: stage 1 ranks the o_orderkey < 3000
    // subgraph from uniform, stage 2 ranks the FULL graph seeded from
    // stage 1's answer — known nodes keep their converged rank, new
    // nodes take the teleport share under the grown node count. All
    // integer floor arithmetic, so the oracle unrolls BOTH stages as
    // CTE chains (2 iterations each) and replays every division
    // bit-for-bit, init splice included.
    "d_page_rank_incr" -> QueryDef(
      (s, d) => {
        def edgesOf(filtered: DataFrame) = filtered
          .select(col("l_suppkey").as("src"), col("o_custkey").as("dst"))
          .distinct()
        val joined = t(s, d, "lineitem").join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        val prior = graft.operators.Curation.pageRank(
          edgesOf(joined.filter(col("o_orderkey") < 3000L)),
          "src", "dst", iterations = 2)
        graft.operators.Curation.pageRankWarm(edgesOf(joined),
            "src", "dst", prior, iterations = 2)
          .orderBy("node")
      },
      Some {
        def iter(e: String, od: String, nn: String, ns: String,
            prev: String, out: String) =
          s"""c$out AS (
             |  SELECT $e.dst AS node,
             |    CAST(SUM($prev.r9 // $od.outdeg) AS BIGINT) AS in9
             |  FROM $e JOIN $prev ON $e.src = $prev.node
             |  JOIN $od ON $e.src = $od.src GROUP BY 1),
             |$out AS (
             |  SELECT $ns.node,
             |    (15 * (CAST(1000000000 AS BIGINT) // n) // 100)
             |      + (85 * COALESCE(c$out.in9, 0) // 100) AS r9
             |  FROM $ns CROSS JOIN $nn
             |  LEFT JOIN c$out ON c$out.node = $ns.node)""".stripMargin
        s"""WITH ej AS (
           |  SELECT o_orderkey, l_suppkey AS src, o_custkey AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |e1 AS (SELECT DISTINCT src, dst FROM ej
           |  WHERE o_orderkey < 3000),
           |n1 AS (SELECT DISTINCT node FROM (
           |  SELECT src AS node FROM e1 UNION ALL SELECT dst FROM e1)),
           |m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM n1),
           |d1 AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
           |  FROM e1 GROUP BY 1),
           |a0 AS (SELECT node, CAST(1000000000 AS BIGINT) // n AS r9
           |  FROM n1, m1),
           |${iter("e1", "d1", "m1", "n1", "a0", "a1")},
           |${iter("e1", "d1", "m1", "n1", "a1", "a2")},
           |e2 AS (SELECT DISTINCT src, dst FROM ej),
           |n2 AS (SELECT DISTINCT node FROM (
           |  SELECT src AS node FROM e2 UNION ALL SELECT dst FROM e2)),
           |m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM n2),
           |d2 AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
           |  FROM e2 GROUP BY 1),
           |b0 AS (SELECT n2.node,
           |    COALESCE(a2.r9, CAST(1000000000 AS BIGINT) // n) AS r9
           |  FROM n2 CROSS JOIN m2 LEFT JOIN a2 ON a2.node = n2.node),
           |${iter("e2", "d2", "m2", "n2", "b0", "b1")},
           |${iter("e2", "d2", "m2", "n2", "b1", "b2")}
           |SELECT node, CAST(r9 AS BIGINT) AS r9,
           |  ROUND(CAST(r9 AS DOUBLE) / 1000000000, 6) AS rank
           |FROM b2 ORDER BY node""".stripMargin
      }),

    // ----- expectation-suite validation (data-quality gates) ---------------
    // Declarative per-batch rules validated in ONE aggregation pass and
    // unpivoted to one row per rule; three rules pass and three fail BY
    // CONSTRUCTION (n_chars tops out at 553, 'zh' is outside the set,
    // src10+ break the single-digit regex) so both branches of `pass`
    // reach the hash compare.
    "d_expectations" -> QueryDef(
      (s, d) => graft.operators.Profile.validateExpectations(
        t(s, d, "documents"), Seq(
          graft.operators.Profile.ExpectNotNull("text"),
          graft.operators.Profile.ExpectUnique("doc_id"),
          graft.operators.Profile.ExpectMin("n_chars", 0L),
          graft.operators.Profile.ExpectMax("n_chars", 500L),
          graft.operators.Profile.ExpectInSet("lang",
            Seq("en", "fr", "es", "de")),
          graft.operators.Profile.ExpectRegex("source", "^src[0-9]$")))
        .orderBy("expectation", "column_name"),
      Some("""SELECT *, n_violations = 0 AS pass FROM (
             |  SELECT 'not_null' AS expectation, 'text' AS column_name,
             |    CAST(COUNT(*) AS BIGINT) AS n_checked,
             |    CAST(COALESCE(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
             |      0) AS BIGINT) AS n_violations
             |  FROM documents
             |  UNION ALL
             |  SELECT 'unique', 'doc_id', CAST(COUNT(doc_id) AS BIGINT),
             |    CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT)
             |  FROM documents
             |  UNION ALL
             |  SELECT 'min_0', 'n_chars', CAST(COUNT(n_chars) AS BIGINT),
             |    CAST(COALESCE(SUM(CASE WHEN n_chars < 0 THEN 1 ELSE 0 END),
             |      0) AS BIGINT)
             |  FROM documents
             |  UNION ALL
             |  SELECT 'max_500', 'n_chars', CAST(COUNT(n_chars) AS BIGINT),
             |    CAST(COALESCE(SUM(CASE WHEN n_chars > 500 THEN 1 ELSE 0 END),
             |      0) AS BIGINT)
             |  FROM documents
             |  UNION ALL
             |  SELECT 'in_set', 'lang', CAST(COUNT(lang) AS BIGINT),
             |    CAST(COALESCE(SUM(CASE WHEN lang IS NOT NULL
             |      AND lang NOT IN ('en', 'fr', 'es', 'de') THEN 1 ELSE 0 END),
             |      0) AS BIGINT)
             |  FROM documents
             |  UNION ALL
             |  SELECT 'regex', 'source', CAST(COUNT(source) AS BIGINT),
             |    CAST(COALESCE(SUM(CASE WHEN source IS NOT NULL
             |      AND NOT regexp_matches(source, '^src[0-9]$')
             |      THEN 1 ELSE 0 END), 0) AS BIGINT)
             |  FROM documents)
             |ORDER BY expectation, column_name""".stripMargin)),

    // ----- gate evaluation (precision/recall/F1 vs ground truth) -----------
    // The numbers a deployed gate ships with beside kappa: the planted
    // scorer's keep flag against a deterministic truth rule, exact
    // confusion counts in one fused-scan aggregate, one double tree per
    // ratio (F1 = 2tp/(2tp+fp+fn), one division).
    "d_clf_eval" -> QueryDef(
      (s, d) => {
        val m1 = graft.operators.QualityClf.Model(
          Array.tabulate(64)(b => ((b.toLong * 37) % 21) - 10), 3L)
        graft.operators.Curation.gateEval(t(s, d, "documents"),
          col("doc_id") % 3 === 0,
          graft.operators.QualityClf.scoreCol(col("text"), m1) > 0)
      },
      Some("""WITH w AS (
             |  SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '),
             |    t -> LENGTH(t) > 0) AS ws
             |  FROM documents),
             |f AS (
             |  SELECT doc_id,
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT) FOR c IN STRING_SPLIT(ws[i], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws) + 1)] ||
             |    [LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
             |       [CAST(ascii(c) AS BIGINT)
             |        FOR c IN STRING_SPLIT(ws[i] || ' ' || ws[i + 1], '')]),
             |       (h, cp) -> (h * 31 + cp) % 64)
             |     FOR i IN RANGE(1, LEN(ws))] AS fb
             |  FROM w),
             |s AS (SELECT doc_id % 3 = 0 AS t,
             |    (3 + COALESCE(LIST_SUM(
             |      [((b * 37) % 21) - 10 FOR b IN fb]), 0)) > 0 AS p
             |  FROM f),
             |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(COALESCE(SUM(CASE WHEN t AND p THEN 1 END), 0)
             |      AS BIGINT) AS tp,
             |    CAST(COALESCE(SUM(CASE WHEN NOT t AND p THEN 1 END), 0)
             |      AS BIGINT) AS fp,
             |    CAST(COALESCE(SUM(CASE WHEN t AND NOT p THEN 1 END), 0)
             |      AS BIGINT) AS fn,
             |    CAST(COALESCE(SUM(CASE WHEN NOT t AND NOT p THEN 1 END), 0)
             |      AS BIGINT) AS tn
             |  FROM s)
             |SELECT n, tp, fp, fn, tn,
             |  CASE WHEN tp + fp > 0
             |    THEN ROUND(CAST(tp AS DOUBLE) / (tp + fp), 4)
             |    ELSE 0.0 END AS precision,
             |  CASE WHEN tp + fn > 0
             |    THEN ROUND(CAST(tp AS DOUBLE) / (tp + fn), 4)
             |    ELSE 0.0 END AS recall,
             |  CASE WHEN 2 * tp + fp + fn > 0
             |    THEN ROUND(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 4)
             |    ELSE 0.0 END AS f1,
             |  CASE WHEN n > 0
             |    THEN ROUND(CAST(tp + tn AS DOUBLE) / n, 4)
             |    ELSE 0.0 END AS accuracy
             |FROM c""".stripMargin)),

    // ----- correlated LATERAL subquery (per-group top-N via decorrelation) -
    // The SQL surface the window-rank queries reach through the DataFrame
    // API: a correlated LATERAL with ORDER BY + LIMIT — per region, its
    // first 3 nations by name. Catalyst decorrelates into the same
    // ranked-window shape; DuckDB runs the lateral natively.
    "q_lateral" -> QueryDef(
      (s, d) => {
        t(s, d, "region").createOrReplaceTempView("region_v")
        t(s, d, "nation").createOrReplaceTempView("nation_v")
        s.sql("""SELECT r.r_name, t.n_name
                |FROM region_v r JOIN LATERAL (
                |  SELECT n_name FROM nation_v
                |  WHERE n_regionkey = r.r_regionkey
                |  ORDER BY n_name LIMIT 3) t
                |ORDER BY r_name, n_name""".stripMargin)
      },
      Some("""SELECT r.r_name, t.n_name
             |FROM region r JOIN LATERAL (
             |  SELECT n_name FROM nation
             |  WHERE n_regionkey = r.r_regionkey
             |  ORDER BY n_name LIMIT 3) t ON TRUE
             |ORDER BY r_name, n_name""".stripMargin))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (k, v) => k -> v.build }

  def oracleSql: Map[String, String] =
    defs.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }
}
