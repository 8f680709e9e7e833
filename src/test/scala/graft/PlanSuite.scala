package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Physical-plan shape gates — the 100 TB design claims, pinned as tests
  * instead of doc prose: pushdown reaches the scan, projections prune the
  * read schema, dimension joins broadcast, aggregations combine map-side,
  * and the one-shuffle operators really cost one exchange. A refactor that
  * silently regresses a plan (a lost filter pushdown, a broadcast that
  * became a sort-merge join, a second exchange in a dedup) fails here long
  * before any benchmark notices.
  */
class PlanSuite extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private def available = new java.io.File(s"$sfDir/lineitem.parquet").exists()

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Final adaptive plan — AQE only materializes codegen spans (the
    * `*(n)` markers) and its re-planned exchanges once THIS query
    * execution has run (count() would build a different one). Only the
    * "Final Plan" section is returned, not the initial-plan echo. */
  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def hasCodegen(plan: String): Boolean =
    """\*\(\d+\)""".r.findFirstIn(plan).isDefined

  test("filter and projection push down to the parquet scan") {
    assume(available)
    val plan = planOf(Queries.defs("q_filter_project").build(spark, sfDir))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters:\n${plan.take(1500)}")
    assert(plan.contains("GreaterThan(l_quantity"),
      "the range predicate must reach the scan, not evaluate post-read")
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipmode"),
      s"projection pruning lost — scan reads unneeded columns: $readSchema")
  }

  test("dimension joins broadcast instead of shuffling the fact table") {
    assume(available)
    val plan = planOf(Queries.defs("q_region_revenue").build(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"nation/region must broadcast-join:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastExchange"))
  }

  test("aggregations combine map-side before the shuffle") {
    assume(available)
    val plan = planOf(Queries.defs("q_agg_pricing").build(spark, sfDir))
    assert(plan.contains("partial_"),
      s"no partial aggregation — every row would shuffle:\n${plan.take(1500)}")
  }

  test("exact dedup costs exactly one exchange") {
    assume(available)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(Dedup.exact(docs, Seq("text"), "doc_id"))
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size === 1,
      s"exact dedup must shuffle once on the dedup key:\n$plan")
  }

  test("LSH band rows shuffle once; signature scan has no exchange below it") {
    assume(available)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text")
    val plan = finalPlanOf(pairs)
    // the corpus-wide signature pass feeds the bucket aggregation through
    // ONE hash exchange on (band, key); only candidate verification joins
    // may add more — so the whole near-dup plan stays within a small,
    // fixed exchange budget instead of growing with corpus size
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
    assert(exchanges <= 5, s"unexpected exchange growth ($exchanges):\n$plan")
    assert(hasCodegen(plan), "signature computation must stay inside codegen")
  }

  test("pair stages stream one codegen'd bucket_pairs Generate: no pair-array explode, no lambda") {
    assume(available)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // 64 distinct signatures: dense buckets, so AQE keeps the pair stage
    val sigs = docs.select(col("doc_id"), (col("doc_id") % 64).as("sh"))
    for ((name, df) <- Seq(
        "minhashLshPairs" -> Dedup.minhashLshPairs(docs, "doc_id", "text"),
        "hash64Pairs" -> Dedup.hash64Pairs(sigs, "doc_id", "sh"),
        "winnowingPairs" -> Dedup.winnowingPairs(docs, "doc_id", "text"))) {
      val plan = finalPlanOf(df)
      val generates = "Generate bucket_pairs".r.findAllMatchIn(plan).size
      val inCodegen = """\*\(\d+\) Generate bucket_pairs""".r.findAllMatchIn(plan).size
      assert(generates == 1 && inCodegen == 1,
        s"$name: want one bucket_pairs Generate inside whole-stage codegen:\n$plan")
      for (gone <- Seq("flatten(", "lambdafunction", "long_id_pairs", "hash64_hamming_pairs"))
        assert(!plan.contains(gone), s"$name: plan contains $gone:\n$plan")
    }
  }

  test("token chunking is map-only: zero exchanges, stays in codegen") {
    assume(available)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.operators.TextQuality.chunkTokens(
      docs, "doc_id", "text", window = 16, overlap = 4))
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle:\n${plan.take(1200)}")
    assert(hasCodegen(plan), "chunking must stay inside codegen")
  }

  test("exact ngram-Jaccard plans equi-joins only, never a cartesian") {
    assume(available)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = finalPlanOf(Dedup.charNgramJaccardExactPairs(
      docs, "doc_id", "text", n = 12, threshold = 0.8))
    // AllPairs: prefix self-join on the gram hash, positional-filter
    // aggregation, then a candidate-pair verify join — all equi-joins; an
    // all-pairs comparison (cartesian/nested-loop) must never appear
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"exact ngram-Jaccard must never plan an all-pairs join:\n${plan.take(1500)}")
  }

  test("exact ngram-Jaccard document frequency is a partial agg, never a gram window") {
    assume(available)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = finalPlanOf(Dedup.charNgramJaccardExactPairs(
      docs, "doc_id", "text", n = 12, threshold = 0.8))
    // a count window partitioned on the gram hash pins every occurrence
    // of one hot gram into a single task — no map-side combine, and AQE
    // cannot split a window partition; df must come from groupBy(gh) +
    // join-back so a template gram present in 10⁸ documents collapses
    // map-side and the join-back stays skew-splittable
    assert(!plan.contains("windowspecdefinition(gh#"),
      s"document frequency must not be a window over the gram hash:\n${plan.take(1500)}")
    assert("""HashAggregate\(keys=\[gh#\d+L?\], functions=\[partial_count""".r
      .findFirstIn(plan).isDefined,
      s"document frequency must partially aggregate on the gram hash:\n${plan.take(1500)}")
    // the df aggregation and the join-back share ONE exchange of the
    // exploded hashes (repartition(gh) upstream of both consumers): the
    // string-heaviest subtree — charNgramsDistinct + hash + explode —
    // must materialize once, not once per consumer (measured 9.2 -> 5.9 s
    // at sf0.1). Under AQE the second consumer reads the reused stage.
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage") ||
      """Exchange hashpartitioning\(gh#\d+L?""".r.findAllIn(plan).size == 1,
      s"the exploded-hash exchange must be shared between df agg and join-back:\n${plan.take(3000)}")
  }

  test("tokenization family is map-only: the corpus never shuffles") {
    assume(available)
    import graft.operators.Curation
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val vocab = Curation.buildWordVocab(docs, "text", 16)
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.length
    }
    // id mapping: vocab rides as a codegen reference object — zero exchanges
    assert(exchanges(Curation.tokenizeToIds(docs, "doc_id", "text", vocab)) === 0)
    // FIM reorder over the tokenized frame: still zero
    val ids = Curation.tokenizeToIds(docs, "doc_id", "text", vocab)
    assert(exchanges(ids.select(
      Curation.fimReorder(col("ids"), lit(1), lit(2),
        col("n_tokens") >= 3))) === 0)
    // vocab drift: one global aggregate above the map pass, nothing keyed
    val drift = Curation.vocabDrift(docs, "doc_id", "text", vocab, 0.2, 0.2)
    drift.collect()
    val keyed = drift.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if !e.outputPartitioning.toString.contains("SinglePartition") => e
    }
    assert(keyed.isEmpty,
      s"vocab drift must not shuffle the batch on any key:\n${drift.queryExecution.executedPlan.toString.take(2000)}")
    // importance resample: map-only — acceptance is a pure row function
    assert(exchanges(Curation.importanceResample(
      docs.withColumn("log_w", (col("doc_id") % 13 - 6) * lit(0.5)),
      "doc_id", "log_w", -3.0, 3.5, 0.5)) === 0)
  }

  test("fuzzy join shares one gram exchange and verifies without join-backs") {
    assume(available)
    val keyed = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), substring(col("text"), 1, 32).as("k"))
    val plan = finalPlanOf(graft.operators.FuzzyJoin.editDistanceJoin(
      keyed, "doc_id", "k", maxDist = 2, q = 3))
    // the gram explosion must materialize ONCE: its repartition(g) feeds
    // both the df aggregation and the ranking join as a reused stage
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage") ||
      """Exchange hashpartitioning\(g#\d+""".r.findAllIn(plan).size == 1,
      s"the gram exchange must be shared between df agg and ranking join:\n${plan.take(3000)}")
    // key strings ride the prefix rows through the self-join; a verify
    // join-back would show as a SINGLE-id-keyed exchange (the pair-dedup
    // exchange legitimately carries both ids plus both strings)
    assert(!"""Exchange hashpartitioning\(id_[ab]#\d+L?, \d+\)""".r
      .findFirstIn(plan).isDefined,
      s"verification must not join the key table back by id:\n${plan.take(3000)}")
  }

  test("gram candidate stages hash in place — no transform+xxhash64 regression") {
    assume(available)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // the fused expressions removed the per-gram string materialization
    // from the corpus-wide candidate passes (ngram-jaccard 7.6 -> 4.7 s,
    // contamination ~4.9 -> 2.3 s, span family ~2 -> ~1 s isolated
    // sf0.1); a refactor that reverts to transform(char_ngrams, xxhash64)
    // or the CHAINED two-seed struct (the r11 64-bit-key bug) changes
    // these plan strings
    val ngram = finalPlanOf(Dedup.charNgramJaccardExactPairs(
      docs, "doc_id", "text", n = 12, threshold = 0.8))
    assert(ngram.contains("char_ngram_hashes"),
      s"ngram-jaccard candidates must use the in-place hash expression:\n${ngram.take(1200)}")
    val contamination = finalPlanOf(Dedup.ngramContamination(
      docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
      docs.filter(col("doc_id") % 20 === 0), "doc_id", "text",
      n = 12, minShared = 32))
    assert(contamination.contains("char_ngram_hashes"),
      s"contamination candidates must use the in-place hash expression:\n${contamination.take(1200)}")
    val spans = finalPlanOf(graft.operators.SpanDedup.spans(
      docs, "doc_id", "text", n = 10))
    assert(spans.contains("word_gram_hashes"),
      s"span grams must use the independent-seed fused expression:\n${spans.take(1200)}")
    assert(!spans.contains("concat_ws"),
      "span gram strings must not materialize in the plan")
  }

  test("span dedup owners are a partial agg; no window over the gram key") {
    assume(available)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // structural gate on the pre-execution plan: AQE's final-plan print
    // collapses already-materialized stages to bare QueryStage nodes, so
    // the owners subtree is only visible before execution
    val plan = planOf(graft.operators.SpanDedup.spans(
      docs, "doc_id", "text", n = 10))
    // canonical-occurrence selection must collapse a corpus-wide hot gram
    // map-side (groupBy(gh).agg(min, count)) and reach marking through an
    // AQE-skew-splittable join-back; a window partitioned on the gram key
    // would pin every occurrence of one hot gram into a single task
    assert(!plan.contains("windowspecdefinition(gh#"),
      s"no window may partition on the gram key:\n${plan.take(1500)}")
    // the packed owner key (doc_id * 2^32 + pos) is a plain long, so the
    // owners stage must be a HASH aggregate with a partial mode — the
    // min(struct) formulation planned as SortAggregate (struct buffers
    // aren't hash-mutable), paying a per-partition sort for nothing
    assert("""HashAggregate\(keys?=\[gh#\d+\], functions=\[partial_min""".r
      .findFirstIn(plan).isDefined,
      s"owners must hash-partial-aggregate on the gram key:\n${plan.take(1500)}")
    assert(!plan.contains("SortAggregate"),
      s"no sort-based aggregate may remain in the span plan:\n${plan.take(1500)}")
    // the only windows are the per-document interval merge
    val windowParts = """windowspecdefinition\((\w+)#""".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(windowParts.subsetOf(Set("doc_id")),
      s"unexpected window partition keys $windowParts:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "span dedup must never plan a nested-loop/cartesian join")
  }

  test("incremental span/minhash history operators keep the batch plan shapes") {
    assume(available)
    import org.apache.spark.sql.functions.{col, lit}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // a synthetic one-batch history with the persisted schemas
    val gramHist = graft.operators.SpanDedup.ownerIndex(
      docs.filter(col("doc_id") < 100), "doc_id", "text", n = 10)
    val spanPlan = planOf(graft.operators.SpanDedup.spansWithHistory(
      docs.filter(col("doc_id") >= 100), gramHist, "doc_id", "text", n = 10))
    // same guarantees as the batch variant: no window may partition on
    // the gram key (both the batch and HISTORY aggregations must stay
    // partial-agg + join-back), no all-pairs joins, hash aggregation
    assert(!spanPlan.contains("windowspecdefinition(h1#") &&
      !spanPlan.contains("windowspecdefinition(gh#"),
      s"no window may partition on the gram key:\n${spanPlan.take(1500)}")
    assert(!spanPlan.contains("SortAggregate"),
      s"owner/history aggregation must stay hash-based:\n${spanPlan.take(1500)}")
    assert(!spanPlan.contains("CartesianProduct") &&
      !spanPlan.contains("BroadcastNestedLoopJoin"),
      "incremental span dedup must never plan an all-pairs join")
    val sigHist = graft.operators.Dedup.minhashIndex(
      docs.filter(col("doc_id") < 100), "doc_id", "text")
    val mhPlan = planOf(graft.operators.Dedup.minhashAgainstHistory(
      docs.filter(col("doc_id") >= 100), sigHist, "doc_id", "text"))
    assert(!mhPlan.contains("CartesianProduct") &&
      !mhPlan.contains("BroadcastNestedLoopJoin"),
      "signature-history near-dup must never plan an all-pairs join")
    // the bucket-cap window shares the (band, key) bucket domain — the
    // only window allowed; nothing may window over a doc-global key
    val windowParts = """windowspecdefinition\((\w+)#""".r
      .findAllMatchIn(mhPlan).map(_.group(1)).toSet
    assert(windowParts.subsetOf(Set("band", "key")),
      s"unexpected window partition keys $windowParts:\n${mhPlan.take(1500)}")
    // the semantic history probe: same discipline — quantizer assignment
    // is a literal argmax (no explode before the cap), the only window
    // partitions on the cluster bucket, and nothing goes all-pairs
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val model = graft.operators.Similarity.trainIvfCentroids(
      emb.filter(col("vec_id") < 100), "vec_id", "embedding", nlist = 4,
      iterations = 1)
    val semHist = graft.operators.Dedup.semDedupIndex(
      emb.filter(col("vec_id") < 100), "vec_id", "embedding", model)
    val semPlan = planOf(graft.operators.Dedup.semDedupAgainstHistory(
      emb.filter(col("vec_id") >= 100), semHist, "vec_id", "embedding",
      threshold = 0.9, quantizer = model))
    assert(!semPlan.contains("CartesianProduct") &&
      !semPlan.contains("BroadcastNestedLoopJoin"),
      s"embedding-history near-dup must never plan an all-pairs join:\n${semPlan.take(1500)}")
    val semWindowParts = """windowspecdefinition\((\w+)#""".r
      .findAllMatchIn(semPlan).map(_.group(1)).toSet
    assert(semWindowParts.subsetOf(Set("bucket")),
      s"unexpected window partition keys $semWindowParts:\n${semPlan.take(1500)}")
    assert(!semPlan.contains("Generate"),
      s"quantizer assignment must not explode the corpus:\n${semPlan.take(1500)}")
  }

  test("semdedup assignment is a map-side argmax; pairing never goes cartesian") {
    assume(available)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = planOf(graft.operators.Dedup.semDedupPairs(
      emb, "vec_id", "embedding", threshold = 0.9, nlist = 8, iterations = 1))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"semdedup must never plan an all-pairs join:\n${plan.take(1500)}")
    // cluster assignment is a literal-model argmax — the corpus must not
    // explode over centroids (one Generate is expected AFTER the bounded
    // bucket aggregation, none before it)
    val genIdx = plan.indexOf("Generate")
    val aggIdx = plan.indexOf("ObjectHashAggregate")
    assert(genIdx >= 0 && aggIdx >= 0,
      s"expected the bounded-bucket explode and aggregation:\n${plan.take(1500)}")
    // plans print top-down, so executing AFTER the agg = printed ABOVE it
    assert(genIdx < aggIdx,
      s"corpus exploded before the bucket aggregation:\n${plan.take(1500)}")
  }

  test("sequence packing never plans a corpus-wide (partition-less) window") {
    assume(available)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.operators.Packing.packAssignments(
      docs, "doc_id", "text", budget = 128))
    // the global prefix sum must be the two-pass bucket scan — a window
    // whose spec starts with an ORDER BY (no partition columns) would
    // funnel the whole corpus into one task
    assert(!"""windowspecdefinition\(\w+#\d+L? ASC""".r.findFirstIn(plan).isDefined,
      s"partition-less window in the packing plan:\n${plan.take(1500)}")
    // the running sum partitions on the quantile bucket id
    assert(plan.contains("windowspecdefinition(pid#"),
      s"expected the per-bucket running-sum window:\n${plan.take(1500)}")
  }

  test("asof join costs one hash exchange, not a range self-join") {
    assume(available)
    import org.apache.spark.sql.functions.col
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val left = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val right = ev.filter(col("event_type") === "click")
      .select("user_id", "ts", "value")
    val plan = finalPlanOf(graft.operators.AsofJoin.asofJoin(
      left, right, Seq("user_id"), "ts", "ts", rightCols = Seq("value")))
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size <= 2,
      s"asof join must be union+window, not a join explosion:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "asof join must never plan a nested-loop/cartesian join")
  }

  test("interval join is a single equi-join with the range as condition") {
    assume(available)
    val plan = finalPlanOf(Queries.defs("q_interval_join").build(spark, sfDir))
    // the 7-day bound must ride the o_custkey equi-join as a post-join
    // condition — ONE join keyed on the customer, never a nested-loop or
    // cartesian range join (which would be O(n^2) at scale); pins the r6
    // bench swing so a plan regression can't pass as run variance
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"interval join must never plan a nested-loop/cartesian join:\n${plan.take(1500)}")
    val joins = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
      .findAllMatchIn(plan).size
    assert(joins === 1, s"interval join must be exactly one equi-join:\n${plan.take(1500)}")
  }

  test("pii redaction, mixture sampling, and gopher rules are map-only passes") {
    assume(available)
    // all end in an orderBy for oracle determinism (one range exchange);
    // the scrub/filter/score itself must be exchange-free streaming work
    for (q <- Seq("d_pii_redact", "d_sample_mix", "d_gopher_rules")) {
      val plan = finalPlanOf(Queries.defs(q).build(spark, sfDir))
      val hashExchanges = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      assert(hashExchanges === 0, s"$q must not shuffle:\n${plan.take(1200)}")
      assert(hasCodegen(plan), s"$q must stay inside codegen")
    }
  }

  test("tfidf top-k windows per doc, combines map-side, and never goes cartesian") {
    assume(available)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = finalPlanOf(graft.operators.Relevance.tfIdfTopTerms(
      docs, "doc_id", "text", k = 5))
    // tf must combine map-side before its (doc, term) shuffle, the top-k
    // window must partition on the doc id (a partition-less window funnels
    // the corpus into one task), and no stage may plan an all-pairs join
    assert(plan.contains("partial_count"),
      s"tf must partial-aggregate before the shuffle:\n${plan.take(1500)}")
    // Zipf-skew gate: raw token occurrences must NEVER shuffle keyed by
    // the term alone (a hot term would land whole in one task that no
    // AQE rule can split) — every term-keyed exchange must sit above an
    // aggregate, i.e. no REPARTITION_BY_COL anywhere in the plan
    assert(!plan.contains("REPARTITION_BY_COL"),
      s"raw-occurrence repartition by term is Zipf-fatal:\n${plan.take(2000)}")
    assert(!"""windowspecdefinition\(\w+#\d+L? ASC""".r.findFirstIn(plan).isDefined,
      s"partition-less window in the tfidf plan:\n${plan.take(1500)}")
    assert(plan.contains("windowspecdefinition(id#"),
      s"expected the per-doc top-k window:\n${plan.take(1500)}")
    // the ONLY nested-loop join allowed is the 1-row scalar N attach
    // (crossJoin of a grouping-less aggregate); anything else is a blow-up
    assert(!plan.contains("CartesianProduct"),
      "tfidf must never plan a cartesian join")
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(plan).size <= 1,
      s"unexpected nested-loop joins beyond the scalar N attach:\n${plan.take(2000)}")
    // distinct-exchange budget (reused stages share a plan_id): tf's
    // fine-grained (id,term) exchange — REUSED by the df branch, so the
    // corpus scan+explode materializes once —, df's partial-agg'd term
    // exchange, the join's tf-side term exchange (AQE-skew-splittable),
    // and the per-doc top-k window. A 5th distinct exchange means the
    // reuse broke and the corpus is being scanned twice.
    val exIds = """Exchange (?:hash|range)partitioning[^\]]*\[plan_id=(\d+)\]""".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exIds.size <= 4,
      s"tfidf exchange budget exceeded (${exIds.size}):\n${plan.take(3000)}")
  }

  test("bm25 prunes to query-term hits before any exchange") {
    assume(available)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.operators.Relevance.bm25(
      docs, "doc_id", "text", query = Seq("join", "vector", "stream"))
    val plan = finalPlanOf(df)
    // the term isin filter prunes the exploded token stream map-side, so
    // only query-term hits ever shuffle: (id,term) tf, per-term df, and
    // the final per-doc sum — a bounded exchange budget, with the
    // |query|-row df relation broadcast, never shuffled into a join
    assert(plan.contains("INSET") || plan.contains(" IN ("),
      s"query-term pruning lost:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-term df must broadcast-join:\n${plan.take(1500)}")
    // count DISTINCT exchanges — AQE prints a reused shuffle stage as a
    // second full subtree with the SAME plan_id, so raw text occurrences
    // overcount: tf's fine-grained (id,term,dl) exchange (reused by the
    // df branch — one corpus scan), df's term exchange over tf partials,
    // and the final per-doc sum = 3. No raw-occurrence term repartition
    // (Zipf-fatal; see the tfidf test).
    val exIds = """Exchange hashpartitioning[^\]]*\[plan_id=(\d+)\]""".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exIds.size <= 3,
      s"bm25 exchange budget exceeded (${exIds.size}):\n${plan.take(3000)}")
    assert(!plan.contains("REPARTITION_BY_COL"),
      s"raw-occurrence repartition by term is Zipf-fatal:\n${plan.take(2000)}")
  }

  test("stratified sample plans a WindowGroupLimit: map-side top-k per stratum") {
    assume(available)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = finalPlanOf(graft.operators.Curation.stratifiedSample(
      docs, "doc_id", "lang", k = 40))
    // without the group-limit pushdown every stratum funnels WHOLE into
    // one window task (Zipf-fatal for a hot language); with it each map
    // task pre-trims to its own k before the shuffle
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter must push down as a group limit:\n${plan.take(1500)}")
    assert("WindowGroupLimit".r.findAllMatchIn(plan).size >= 2,
      "expected BOTH the partial (map-side) and final group limits")
  }

  test("split-leakage audit: test-side gram index broadcasts, train side joins broadcast-only") {
    assume(available)
    val plan = finalPlanOf(Queries.defs("d_split_leakage").build(spark, sfDir))
    // the composition inherits contaminationAgainstIndex's shape: the
    // test split's gram index rides broadcast on BOTH passes (hash probe
    // + string verify) and the train corpus never shuffles for the
    // candidate join — only the per-(train,test) counts aggregate
    assert(plan.contains("BroadcastHashJoin"),
      s"the gram index must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the train corpus must never sort-merge against the index:\n${plan.take(1500)}")
    assert(plan.contains("char_ngram_hashes"),
      "the train-side candidate probe must hash grams in place")
  }

  test("line dedup: df combines map-side, no corpus-wide window, anti-join probes the hot set") {
    assume(available)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("text", concat_ws("\n", col("text"),
        lit("BANNER"), col("text")))
    val plan = finalPlanOf(graft.operators.Curation.removeBoilerplateLines(
      docs, "doc_id", "text", minDf = 100))
    // a corpus-wide banner must ship one PARTIAL count per map
    // partition, never its occurrences
    assert(plan.contains("partial_count"),
      s"line df must combine map-side:\n${plan.take(1500)}")
    // no window anywhere: ownership/df never funnel through a
    // partition-less (or line-keyed) window buffer
    assert(!plan.contains("Window"),
      s"the boilerplate pass must not plan a window:\n${plan.take(1500)}")
  }

  test("token stats run in one codegen pass with no hash exchange") {
    assume(available)
    val plan = finalPlanOf(Queries.defs("d_token_count").build(spark, sfDir))
    // d_token_count ends in an orderBy (a range exchange, there for the
    // oracle's determinism); the feature extraction itself must be
    // exchange-free map-side work
    val hashExchanges = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
    assert(hashExchanges === 0, s"per-document features must not shuffle:\n$plan")
    assert(hasCodegen(plan))
  }

  test("the input-table schema cache re-infers a table rewritten in-process") {
    withTmpDir { dir =>
      import spark.implicits._
      Seq((1L, "a")).toDF("k", "s").write.parquet(s"$dir/tbl.parquet")
      assert(Queries.t(spark, dir, "tbl").columns.toSeq === Seq("k", "s"))
      // same path, new schema: a stale cached schema would read the new
      // file's columns as all-null k and s
      Seq((2, 3.5)).toDF("n", "x").write.mode("overwrite").parquet(s"$dir/tbl.parquet")
      val df = Queries.t(spark, dir, "tbl")
      assert(df.columns.toSeq === Seq("n", "x"))
      assert(df.collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq === Seq((2, 3.5)))
    }
  }
}
