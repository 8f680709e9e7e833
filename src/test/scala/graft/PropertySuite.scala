package graft

import graft.sources.{FileSourceOptions, FileStreamCheckpoint}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Property-based invariants (SURVEY §5.2): widening lattice laws, CDC
  * merge composition, planner exactly-once coverage. */
class PropertySuite extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampling harness over scalacheck Gen (the
    * scalatest-scalacheck bridge isn't on the classpath). */
  private def forAllSampled[T](gen: Gen[T], n: Int = 30)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private val latticeTypes: Gen[DataType] = Gen.oneOf(
    ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType,
    BooleanType, StringType)

  test("widening lattice: commutative, idempotent, absorbing on strings") {
    val se = new SchemaEvolution(SchemaPolicy.TypeWiden)
    forAllSampled(Gen.zip(latticeTypes, latticeTypes), 50) { case (a, b) =>
      val ab = try Some(se.widen(a, b)) catch { case _: Exception => None }
      val ba = try Some(se.widen(b, a)) catch { case _: Exception => None }
      assert(ab === ba)
      ab.foreach { w =>
        assert(se.widen(w, w) === w)
        // widening is monotone: widening with the result is a no-op
        assert(se.widen(w, a) === w || a == BooleanType)
      }
    }
  }

  test("CDC merge composition: applying two batches sequentially equals applying their union") {
    val changeGen = for {
      key <- Gen.choose(1L, 6L)
      value <- Gen.choose(0L, 100L)
      kind <- Gen.oneOf("insert", "update_postimage", "delete")
    } yield (key, value, kind)

    forAllSampled(Gen.listOfN(12, changeGen), 10) { changes =>
      if (changes.nonEmpty) {
        // assign strictly increasing versions to fix the order
        val versioned = changes.zipWithIndex.map { case ((k, v, t), i) =>
          (k, v, t, i.toLong)
        }
        val (first, second) = versioned.splitAt(versioned.size / 2)
        def df(rows: Seq[(Long, Long, String, Long)]) =
          rows.toDF("id", "value", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
        val allAtOnce = Cdc.applyCdc(df(versioned), None, Seq("id"))
        val sequential = Cdc.applyCdc(df(second),
          if (first.isEmpty) None else Some(Cdc.applyCdc(df(first), None, Seq("id"))),
          Seq("id"))
        val a = allAtOnce.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
        val b = sequential.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(a.toSeq === b.toSeq)
      }
    }
  }

  test("planner covers every file exactly once across batches") {
    forAllSampled(Gen.zip(Gen.choose(1, 12), Gen.choose(1, 4)), 8) { case (nFiles, maxPer) =>
      withTmpDir { tmp =>
        val in = s"$tmp/in"
        Files.createDirectories(Paths.get(in))
        val names = (0 until nFiles).map(i => f"f$i%03d.txt")
        names.foreach { n =>
          Files.write(Paths.get(in, n), "x".getBytes, StandardOpenOption.CREATE)
        }
        val ckpt = new FileStreamCheckpoint(s"$tmp/cp", new Configuration())
        val opts = FileSourceOptions(maxFilesPerTrigger = Some(maxPer))
        val planned = Iterator.continually(ckpt.planBatch(in, opts))
          .takeWhile(_.isDefined).map(_.get)
          .map { b => ckpt.commitBatch(b, Map.empty, opts); b.paths }
          .toSeq
        val all = planned.flatten.map(p => Paths.get(p).getFileName.toString)
        assert(all.sorted === names.sorted, "every file exactly once")
        assert(planned.forall(_.size <= maxPer), "cap respected")
      }
    }
  }

  test("delta tailing covers every dataChange add exactly once across batches") {
    import graft.core.BatchInfo
    import graft.sources.{DeltaSourceOptions, DeltaStartOffset, DeltaTableCheckpoint}
    import graft.util.Jsons
    // one commit: the sizes of its adds and of its cdc files — both empty
    // is a metadata-only commit
    val sizes = (n: Int) => Gen.listOfN(n, Gen.choose(0L, 4L))
    val commitGen = Gen.zip(Gen.choose(0, 3).flatMap(sizes),
      Gen.frequency(2 -> Gen.const(Nil), 1 -> Gen.choose(1, 2).flatMap(sizes)))
    val capsGen = Gen.zip(Gen.option(Gen.choose(1, 3)), Gen.option(Gen.choose(1L, 6L)))
    forAllSampled(Gen.zip(Gen.choose(1, 6).flatMap(Gen.listOfN(_, commitGen)), capsGen,
        Gen.oneOf(false, true)), 16) { case (commits, (maxFiles, maxBytes), cdf) =>
      withTmpDir { tmp =>
        val table = s"$tmp/table"
        val logDir = Paths.get(table, "_delta_log")
        Files.createDirectories(logDir)
        commits.zipWithIndex.foreach { case ((adds, cdcs), v) =>
          val lines = Seq(s"""{"commitInfo": {"timestamp": ${v * 10}}}""") ++
            (if (v == 0) Seq("""{"metaData": {"id": "t"}}""") else Nil) ++
            adds.zipWithIndex.map { case (n, i) =>
              s"""{"add": {"path": "f$v-$i.parquet", "size": $n, "dataChange": true}}""" } ++
            cdcs.zipWithIndex.map { case (n, i) =>
              s"""{"cdc": {"path": "c$v-$i.parquet", "size": $n, "dataChange": false}}""" }
          Files.write(logDir.resolve(f"$v%020d.json"),
            lines.mkString("\n").getBytes, StandardOpenOption.CREATE)
        }
        def name(p: String) = Paths.get(p).getFileName.toString
        // (path, kind, version); a plain batch's entries are all adds, each
        // file stamped with its commit's timestamp (10 x version here)
        def entries(b: BatchInfo): Seq[(String, String, Long)] =
          Jsons.optField(b.offset, "cdf_entries").map(arr => Jsons.elems(arr).map(e =>
            (name(e.get("path").asText()), e.get("kind").asText(), e.get("version").asLong()))
            .toSeq).getOrElse(b.files.map(f => (name(f.path), "insert", f.mtimeMs / 10)))
        def plan(cp: String, opts: DeltaSourceOptions): Seq[BatchInfo] = {
          val ckpt = new DeltaTableCheckpoint(s"$tmp/$cp", new Configuration())
          Iterator.continually(ckpt.planBatch(table, opts))
            .takeWhile(_.isDefined).map(_.get)
            .map { b => ckpt.commitBatch(b, Map.empty); b }
            .toSeq
        }
        val opts = DeltaSourceOptions(startOffset = DeltaStartOffset.Earliest,
          readChangeFeed = cdf)
        val whole = plan("whole", opts)
        val capped = plan("capped",
          opts.copy(maxFilesPerTrigger = maxFiles, maxBytesPerTrigger = maxBytes))
        // uncapped: one batch of every dataChange add — under the change
        // feed a commit's cdc files stand in for its adds
        val expected = commits.zipWithIndex.flatMap { case ((adds, cdcs), v) =>
          if (cdf && cdcs.nonEmpty) cdcs.indices.map(i => (s"c$v-$i.parquet", "cdc", v.toLong))
          else adds.indices.map(i => (s"f$v-$i.parquet", "insert", v.toLong))
        }
        assert(whole.flatMap(entries) === expected)
        assert(whole.size <= 1)
        assert(capped.flatMap(entries) === expected, "capped batches concatenate to the plan")
        // the caps hold except for a batch's first entry, always admitted
        capped.foreach { b =>
          assert(maxFiles.forall(b.files.size <= _))
          assert(b.files.size == 1 || maxBytes.forall(b.totalBytes <= _))
        }
      }
    }
  }

  test("gram-hash expressions: random-text parity with their HOF formulations") {
    import graft.functions.{CharNgramFunctions, CharNgramHashFunctions, WordGramHashFunctions}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    // text over a unicode-heavy alphabet: multi-byte code points stress
    // the byte-offset walk; spaces stress tokenization windows
    val alphabet = Gen.oneOf(('a' to 'e') ++ Seq(' ', 'é', 'ω', '中', ' '))
    val textGen = for {
      len <- Gen.choose(0, 60)
      cs <- Gen.listOfN(len, alphabet)
    } yield cs.mkString
    forAllSampled(Gen.zip(Gen.listOfN(8, textGen), Gen.choose(1, 7)), 12) {
      case (texts, n) =>
        val df = texts.toDF("text")
        // char-ngram hashes == transform(char_ngrams, xxhash64), both modes
        val bad = df.select(
            CharNgramHashFunctions.charNgramHashes($"text", n).as("f"),
            transform(CharNgramFunctions.charNgramsFast($"text", n),
              g => xxhash64(g)).as("r"),
            CharNgramHashFunctions.charNgramHashesDistinct($"text", n).as("fd"),
            transform(CharNgramFunctions.charNgramsDistinct($"text", n),
              g => xxhash64(g)).as("rd"))
          .filter($"f" =!= $"r" || $"fd" =!= $"rd").count()
        assert(bad === 0, s"char-ngram hash parity failed at n=$n for $texts")
        // word-gram h1 == xxhash64(concat_ws window); h2 independent seed
        val rows = df.select(split($"text", " ").as("w"))
          .select(
            WordGramHashFunctions.wordGramHashes($"w", n, " ").as("k"),
            when(size($"w") >= n,
              transform(sequence(lit(0), size($"w") - n),
                i => concat_ws(" ", slice($"w", i + lit(1), lit(n)))))
              .otherwise(array().cast("array<string>")).as("g"))
          .collect()
        rows.foreach { r =>
          val ks = r.getSeq[org.apache.spark.sql.Row](0)
          val gs = r.getSeq[String](1)
          assert(ks.length === gs.length)
          ks.zip(gs).foreach { case (k, g) =>
            val bytes = g.getBytes("UTF-8")
            val off = Platform.BYTE_ARRAY_OFFSET
            assert(k.getLong(0) ===
              XXH64.hashUnsafeBytes(bytes, off, bytes.length, 42L))
            assert(k.getLong(1) ===
              XXH64.hashUnsafeBytes(bytes, off, bytes.length, 0x9E3779B9L))
          }
        }
    }
  }

  test("surprisal expression: random-text parity with the HOF map-literal formulation") {
    import graft.functions.CharNgramFunctions
    import graft.operators.Curation
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val alphabet = Gen.oneOf(('a' to 'd') ++ Seq(' ', 'é', '中'))
    val textGen = for {
      len <- Gen.choose(0, 40)
      cs <- Gen.listOfN(len, alphabet)
    } yield cs.mkString
    forAllSampled(Gen.zip(Gen.listOfN(3, textGen), Gen.listOfN(6, textGen),
        Gen.choose(1, 4)), 10) { case (refTexts, docTexts, n) =>
      val refNonEmpty = refTexts.map(t => if (t.isEmpty) "a" else t)
      val lm = Curation.ngramLm(
        refNonEmpty.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("id", "text"), "text", n)
      val docs = docTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val fast = Curation.surprisalScore(docs, "doc_id", "text", lm)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
      // the reference formulation the expression must equal bit-for-bit:
      // per-window -ln over a count-map literal, decimal(30,9)-quantized
      // terms, exact decimal sum, mean over windows, round 2
      val denom = lm.total + lm.vocab + 1L
      val model = typedlit(lm.counts)
      val grams = CharNgramFunctions.charNgramsFast(col("text"), n)
      val nll = transform(grams, g =>
        -log((coalesce(element_at(model, g), lit(0L)) + lit(1L)).cast("double") /
          lit(denom)))
      val slow = docs.select(col("doc_id").as("id"),
          round(aggregate(nll, lit(0).cast(DecimalType(30, 9)),
              (acc, x) => (acc + x.cast(DecimalType(30, 9)))
                .cast(DecimalType(30, 9))).cast("double") /
            size(grams), 2).as("nll"))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(fast.toSeq === slow.toSeq,
        s"surprisal parity failed at n=$n ref=$refNonEmpty docs=$docTexts")
    }
  }

  test("vocab-ids expression: random-text parity with the HOF map-literal formulation") {
    import graft.functions.VocabFunctions
    import org.apache.spark.sql.functions._
    // spaces are frequent so empty tokens (leading/trailing/double-space)
    // are exercised; multi-byte code points stress the 0x20 byte scan
    val alphabet = Gen.oneOf(Seq('a', 'b', 'c', ' ', ' ', 'é', '中'))
    val textGen = for {
      len <- Gen.choose(0, 40)
      cs <- Gen.listOfN(len, alphabet)
    } yield cs.mkString
    val vocabGen = Gen.listOfN(6, for {
      len <- Gen.choose(0, 3) // includes the empty token as a vocab entry
      cs <- Gen.listOfN(len, alphabet)
    } yield cs.mkString)
    forAllSampled(Gen.zip(Gen.listOfN(6, textGen), vocabGen), 12) {
      case (texts, vocabToks) =>
        val vocab = vocabToks.distinct.zipWithIndex.map { case (t, i) => (t, i + 1) }
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("id", "text")
        val fast = df.select($"id",
            VocabFunctions.vocabIds($"text", vocab, unk = 0).as("ids"))
          .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
        val vmap = typedlit(vocab.toMap)
        val slow = df.select($"id",
            transform(split($"text", " ", -1),
              w => coalesce(element_at(vmap, w), lit(0))).as("ids"))
          .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
        assert(fast.toSeq === slow.toSeq,
          s"vocab-ids parity failed for vocab=$vocab texts=$texts")
    }
  }

  test("tokenize∘detokenize law on random text: unk-substituted original") {
    import graft.operators.Curation
    import org.apache.spark.sql.functions.{array_join, col}
    val alphabet = Gen.oneOf(Seq('a', 'b', ' ', ' ', 'é'))
    val textGen = for {
      len <- Gen.choose(0, 30)
      cs <- Gen.listOfN(len, alphabet)
    } yield cs.mkString
    forAllSampled(Gen.zip(Gen.listOfN(5, textGen), Gen.choose(1, 6)), 10) {
      case (texts, vs) =>
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("id", "text")
        val vocab = Curation.buildWordVocab(docs, "text", vs)
        val inVocab = vocab.map(_._1).toSet
        val got = Curation.tokenizeToIds(docs, "id", "text", vocab)
          .select(col("id"),
            array_join(Curation.idsToTokens(col("ids"), vocab), " ").as("t"))
          .orderBy("id").collect().map(_.getString(1))
        val want = texts.map(_.split(" ", -1)
          .map(w => if (inVocab(w)) w else "<unk>").mkString(" "))
        assert(got.toSeq === want,
          s"roundtrip law failed for vocab=$vocab texts=$texts")
    }
  }

  test("fim reorder reconstructs the original for random arrays and bounds") {
    import graft.operators.Curation
    import org.apache.spark.sql.functions.{col, lit}
    val gen = for {
      n <- Gen.choose(3, 20)
      ids <- Gen.listOfN(n, Gen.choose(1, 100))
      a <- Gen.choose(1, n - 2)
      b <- Gen.choose(a + 1, n - 1)
    } yield (ids, a, b)
    forAllSampled(gen, 20) { case (ids, a, b) =>
      val fim = Seq(ids).toDF("ids")
        .select(Curation.fimReorder(col("ids"), lit(a), lit(b), lit(true)))
        .head().getSeq[Int](0)
      val iSuf = fim.indexOf(-2); val iMid = fim.indexOf(-3)
      val p = fim.slice(1, iSuf)
      val s = fim.slice(iSuf + 1, iMid)
      val m = fim.drop(iMid + 1)
      assert(p ++ m ++ s === ids, s"ids=$ids a=$a b=$b fim=$fim")
      assert(p.nonEmpty && m.nonEmpty && s.nonEmpty)
    }
  }

  test("bloom novelty screen equals the plain anti-join on random batches") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.md5
    val gen = Gen.zip(
      Gen.choose(1, 60),       // distinct texts in the batch key space
      Gen.choose(0, 40),       // history size (overlapping key space)
      Gen.oneOf(0.01, 0.2, 0.5)) // fpp incl. degenerate-suspect regimes
    forAllSampled(gen, 12) { case (nBatch, nHist, fpp) =>
      val batch = (0 until 80).map(i => (i.toLong, s"t-${i % nBatch}"))
        .toDF("id", "text").withColumn("fp", md5($"text"))
      val history = (0 until nHist).map(i => s"t-$i").toDF("text")
        .select(md5($"text").as("fp"))
      val expected = batch.join(history, Seq("fp"), "left_anti")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      val got = Dedup.bloomNoveltyScreen(batch, history, "fp",
          expectedItems = math.max(nHist.toLong, 1L), fpp = fpp)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === expected,
        s"bloom screen diverged at nBatch=$nBatch nHist=$nHist fpp=$fpp")
    }
  }

  test("DSIR log-ratio is exactly zero when target and source models coincide") {
    import graft.operators.Curation
    val textGen = Gen.listOfN(6,
      Gen.chooseNum(0, 40).map(n => Gen.listOfN(n,
        Gen.oneOf('a', 'b', 'c', ' ', 'ß', '中')).map(_.mkString)
        .apply(Gen.Parameters.default, Seed(n.toLong)).getOrElse("")))
    forAllSampled(textGen, 10) { texts =>
      // doc 0 pins a non-empty reference slice (NgramLm refuses empty)
      val docs = ("abcabc" +: texts).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val lm = Curation.ngramLm(docs.filter($"doc_id" % 2 === 0), "text", 3)
      val out = Curation.dsirLogRatio(docs, "doc_id", "text", lm, lm)
        .collect().map(_.getDouble(1))
      assert(out.forall(_ == 0.0),
        s"identical models must give zero log-ratio: ${out.toSeq}")
    }
  }

  test("index-based contamination equals the batch operator on random corpora") {
    // short docs over a tiny alphabet force heavy accidental gram sharing
    // and whole-text grams — the worst case for candidate completeness
    val docGen = Gen.choose(0, 20)
      .flatMap(k => Gen.listOfN(k, Gen.oneOf('a', 'b', 'c', ' ')))
      .map(_.mkString)
    forAllSampled(Gen.zip(Gen.listOfN(3, docGen), Gen.listOfN(6, docGen),
        Gen.choose(1, 3)), 8) { case (benchTexts, corpusTexts, minShared) =>
      val bench = benchTexts.zipWithIndex
        .map { case (t, i) => (100L + i, t) }.toDF("id", "t")
      val corpus = corpusTexts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val viaIndex = graft.operators.Dedup.contaminationAgainstIndex(
        corpus, "id", "t",
        graft.operators.Dedup.benchmarkGramIndex(bench, "id", "t", n = 4),
        n = 4, minShared = minShared)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val viaBatch = graft.operators.Dedup.ngramContamination(
        corpus, "id", "t", bench, "id", "t", n = 4, minShared = minShared)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(viaIndex === viaBatch,
        s"bench=$benchTexts corpus=$corpusTexts minShared=$minShared")
    }
  }

  test("stratified sample: per-stratum counts, determinism, and subset on random data") {
    val rowGen = for {
      id <- Gen.choose(1L, 500L)
      s <- Gen.oneOf("en", "de", "fr", "es")
    } yield (id, s)
    forAllSampled(Gen.zip(Gen.listOfN(60, rowGen), Gen.choose(1, 7)), 8) {
      case (rows0, k) =>
        val rows = rows0.distinctBy(_._1) // ids unique like a real table
        val df = rows.toDF("doc_id", "lang")
        val got = graft.operators.Curation
          .stratifiedSample(df, "doc_id", "lang", k)
          .collect().map(r => (r.getLong(0), r.getString(1)))
        // exactly min(k, |stratum|) rows per stratum, drawn FROM the input
        val sizes = rows.groupBy(_._2).view.mapValues(_.size).toMap
        val gotSizes = got.groupBy(_._2).view.mapValues(_.length).toMap
        sizes.foreach { case (s, n) =>
          assert(gotSizes.getOrElse(s, 0) === math.min(k, n), s"stratum $s")
        }
        assert(got.toSet.subsetOf(rows.toSet))
        // deterministic under re-evaluation
        val again = graft.operators.Curation
          .stratifiedSample(df, "doc_id", "lang", k)
          .collect().map(r => (r.getLong(0), r.getString(1)))
        assert(got.toSet === again.toSet)
    }
  }

  test("TOML: rendered flat documents round-trip through the parser") {
    val key = Gen.identifier.map(_.take(12)).suchThat(_.nonEmpty)
    val value: Gen[Any] = Gen.oneOf(
      Gen.choose(-1000000L, 1000000L),
      Gen.oneOf(true, false),
      Gen.alphaNumStr.map(_.take(20)),
      Gen.choose(-1000.0, 1000.0).map(d => math.rint(d * 100) / 100))
    val doc = for {
      table <- key
      kvs <- Gen.listOfN(6, Gen.zip(key, value))
    } yield (table, kvs.toMap.toSeq)
    forAllSampled(doc, 25) { case (table, kvs) =>
      def render(v: Any): String = v match {
        case s: String => "\"" + s + "\""
        case other => other.toString
      }
      val text = s"[$table]\n" +
        kvs.map { case (k, v) => s"$k = ${render(v)}" }.mkString("\n")
      val parsed = graft.util.Toml.parse(text)
      val inner = parsed(table).asInstanceOf[Map[String, Any]]
      kvs.foreach { case (k, v) =>
        assert(inner(k) === v, s"key $k in:\n$text")
      }
    }
  }

  test("sessionize state transition: events conserved, sessions ordered and gap-separated") {
    import graft.streaming.{Session, SessionEvent, SessionState, Sessionize}
    import org.apache.spark.sql.streaming.GroupState
    // drive the pure transition function directly with a stub GroupState
    class StubState(var opt: Option[SessionState]) extends GroupState[SessionState] {
      var timeout: Long = Long.MinValue
      def exists: Boolean = opt.isDefined
      def get: SessionState = opt.get
      def getOption: Option[SessionState] = opt
      def update(s: SessionState): Unit = opt = Some(s)
      def remove(): Unit = opt = None
      def hasTimedOut: Boolean = false
      def setTimeoutDuration(d: Long): Unit = ()
      def setTimeoutDuration(d: String): Unit = ()
      def setTimeoutTimestamp(t: Long): Unit = timeout = t
      def setTimeoutTimestamp(t: Long, additionalDuration: String): Unit = ()
      def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
      def setTimeoutTimestamp(t: java.sql.Date, additionalDuration: String): Unit = ()
      def getCurrentWatermarkMs(): Long = 0L
      def getCurrentProcessingTimeMs(): Long = 0L
    }
    val gapMs = 60000L
    val eventsGen = Gen.listOfN(20, Gen.choose(0L, 1000L * 600)) // 10 min span
    forAllSampled(eventsGen, 20) { tsList =>
      if (tsList.nonEmpty) {
        val state = new StubState(None)
        val events = tsList.map(t => SessionEvent("k", new java.sql.Timestamp(t)))
        val closed = Sessionize.update(gapMs)("k", events.iterator, state).toSeq
        val open = state.opt
        // conservation: every event lands in exactly one session
        assert(closed.map(_.events).sum + open.map(_.events).getOrElse(0L)
          === tsList.size.toLong)
        // sessions are internally consistent and gap-separated in order
        val all = closed.map(s => (s.startMs, s.endMs, s.events)) ++
          open.map(s => (s.startMs, s.lastMs, s.events))
        all.foreach { case (s, e, n) => assert(s <= e && n >= 1) }
        all.sliding(2).foreach {
          case Seq((_, e1, _), (s2, _, _)) => assert(s2 > e1 + gapMs)
          case _ =>
        }
        // timeout is armed past the open session's last event
        open.foreach(s => assert(state.timeout === s.lastMs + gapMs))
      }
    }
  }

  test("connected components equal reference union-find on random graphs") {
    // random edge lists over a small id space force every shape — stars,
    // chains, cycles, forests, self-loops, parallel edges — through the
    // distributed star contraction, checked against an independent
    // in-test union-find
    val edgeGen = Gen.zip(Gen.choose(0L, 24L), Gen.choose(0L, 24L))
    forAllSampled(Gen.nonEmptyListOf(edgeGen).map(_.take(40)), 6) { edgeList =>
      val edges = edgeList.filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // reference: classic union-find
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
          r
        }
        edges.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val expected = parent.keys.map(id => id -> find(id)).toMap
        // distributed star contraction (localLimit=0 forces it)
        val got = graft.operators.Dedup
          .connectedComponents(edges.toDF("id_a", "id_b"), localLimit = 0)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected, s"edges=$edges")
      }
    }
  }

  test("incremental connected components equal batch CC under random batch splits") {
    // the fold invariant — history after batch i equals batch CC over the
    // union of edges so far — must hold for ANY edge order and ANY split
    // point, including batches that only merge existing components and
    // batches of pure self-loops
    import spark.implicits._
    val edgeGen = Gen.zip(Gen.choose(0L, 16L), Gen.choose(0L, 16L))
    val caseGen = for {
      edges <- Gen.nonEmptyListOf(edgeGen).map(_.take(24))
      cut <- Gen.choose(0, edges.size)
    } yield (edges, cut)
    forAllSampled(caseGen, 6) { case (edges, cut) =>
      val (b1, b2) = edges.splitAt(cut)
      var history = spark.emptyDataset[(Long, Long)].toDF("id", "component")
      var sofar = Seq.empty[(Long, Long)]
      for (b <- Seq(b1, b2) if b.nonEmpty) {
        sofar ++= b
        history = graft.operators.Dedup
          .componentsWithHistory(b.toDF("id_a", "id_b"), history)
        val got = history.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = graft.operators.Dedup
          .connectedComponents(sofar.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === want, s"edges=$edges cut=$cut")
      }
    }
  }

  test("cc delta reconstruction law on random graphs: the delta holds " +
    "exactly the changed rows, and patching the history with it yields " +
    "the full assignment") {
    // the v4 persisted-state claim as algebra, for ANY edges and split:
    // full == {history rows whose id is NOT in the delta} ∪ delta, and
    // every delta row genuinely differs from (or is absent in) history —
    // which is exactly what lets the fold commit O(Δ) chunks under a
    // last-writer-wins read
    import spark.implicits._
    val edgeGen = Gen.zip(Gen.choose(0L, 16L), Gen.choose(0L, 16L))
    val caseGen = for {
      edges <- Gen.nonEmptyListOf(edgeGen).map(_.take(24))
      cut <- Gen.choose(0, edges.size)
    } yield (edges, cut)
    forAllSampled(caseGen, 6) { case (edges, cut) =>
      val (b1, b2) = edges.splitAt(cut)
      var history = spark.emptyDataset[(Long, Long)].toDF("id", "component")
      for (b <- Seq(b1, b2) if b.nonEmpty) {
        val hist = history.collect().map(r => r.getLong(0) -> r.getLong(1))
          .toMap
        val (full, delta) = graft.operators.Dedup
          .componentsWithHistoryAndDelta(b.toDF("id_a", "id_b"), history)
        val fullM = full.collect().map(r => r.getLong(0) -> r.getLong(1))
          .toMap
        val deltaRows = delta.collect().map(r => r.getLong(0) -> r.getLong(1))
        val deltaM = deltaRows.toMap
        // one row per id (a duplicate would make last-wins ambiguous
        // WITHIN a chunk)
        assert(deltaRows.length === deltaM.size,
          s"delta must hold one row per id: edges=$edges cut=$cut")
        // every delta row changed or is new; nothing unchanged rides it
        deltaM.foreach { case (id, c) =>
          assert(!hist.get(id).contains(c),
            s"delta carried an unchanged row ($id,$c): edges=$edges cut=$cut")
        }
        // last-writer-wins patch == the full assignment
        val patched = (hist -- deltaM.keySet) ++ deltaM
        assert(patched === fullM, s"edges=$edges cut=$cut")
        history = full.localCheckpoint()
      }
    }
  }

  test("exact ngram-Jaccard pairs equal the brute-force reference on random corpora") {
    // small alphabet + short docs force heavy gram sharing (the worst case
    // for inverted-index completeness) and short-text whole-doc grams
    val docGen = Gen.listOfN(8, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    forAllSampled(Gen.listOfN(8, docGen), 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def grams(t: String): Set[String] =
        if (t.length < 3) Set(t) else t.sliding(3).toSet
      val expected = (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        inter = (grams(ta) & grams(tb)).size.toDouble
        union = (grams(ta) | grams(tb)).size.toDouble
        j = math.rint(inter / union * 10000) / 10000 if j >= 0.3
      } yield (ia, ib, j)).toSet
      val got = graft.operators.Dedup
        .charNgramJaccardExactPairs(docs.toDF("id", "t"), "id", "t",
          n = 3, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === expected, s"texts=$texts")
    }
  }

  test("tfidf top-k equals the brute-force reference on random corpora") {
    // tiny vocabulary forces heavy df collisions and rank ties — the
    // worst case for the exact-rational ranking's tie-breaks
    val docGen = Gen.choose(1, 6)
      .flatMap(k => Gen.listOfN(k, Gen.oneOf("x", "y", "z", "w")))
      .map(_.mkString(" "))
    forAllSampled(Gen.listOfN(6, docGen), 8) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val n = docs.size
      val tf = docs.flatMap { case (id, t) =>
        t.split(" ").groupBy(identity).map { case (w, o) => (id, w, o.length.toLong) } }
      val dfm = tf.groupBy(_._2).map { case (w, rows) => w -> rows.size.toLong }
      val expected = tf.groupBy(_._1).flatMap { case (id, rows) =>
        rows.map { case (_, w, c) => (w, c, dfm(w), (c * n).toDouble / dfm(w)) }
          .sortBy { case (w, _, _, rel) => (-rel, w) }
          .take(2).zipWithIndex
          .map { case ((w, c, d, _), i) => (id, (i + 1).toLong, w, c, d) }
      }.toSet
      val got = graft.operators.Relevance
        .tfIdfTopTerms(docs.toDF("doc_id", "text"), "doc_id", "text", k = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got === expected, s"texts=$texts")
    }
  }

  test("bm25 equals the brute-force reference on random corpora") {
    val docGen = Gen.choose(1, 8)
      .flatMap(k => Gen.listOfN(k, Gen.oneOf("x", "y", "z", "w")))
      .map(_.mkString(" "))
    forAllSampled(Gen.listOfN(5, docGen), 8) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val query = Seq("x", "z")
      val n = docs.size
      val dls = docs.map { case (id, t) => id -> t.split(" ").length.toLong }.toMap
      val avgdl = dls.values.sum.toDouble / n
      val tf = docs.flatMap { case (id, t) =>
        t.split(" ").filter(query.contains).groupBy(identity)
          .map { case (w, o) => (id, w, o.length.toLong) } }
      val dfm = tf.groupBy(_._2).map { case (w, rows) => w -> rows.size.toLong }
      val expected = tf.groupBy(_._1).map { case (id, rows) =>
        val s = rows.map { case (_, w, c) =>
          val idf = math.log(1d + ((n - dfm(w)).toDouble + 0.5) / (dfm(w).toDouble + 0.5))
          val p = idf * ((c * 2.2) / (c + 1.2 * (0.25 + 0.75 * (dls(id) / avgdl))))
          BigDecimal(p).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        (id, s.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
      val got = graft.operators.Relevance
        .bm25(docs.toDF("doc_id", "text"), "doc_id", "text", query)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got === expected, s"texts=$texts")
    }
  }

  test("span dedup spans equal the brute-force reference on random corpora") {
    // 3-token alphabet forces dense gram sharing: many overlapping marks,
    // multi-gram islands, whole-doc spans — the merge logic's worst case
    val docGen = Gen.choose(1, 10)
      .flatMap(k => Gen.listOfN(k, Gen.oneOf("a", "b", "c")))
      .map(_.mkString(" "))
    val n = 3
    forAllSampled(Gen.listOfN(6, docGen), 8) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val occ = for {
        (id, t) <- docs
        w = t.split(" ", -1).toSeq
        p <- 0 to w.length - n
      } yield (w.slice(p, p + n).mkString(" "), id, p.toLong)
      val marked = occ.groupBy(_._1).filter(_._2.size >= 2).values.flatMap { os =>
        val keys = os.map(o => (o._2, o._3))
        keys.filterNot(_ == keys.min)
      }
      val expected = marked.groupBy(_._1).flatMap { case (id, ps) =>
        ps.map(_._2).toSeq.distinct.sorted
          .foldLeft(List.empty[(Long, Long)]) { case (acc, p) =>
            acc match {
              case (s, e) :: tail if p <= e => (s, math.max(e, p + n)) :: tail
              case _ => (p, p + n) :: acc
            }
          }.map { case (s, e) => (id, s, e) }
      }.toSet
      val got = graft.operators.SpanDedup
        .spans(docs.toDF("id", "t"), "id", "t", n = n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expected, s"texts=$texts")
    }
  }

  test("incremental span dedup over id-ordered batches equals the one-shot result") {
    // when batches arrive in id order (the append-only pipeline case),
    // first-seen-wins owners coincide with the batch variant's global
    // lexicographic min — so folding spansWithHistory over accumulated
    // ownerIndex rows must reproduce spans(whole corpus) EXACTLY, for
    // any corpus; this pins the merge rule, the occ accounting, and the
    // empty-history path in one property
    val docGen = Gen.choose(1, 10)
      .flatMap(k => Gen.listOfN(k, Gen.oneOf("a", "b", "c")))
      .map(_.mkString(" "))
    val n = 3
    forAllSampled(Gen.listOfN(9, docGen), 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val oneShot = graft.operators.SpanDedup
        .spans(docs.toDF("id", "t"), "id", "t", n = n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      var hist = Seq.empty[(Long, Long, Long, Long)]
        .toDF("h1", "h2", "own", "occ")
      val incremental = docs.grouped(3).flatMap { b =>
        val bdf = b.toDF("id", "t")
        val sp = graft.operators.SpanDedup
          .spansWithHistory(bdf, hist, "id", "t", n = n)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        hist = hist.unionByName(
          graft.operators.SpanDedup.ownerIndex(bdf, "id", "t", n = n))
        sp
      }.toSet
      assert(incremental === oneShot, s"texts=$texts")
    }
  }

  test("sequence packing partitions the token stream for random corpora and budgets") {
    val docGen = Gen.choose(0, 9)
      .flatMap(k => Gen.listOfN(k, Gen.oneOf("x", "y"))).map(_.mkString(" "))
    val caseGen = Gen.zip(Gen.choose(1, 9), Gen.listOfN(7, docGen))
    forAllSampled(caseGen, 8) { case (budget, texts) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val nTok = docs.map { case (_, t) => t.split(" ", -1).length.toLong }.sum
      val segs = graft.operators.Packing
        .packAssignments(docs.toDF("id", "t"), "id", "t", budget = budget,
          buckets = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // total conservation + exact pack sizes
      assert(segs.map(s => s._4 - s._3).sum === nTok)
      val byPack = segs.groupBy(_._2).view.mapValues(_.map(s => s._4 - s._3).sum)
      val lastPack = byPack.keys.max
      byPack.foreach { case (p, sz) =>
        if (p < lastPack) assert(sz === budget.toLong, s"pack $p size $sz")
        else assert(sz > 0L && sz <= budget.toLong)
      }
      // every doc covered [0, len) by adjacent segments in pack order
      segs.groupBy(_._1).foreach { case (id, ss) =>
        val sorted = ss.sortBy(_._2)
        assert(sorted.head._3 === 0L)
        assert(sorted.last._4 === docs(id.toInt)._2.split(" ", -1).length.toLong)
        sorted.sliding(2).foreach {
          case Array((_, p1, _, e1), (_, p2, s2, _)) =>
            assert(p2 === p1 + 1 && s2 === e1)
          case _ =>
        }
      }
    }
  }

  test("token chunking reconstructs the document for random window/overlap") {
    val caseGen = Gen.zip(Gen.choose(1, 40), Gen.choose(2, 8), Gen.choose(0, 3))
    forAllSampled(caseGen, 10) { case (nTokens, window, overlap0) =>
      val overlap = math.min(overlap0, window - 1)
      val text = (1 to nTokens).map(i => s"t$i").mkString(" ")
      val chunks = graft.operators.TextQuality.chunkTokens(
        Seq((1L, text)).toDF("id", "text"), "id", "text", window, overlap)
        .orderBy("chunk_idx").collect()
        .map(r => (r.getString(2), r.getLong(3)))
      // stripping each chunk's leading overlap (except the first) and
      // concatenating reconstructs the document exactly
      val rebuilt = chunks.zipWithIndex.map { case ((txt, _), i) =>
        val toks = txt.split(" ")
        if (i == 0) toks else toks.drop(overlap)
      }.flatten.mkString(" ")
      assert(rebuilt === text, s"n=$nTokens w=$window o=$overlap")
      // every full-size chunk reports window tokens; only the last may be short
      chunks.dropRight(1).foreach { case (_, n) =>
        assert(n === window, s"n=$nTokens w=$window o=$overlap") }
    }
  }

  test("asof join equals the per-row reference on random series") {
    val rowGen = Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 50L))
    forAllSampled(Gen.zip(Gen.listOfN(15, rowGen), Gen.listOfN(15, rowGen)), 6) {
      case (leftRows0, rightRows0) =>
        val leftRows = leftRows0.distinct
        // right side must be unique per (key, time): "latest row at t" is
        // ambiguous otherwise (the operator's documented precondition)
        val rightRows = rightRows0.distinct
          .groupBy(identity).keys.toSeq
          .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
          .groupBy(r => (r._1, r._2)).values.map(_.head).toSeq
        if (leftRows.nonEmpty && rightRows.nonEmpty) {
          val left = leftRows.toDF("k", "t")
          val right = rightRows.toDF("k", "t", "v")
          val got = graft.operators.AsofJoin
            .asofJoin(left, right, Seq("k"), "t", "t", rightCols = Seq("v"))
            .collect()
            .map(r => ((r.getLong(0), r.getLong(1)),
              if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
          leftRows.foreach { case (k, t) =>
            val expected = rightRows.filter(r => r._1 == k && r._2 <= t)
              .sortBy(_._2).lastOption.map(_._3)
            assert(got((k, t)) === expected,
              s"left=($k,$t) right=$rightRows")
          }
        }
    }
  }

  test("bounded buckets never exceed the cap for random bucket assignments") {
    forAllSampled(Gen.zip(Gen.choose(1, 200), Gen.choose(1, 5), Gen.choose(1, 20)), 8) {
      case (nRows, nBuckets, cap) =>
        val rows = (0 until nRows).map(i => (i.toLong, i % nBuckets)).toDF("id", "bucket")
        val sizes = graft.operators.Dedup
          .boundedBuckets(rows, Seq("bucket"), org.apache.spark.sql.functions
            .collect_set(org.apache.spark.sql.functions.col("id")), cap)
          .select(org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.col("items")))
          .collect().map(_.getInt(0))
        assert(sizes.forall(s => s <= cap && s >= 2))
    }
  }

  test("deleteWhere equals the per-row reference on random delete predicates") {
    import graft.delta.{DeltaWriteMode, DeltaWriter}
    import org.apache.spark.sql.functions.col
    val w = new DeltaWriter(spark, spark.sparkContext.hadoopConfiguration)
    // (table size, modulus, threshold): delete `id % m < k` — exercises
    // multi-file bitmaps, empty matches, and full-file deletion
    val caseGen = Gen.zip(Gen.choose(1, 120), Gen.choose(1L, 7L), Gen.choose(0L, 7L))
    forAllSampled(caseGen, 8) { case (n, m, k) =>
      val tmp = Files.createTempDirectory("graft-dv-prop-").toString
      val t = s"$tmp/table"
      w.write(spark.range(0, n.toLong).toDF("id")
        .repartition(3), t, DeltaWriteMode.Append)
      val expectDeleted = (0L until n.toLong).count(_ % m < k).toLong
      val got = w.deleteWhere(t, col("id") % m < k)
      assert(got === expectDeleted, s"n=$n m=$m k=$k")
      val remaining = w.read(t).collect().map(_.getLong(0)).sorted.toSeq
      assert(remaining === (0L until n.toLong).filterNot(_ % m < k), s"n=$n m=$m k=$k")
      // the maintenance lifecycle preserves the logical table: purge
      // applies + drops every vector, compact folds small files, vacuum
      // reclaims the shadowed bytes — read-back is identical throughout
      w.purgeDeletionVectors(t)
      assert(w.activeAdds(t).forall(_.deletionVector.isEmpty), s"n=$n m=$m k=$k")
      w.compact(t, smallFileBytes = 1024 * 1024)
      w.vacuum(t, retentionMs = -1000)
      val after = w.read(t).collect().map(_.getLong(0)).sorted.toSeq
      assert(after === remaining, s"purge/compact/vacuum changed rows: n=$n m=$m k=$k")
    }
  }

  test("splitAssign laws: total partition, engine-side draw matches scala replay, subset-stable") {
    import graft.operators.Mixing
    import org.apache.spark.sql.functions.col
    val M = 2147483647L
    def minstdLocal(id: Long, seed: Long): Long = {
      var h = (id + seed) % (M - 1) + 1
      (1 to 3).foreach(_ => h = h * 48271L % M)
      h
    }
    val fracGen = Gen.chooseNum(1, 9998)
    forAllSampled(Gen.zip(fracGen, Gen.listOfN(40, Gen.chooseNum(0L, 500000L))), 12) {
      case (bp, idsRaw) =>
        val ids = idsRaw.distinct
        val splits = Seq(("x", bp / 10000.0), ("y", (10000 - bp) / 10000.0))
        val df = ids.map(i => Tuple1(i)).toDF("id")
        val got = Mixing.splitAssign(df, "id", splits)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        // total: every id assigned to exactly one split
        assert(got.keySet === ids.toSet)
        // the engine's draw matches an independent scala replay of the
        // published band rule — pins the MINSTD chain AND the band edges
        ids.foreach { i =>
          val u = (minstdLocal(i, 97L) - 1) % 10000
          val want = if (u < bp) "x" else "y"
          assert(got(i) === want, s"id $i u=$u bp=$bp")
        }
        // subset stability: assignment over any subset is the restriction
        val sub = ids.take(ids.size / 2)
        val gotSub = Mixing.splitAssign(sub.map(Tuple1(_)).toDF("id"),
          "id", splits).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        sub.foreach(i => assert(gotSub(i) === got(i)))
    }
  }

  test("writeShardsResumable: resume from ANY committed subset lands on the full-export content") {
    import graft.operators.Mixing
    val docs = (0L until 200L).map(i => (i, s"p$i")).toDF("doc_id", "text")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def contents(out: String): Set[(Long, Int)] =
      spark.read.parquet(out).select("doc_id", "shard")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val ref = {
      val out = Files.createTempDirectory("graft-shards-ref").toString + "/s"
      Mixing.writeShardsResumable(docs, "doc_id", out, 6)
      contents(out)
    }
    forAllSampled(Gen.someOf(0 until 6), 8) { lost =>
      val out = Files.createTempDirectory("graft-shards-prop").toString + "/s"
      Mixing.writeShardsResumable(docs, "doc_id", out, 6)
      lost.foreach { i =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$out/_manifest/$i.json"), false)
        // half the lost shards also lose their data dir, half keep an
        // uncommitted partial — both must rewrite
        if (i % 2 == 0)
          fs.delete(new org.apache.hadoop.fs.Path(s"$out/shard=$i"), true)
      }
      val (w, k) = Mixing.writeShardsResumable(docs, "doc_id", out, 6)
      assert(w === lost.size && k === 6 - lost.size)
      assert(contents(out) === ref, s"lost=$lost diverged")
    }
  }

  test("hash64PairsWide law: for random signatures, budgets, and block " +
    "counts the wide combination keys equal brute-force Hamming pairs") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.{bit_count, col}
    // half the corpus is near-dup plants (a base signature with up to
    // maxHamming random bits flipped), half independent — both regimes
    // must come back EXACTLY (recall AND precision are brute-checked)
    val caseGen = for {
      n <- Gen.choose(16, 48)
      h <- Gen.choose(1, 3)
      blocks <- Gen.oneOf(5, 6, 8)
      bases <- Gen.listOfN(n / 2, Gen.long)
      flips <- Gen.listOfN(n / 2, Gen.zip(Gen.choose(0, h),
        Gen.listOfN(3, Gen.choose(0, 63))))
      indep <- Gen.listOfN(n - n / 2, Gen.long)
    } yield {
      val plants = bases.zip(flips).map { case (b, (k, bits)) =>
        bits.take(k).foldLeft(b)((acc, j) => acc ^ (1L << j))
      }
      (bases ++ plants ++ indep, h, blocks)
    }
    forAllSampled(caseGen, 12) { case (sigLongs, h, blocks) =>
      val sigs = sigLongs.zipWithIndex
        .map { case (s, i) => (i.toLong, s) }.toDF("id", "sh")
      val brute = sigs.as("a").join(sigs.as("b"),
          col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id"),
          bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hm"))
        .filter(col("hm") <= h)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val wide = Dedup.hash64PairsWide(sigs, "id", "sh",
          maxHamming = h, blocks = blocks, maxBucket = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(wide === brute,
        s"h=$h blocks=$blocks: missing=${(brute -- wide).take(3)} " +
          s"extra=${(wide -- brute).take(3)}")
    }
  }
}
