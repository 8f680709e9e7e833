package graftbench

import graft.SparkEntry
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.nio.file.Files

/** `query_board`: a fixed, named set of `SparkEntry.queries` run in passes
  * through the noop sink over the engine's TPC-H-like test tables plus the
  * events, documents and embeddings tables, as committed under
  * `graftbench/data/`. The tables never change, so the recorded per-query
  * digests apply to every run; the workload seed sets the query order
  * within each pass. */
final class QueryBoard(spark: SparkSession, dataDir: String, seed: Long,
    digests: Map[String, String], threads: Int) extends Workload {
  import QueryBoard._

  def roots: Seq[(String, String)] = Seq(dataDir -> "data")
  val warmupOps = 0
  private var inputRows = 0L

  /** Nothing to generate: counts the tables' rows (parquet footers) and
    * digests the files' bytes. */
  def generate(totalOps: Int): String = {
    val files = Option(new File(dataDir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    if (files.map(_.getName.stripSuffix(".parquet")).toSet != Tables.toSet)
      throw new IllegalStateException(s"$dataDir must hold ${Tables.mkString(", ")} as parquet")
    inputRows = files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(f.toURI), Workload.hconf(spark)))
      try reader.getRecordCount finally reader.close()
    }.sum
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach { f => md.update(f.getName.getBytes("UTF-8")); md.update(Files.readAllBytes(f.toPath)) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Untimed: drop what the previous query cached, as the engine's own
    * Bench does between queries. */
  override def prepare(i: Int): Unit = spark.catalog.clearCache()

  /** Timed pass p runs every query once, in an order the seed shuffles. */
  def queryOf(i: Int): String = {
    val order = new scala.util.Random(seed * 1000003L + i / Names.size).shuffle(Names)
    order(i % Names.size)
  }

  /** A pass consumes the whole dataset once, so each op is credited with
    * an equal share of its rows: `rows_per_s` is then a fixed row count
    * over `wall_s`. */
  def op(i: Int): (String, Long) = {
    val q = queryOf(i)
    SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite").format("noop").save()
    (q, inputRows / Names.size)
  }

  private var checked: Seq[(String, Boolean, String)] = Nil

  /** Warm-up is one pass over every query, one per core at a time, that
    * collects each output and compares its digest with the recorded one.
    * The timed passes then run warm, through the noop sink. */
  override def warmup(): Unit =
    checked = Workload.parallel(Names, threads) { q =>
      val t0 = System.nanoTime()
      val got = Digest.of(SparkEntry.queries(q)(spark, dataDir))
      val want = digests.get(q)
      (s"board.$q", want.contains(got), f"digest $got, recorded ${want.getOrElse("none")}, " +
        f"warm-up ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

  def check(): Seq[(String, Boolean, String)] = checked

  /** Writes each query's output under `outDir/<name>` and the oracle SQL
    * of those that have one; returns name -> digest. */
  def record(outDir: String): Map[String, String] = {
    val oracle = Names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    val node = graft.util.Jsons.obj()
    oracle.foreach { case (q, sql) => node.put(q, sql) }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, "oracle_sql.json"),
      graft.util.Jsons.render(node))
    Names.map { q =>
      val df = SparkEntry.queries(q)(spark, dataDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
      q -> Digest.of(df)
    }.toMap
  }
}

object QueryBoard {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** The three groups of the board. Three of the slowest curation queries
    * (d_neardup_canonical_incr, d_cc_incremental and d_page_rank_incr:
    * 11 s of a 23 s pass on 4 cores) are left out so that two timed passes
    * fit a run of about 40 s, and so is q_delta_checkpoint (2 s of an 11 s
    * pass, and 5 s cold): its Delta commit and checkpoint path is what
    * ingest_cdc and cdf_tail time. */
  val Names: Seq[String] = Seq(
    // slow curation queries
    "d_ngram_jaccard", "d_winnow_pairs", "d_simhash_pairs_poly", "d_minhash_pairs_poly",
    // parallelism cases
    "d_retrieval_metrics", "d_lang_route", "d_sft_pack", "d_split_leakage", "q_percentile",
    // short relational queries
    "q_distinct", "q_topk_orders", "q_join_agg", "q_window_rank",
    "q_sessionize", "q_cube", "q_agg_pricing")
}

/** Order-free digest of a query's output: rows rendered canonically
  * (doubles to 9 and floats to 6 significant digits, so summation order
  * cannot flip a digest), sorted, hashed. */
object Digest {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else "%.9g".format(d)
    case f: Float => if (f.isNaN) "NaN" else "%.6g".format(f)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  def of(df: DataFrame): String = {
    val rows = df.collect().map(r => r.toSeq.map(canon).mkString("|")).sorted
    Workload.sha256(Iterator(df.columns.mkString(",")) ++ rows.iterator) + s":${rows.length}"
  }
}
