package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.GraftSession
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Runs one workload and writes its raw measurements as JSON; `run.py`
  * turns them into the benchmark's metrics.
  *
  *   graftbench.Main --workload W --seed N --ops N --trace 0|1 --work DIR
  *                   --data DIR --out FILE [--digests FILE]
  *   graftbench.Main --record DIR --data DIR --work DIR  (board outputs
  *                                                        and digests)
  *   graftbench.Main --train 1 --data DIR --work DIR  (three traced ops of
  *                                   each workload, for the class archive)
  *
  * Set-up is the session, the seeded inputs and a fixed warm-up; then
  * `--ops` timed ops run back to back (a closed loop, one client), each
  * after its untimed `prepare`. With `--trace 1` every op whose index is
  * not 1 mod 3 runs with the tracing listeners and file-system counters
  * on; the others run bare, which gives the tracing overhead. */
object Main {
  private val mapper = new ObjectMapper()

  // Monotonic clock anchored to the wall clock once, so op intervals and
  // Spark's event times (epoch ms) share one time line.
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val work = opts("work")
    val threads = Runtime.getRuntime.availableProcessors()
    val digests = readDigests(opts.get("digests"))

    val spark = GraftSession.local(threads, "graftbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = nowMs()
    def workload(name: String, seed: Long): Workload = name match {
      case "ingest_cdc" => new IngestCdc(spark, s"$work/ingest", seed)
      case "cdf_tail" => new CdfTail(spark, s"$work/cdf", seed)
      case "query_board" => new QueryBoard(spark, opts("data"), seed, digests, threads)
      case other => sys.error(s"unknown workload $other")
    }

    if (opts.contains("record")) {
      val dir = opts("record")
      val b = workload("query_board", 0).asInstanceOf[QueryBoard]
      val node = mapper.createObjectNode().put("data_digest", b.generate(0))
      val digestsNode = node.putObject("digests")
      b.record(dir).toSeq.sortBy(_._1).foreach { case (q, d) => digestsNode.put(q, d) }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "digests.json"),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node))
    } else if (opts.contains("train")) {
      Seq("ingest_cdc", "cdf_tail", "query_board").foreach { name =>
        run(spark, workload(name, 1), ops = 3, trace = true, jvmStartMs, sessionMs)
      }
    } else {
      val name = opts("workload")
      val seed = opts("seed").toLong
      val root = run(spark, workload(name, seed), opts("ops").toInt,
        trace = opts.getOrElse("trace", "0") == "1", jvmStartMs, sessionMs)
      root.put("workload", name).put("seed", seed).put("threads", threads)
        .put("spark_version", spark.version)
        .put("jvm_version", System.getProperty("java.runtime.version"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")),
        mapper.writeValueAsString(root))
    }
    spark.stop()
  }

  /** Set-up, warm-up, `ops` timed ops and the checks of one workload. */
  def run(spark: SparkSession, w: Workload, ops: Int, trace: Boolean,
      jvmStartMs: Double, sessionMs: Double): ObjectNode = {
    Tracer.roots = w.roots.map { case (p, c) => new java.io.File(p).getAbsolutePath -> c }
    val inputDigest = w.generate(w.warmupOps + ops)
    val generatedMs = nowMs()

    var attempted = 0
    var failed = 0
    val errors = mapper.createArrayNode()
    def attempt[T](label: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f)
      catch { case e: Throwable =>
        failed += 1
        errors.add(s"$label: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
        e.printStackTrace()
        None
      }
    }

    // a failed warm-up counts as one failed op
    if (attempt("warmup")(w.warmup()).isDefined) attempted -= 1
    val warmedMs = nowMs()

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val threadsBean = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val sparkTrace = new SparkTrace
    val sc = spark.sparkContext

    val opsNode = mapper.createArrayNode()
    val load0 = Provenance.loadavg
    val steal0 = Provenance.stealJiffies
    val cpu0 = os.getProcessCpuTime
    val phaseStartMs = nowMs()
    for (j <- 0 until ops) {
      val i = w.warmupOps + j
      val traced = trace && j % 3 != 1
      var op: OpTrace = null
      var (t0, t1) = (0.0, 0.0)
      var (codegen0, gc0, alloc0) = (0L, 0L, 0L)
      val r = attempt(s"op $i") {
        w.prepare(i)
        // traced or not, an op starts once the landing's events are handled
        if (trace) BusDrain(sc)
        if (traced) {
          sc.addSparkListener(sparkTrace)
          spark.listenerManager.register(sparkTrace)
          op = new OpTrace
          Tracer.current = op
          codegen0 = CodeGenerator.compileTime
          gc0 = gcMs
          alloc0 = threadsBean.getTotalThreadAllocatedBytes
        }
        t0 = nowMs()
        try w.op(i) finally t1 = nowMs()
      }
      if (t1 == 0.0) { t0 = nowMs(); t1 = t0 } // prepare failed
      val rec = opsNode.addObject()
      if (op != null) {
        op.add("jvm.gc_s", (gcMs - gc0) / 1000.0)
        op.add("jvm.alloc_mb", (threadsBean.getTotalThreadAllocatedBytes - alloc0) / 1048576.0)
        op.add("spark.codegen_compile_s", (CodeGenerator.compileTime - codegen0) / 1e9)
        BusDrain(sc)
        Tracer.current = null
        sc.removeSparkListener(sparkTrace)
        spark.listenerManager.unregister(sparkTrace)
        w.afterOp(t0.toLong, op)
        val values = rec.putObject("values")
        op.values.foreach { case (k, v) => values.put(k, v) }
        val jobs = rec.putArray("jobs")
        op.jobs.foreach { case (s, e) => jobs.addArray().add(s).add(e) }
        val skews = rec.putArray("stage_skews")
        op.stageSkews.foreach(x => skews.add(x))
      } else if (trace && r.isDefined) {
        // the bare ops of a traced run get the same after-op facts, so
        // work that only some ops do (a checkpoint) is seen on every op
        val facts = new OpTrace
        w.afterOp(t0.toLong, facts)
        val values = rec.putObject("values")
        facts.values.foreach { case (k, v) => values.put(k, v) }
      }
      rec.put("label", r.map(_._1).getOrElse("failed"))
        .put("rows", r.map(_._2).getOrElse(0L))
        .put("ok", r.isDefined).put("traced", traced)
        .put("t0", t0).put("t1", t1)
    }
    val phaseEndMs = nowMs()
    val cpu1 = os.getProcessCpuTime
    val steal1 = Provenance.stealJiffies
    val load1 = Provenance.loadavg
    // what the last op cached would otherwise stay, as no op follows it
    spark.catalog.clearCache()
    // Spark's ContextCleaner frees broadcasts and shuffles of collected
    // plans only after a GC finds them, so collect until the heap settles
    def heapUsedMb(): Double = {
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var heapMb = heapUsedMb()
    var prevMb = Double.MaxValue
    var rounds = 1
    while (rounds < 10 && (rounds < 3 || prevMb - heapMb > 1.0)) {
      prevMb = heapMb
      heapMb = heapUsedMb()
      rounds += 1
    }

    // each check counts as one attempted op; a check that throws fails
    val checks = mapper.createArrayNode()
    val results = try w.check() catch { case e: Throwable =>
      e.printStackTrace()
      Seq(("checks", false, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"))
    }
    results.foreach { case (name, ok, detail) =>
      attempted += 1
      if (!ok) failed += 1
      checks.addObject().put("name", name).put("ok", ok).put("detail", detail)
    }

    val root = mapper.createObjectNode()
    root.put("trace", trace).put("input_digest", inputDigest)
      .put("attempted", attempted).put("failed", failed)
    root.putObject("setup")
      .put("session_s", (sessionMs - jvmStartMs) / 1000.0)
      .put("generate_s", (generatedMs - sessionMs) / 1000.0)
      .put("warmup_s", (warmedMs - generatedMs) / 1000.0)
      .put("total_s", (phaseStartMs - jvmStartMs) / 1000.0)
    root.putObject("timed")
      .put("wall_s", (phaseEndMs - phaseStartMs) / 1000.0)
      .put("cpu_s", (cpu1 - cpu0) / 1e9)
      .put("heap_retained_mb", heapMb)
      .put("steal_jiffies", if (steal0 >= 0 && steal1 >= 0) steal1 - steal0 else -1L)
      .put("loadavg_start", load0).put("loadavg_end", load1)
    root.set[JsonNode]("ops", opsNode)
    root.set[JsonNode]("checks", checks)
    root.set[JsonNode]("errors", errors)
    root
  }

  private def readDigests(path: Option[String]): Map[String, String] = path match {
    case Some(p) if new java.io.File(p).exists() =>
      val n = mapper.readTree(new java.io.File(p)).get("digests")
      if (n == null) Map.empty
      else n.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    case _ => Map.empty
  }
}

object Provenance {
  def loadavg: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def stealJiffies: Long =
    try scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("cpu ")).map(_.trim.split("\\s+")).filter(_.length > 8)
      .map(_(8).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }
}
