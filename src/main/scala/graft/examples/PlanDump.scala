package graft.examples

import graft.{GraftSession, Queries}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import java.nio.file.{Files, Paths}

/** Per-query physical-plan dump: builds each named query's plan once,
  * prints its exchange / broadcast / reused counts — the quick
  * shuffle-economy check to run after adding or reshaping an operator
  * ([[PlanAudit]] sweeps for FORBIDDEN shapes; this prints the cost shape
  * so a regression from one exchange to four is visible before the bench
  * run) — and writes the `explain("formatted")` plan to
  * `<outDir>/<query>.txt`, the before/after evidence a change cites
  * (dump each side into its own outDir and diff them).
  *
  * Run: sbt "runMain graft.examples.PlanDump <sfDir> <outDir> <query> [query…]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <query> [query…]")
    val Array(sfDir, outDir) = args.take(2)
    val spark = GraftSession.builderDefaults(
      SparkSession.builder().master("local[8]"), 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    args.drop(2).foreach { name =>
      val qe = Queries.defs(name).build(spark, sfDir).queryExecution
      val plan = qe.executedPlan.toString
      // shuffles only: a bare "Exchange" count would also match
      // BroadcastExchange/ReusedExchange and misread exactly when
      // comparing runs (a broadcast added vs a shuffle added)
      val nShuffle = "Exchange (hash|range|Single)".r.findAllIn(plan).length
      val nBr = "BroadcastExchange".r.findAllIn(plan).length
      val nReused = "ReusedExchange".r.findAllIn(plan).length
      val out = Paths.get(outDir, s"$name.txt")
      Files.writeString(out, qe.explainString(FormattedMode))
      println(s"=== $name shuffles=$nShuffle broadcasts=$nBr " +
        s"reused=$nReused -> $out")
    }
    spark.stop()
  }
}
