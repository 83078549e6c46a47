package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI entry points mirroring the reference's `python main.py` surface
  * (main.py:159-177):
  *
  *   run          --income <bronzeDir> [--estimates <bronzeDir>]
  *                --state <dir> [--export-csv <dir>]
  *   health-check --state <dir>
  *
  * Exit code 0 on success / healthy, 1 on failure — same contract as the
  * reference's health check (main.py:177).
  */
object Main {

  private def session(): SparkSession = GraftSession(
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString),
    master = sys.env.get("SPARK_MASTER"), ui = true)

  private def parseFlags(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val exit = args.toSeq match {
      case "run" +: rest => runCmd(parseFlags(rest))
      case "health-check" +: rest => healthCmd(parseFlags(rest))
      case _ =>
        System.err.println("usage: run --income <dir> --state <dir> [--estimates <dir>] [--export-csv <dir>] | health-check --state <dir>")
        1
    }
    sys.exit(exit)
  }

  private def runCmd(flags: Map[String, String]): Int = {
    val spark = session()
    try {
      val state = flags("state")
      val (financials, quarantined) =
        Pipeline.run(spark, flags("income"), s"$state/quarterly_financials")
      val nBad = quarantined.count()
      val nRows = financials.count()
      println(s"[graft] financial state rows=$nRows quarantined=$nBad")
      flags.get("estimates").foreach { estDir =>
        val (est, estBad) = Pipeline.runEstimates(spark, estDir, s"$state/analyst_estimates")
        println(s"[graft] estimates state rows=${est.count()} quarantined=${estBad.count()}")
      }
      flags.get("export-csv").foreach { out =>
        graft.io.Sinks.exportCsv(financials, out,
          Seq(col("ticker").asc, col("quarter_date").desc))
        println(s"[graft] exported csv to $out")
      }
      0
    } catch {
      case e: Exception => System.err.println(s"[graft] pipeline failed: ${e.getMessage}"); 1
    } finally spark.stop()
  }

  private def healthCmd(flags: Map[String, String]): Int = {
    val spark = session()
    try {
      val state = spark.read.parquet(s"${flags("state")}/quarterly_financials")
      val companies = state.select(col("ticker")).distinct()
      val summary = Pipeline.healthCheck(companies, state).collect()
      summary.foreach(r => println(s"[graft] ${r.getAs[String]("ticker")}: " +
        s"${r.getAs[Long]("financial_records")} records"))
      println(s"[graft] status=healthy companies=${summary.length}")
      0
    } catch {
      case e: Exception => System.err.println(s"[graft] status=unhealthy: ${e.getMessage}"); 1
    } finally spark.stop()
  }
}
