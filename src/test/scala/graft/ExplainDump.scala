package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named contract queries to files —
  * the plan evidence an optimization round cites, regenerated on demand
  * rather than committed (the round-17/18 dumps are in git history at
  * `e8077fc:plans/r17/`, `e8077fc:plans/r18/`).
  * Usage: `Test/runMain graft.ExplainDump <sfDir> <outDir> <suffix> <q1,q2,...>`
  * (writes `<outDir>/<query>_<suffix>.txt`).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: Test/runMain graft.ExplainDump <sfDir> <outDir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(dir, outDir, suffix, names) = args.take(4)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      val df = Queries.queries(n)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), plan)
      println(s"[explain] wrote $outDir/${n}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
