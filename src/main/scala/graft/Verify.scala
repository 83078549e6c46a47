package graft
import java.nio.file.{Files, Paths}
import Bench.jsonStr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY subset for local iteration; the driver runs the full contract.
    val only = GraftSession.onlyGates()
    // A query that throws must leave an EXPLICIT error record, not just
    // vanish: the driver's correctness artifact is keyed on the dumped
    // result dirs, so a silently-skipped query shrinks the denominator
    // and "N green / N checked" reads as fully green while part of the
    // contract is erroring. verify_errors.json enumerates every failure
    // (and the summary line prints declared vs succeeded vs failed).
    val contract = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    contract.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Harness-compatibility tripwire: the driver canonicalizes results
        // via pandas sort_values + hash, which dies on unhashable ndarray /
        // dict cells. A gate emitting a top-level array/map/struct column
        // would err at compare time with a cryptic TypeError (the round-9
        // vec_l2_normalize failure mode) — fail HERE with the fix named.
        val complex = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
                    f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] ||
                    f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] => f.name
        }
        require(complex.isEmpty, s"top-level complex column(s) " +
          s"[${complex.mkString(", ")}] break the driver's pandas hash-compare; " +
          "digest to a scalar (md5 of joined elements) as vec_quantize_int8 does")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        errors(name) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name FAILED: ${errors(name)}")
      }
      // Untracked per-query persists (dedup/corpus indexes) would
      // otherwise accumulate across the 135-query loop — clearCache()
      // only drops catalog-tracked relations, so raw persist()s and
      // localCheckpoint blocks need the explicit unpersist sweep (same
      // three-step cleanup Bench uses between measurements).
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    System.err.println(s"[verify] contract: ${contract.size} declared, " +
      s"${contract.size - errors.size} dumped, ${errors.size} FAILED" +
      (if (errors.nonEmpty) s" (${errors.keys.mkString(", ")})" else ""))
    spark.stop()
  }
}
