package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Dev-loop filter (driver never sets it): verify just the named queries.
    val selected = Harness.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = Harness.session(sfDir, Harness.cpus)
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // no query's persisted frames outlive its own action in this shared
      // session
      finally Harness.sweep(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.jsonQuote(k)}: ${Harness.jsonQuote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
