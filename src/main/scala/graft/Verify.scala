package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.Verify <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    val queries = QueryRunner.resolve(QueryRunner.only, SparkEntry.queries)
    val spark = GraftSession.local(GraftSession.cpus, GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    val runner = new QueryRunner(spark, "verify")
    queries.foreach { case (name, fn) =>
      runner.run(name)(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
    }
    val json = OracleManifest.renderSqlJson(SparkEntry.oracleSql)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    GraftSession.stop(spark)
  }
}
