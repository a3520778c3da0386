package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Self-describing failure record: r11's fixture change broke 7 queries
    // at plan time and they simply vanished from the driver's correctness
    // artifact (no parquet → no entry). Dump every failure to errors.json
    // so a run with missing query dirs carries its own explanation.
    val errs = Map.newBuilder[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errs += name ->
          Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
      }
    }
    def q(s: String): String = Json.quote(s)
    // fixture-dependent oracles (m4's fit-time category domain) overlay
    // the static map — regenerated against the ACTUAL sfDir under verify,
    // the category-domain analog of withCanon's type prelude
    val json = (SparkEntry.oracleSql ++ SparkEntry.oracleSqlDynamic(spark, sfDir))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errs.result()
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
  }
}
