package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built. Every main (Bench, Verify,
  * the ML mains, the tools) starts here, so they all run the same shape:
  *  - `local[cpus]` with `shuffle.partitions = cpus` — one shuffle
  *    partition per worker thread;
  *  - a UTC session time zone: normalizeTs/normalizeDate's NTZ→instant
  *    re-label is correct only under UTC (their documented contract);
  *  - parquet timestamps written as TIMESTAMP_MICROS (not INT96), so a
  *    dumped schema matches DuckDB's TIMESTAMP in the oracle compare;
  *  - log level ERROR: every eager stage under the default `local`
  *    strategy emits a lineage-truncation WARN that sbt routes to stderr,
  *    flooding a captured output tail;
  *  - a temp checkpoint dir, so `spark.graft.stageStorage=reliable` works
  *    out of the box for every eager stage of every operator
  *    ([[graft.Materialize]], the one module that applies the strategy)
  *    and for the GBT lineage cut;
  *  - the graft SQL functions registered.
  * The test fixture keeps its own builder: it alone needs task retries. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, or 4. */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption).getOrElse(4)

  def local(appName: String, cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    GraftExtensions.register(spark)
    spark
  }
}
