package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: Bench, Verify, the test
  * session and the dev drivers all run queries under this config. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, default 4: the core count Bench, Verify and the
    * dev drivers run with. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "etlmudah.GraftExtensions")
    // events.ts is parquet TIMESTAMP(NANOS); Spark has no nanos type —
    // read as epoch-nanos long (Tables.eventsTyped derives micros).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // testdata ships one parquet file per table; 128MB splits would scan
    // each fact on a single task at local SFs (row-group-bounded)
    .config("spark.sql.files.maxPartitionBytes", "8m")
    // signature aggregates (128 minhash mins, 64 simhash votes) exceed
    // the default 100-field codegen cutoff and silently fall back to
    // interpreted aggregation (~2x slower) without this
    .config("spark.sql.codegen.maxFields", "512")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_warehouse")
    .getOrCreate()
}
