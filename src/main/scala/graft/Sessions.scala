package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession shape: local[cores] with as many shuffle
  * partitions as cores, AQE on, UTC, no UI, a fixed warehouse dir, and
  * scan splits capped at 64 MB (the split is ExtractJob's unit of work,
  * so the cap bounds per-task memory on KB–MB page rows).
  *
  * Every main and the test suite take their session from here except
  * `Bench` and `Verify` (their sessions are part of the frozen
  * comparison contract) and `ClusterBench` (spark-submit sets its
  * master).
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(app: String, cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
