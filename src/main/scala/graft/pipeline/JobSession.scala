package graft.pipeline

import org.apache.spark.sql.SparkSession

/** The pipeline mains' `--key value` options and their one session setup.
  * Scan splits are capped at 64 MB: the split is ExtractJob's unit of
  * work, so the cap bounds per-task memory on KB–MB pages rows. */
private[pipeline] object JobSession {

  def opts(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap

  def apply(app: String, opts: Map[String, String]): SparkSession = {
    val cores = opts.getOrElse("--cores", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
