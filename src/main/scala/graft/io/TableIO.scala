package graft.io

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import graft.core.PartitionMetrics
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Iceberg-shaped table layer over partitioned Parquet (SURVEY §7.0: no
  * Iceberg jars in the container, so we emulate the two properties the
  * pipeline depends on — atomic batch append and url-bucket layout —
  * behind a small API that swaps to real Iceberg when available).
  *
  * Layout:
  *   <root>/data/batch=<id>/bucket=<b>/part-*.parquet   committed data
  *   <root>/metrics/batch=<id>/part-*.parquet           per-partition lineage
  *   <root>/.staging/<id>/                              uncommitted writes
  *
  * The commit is a directory rename (atomic on a POSIX fs; Iceberg's
  * manifest swap plays this role on object stores). A batch is visible
  * iff the rename completed, so readers never observe partial output and
  * a crashed run leaves only .staging garbage that the next run clears —
  * the checkpoint-resume contract of the north rule (reference analog:
  * skip-if-computed, predict.py:137-143).
  */
object TableIO {

  def dataPath(root: String) = s"$root/data"
  def metricsPath(root: String) = s"$root/metrics"

  def nextBatchId(root: String): String = {
    // max(existing)+1, NOT count+1: a retention-deleted batch must never
    // cause an id collision with a surviving one
    val d = Paths.get(dataPath(root))
    val maxId =
      if (!Files.isDirectory(d)) 0
      else {
        val s = Files.list(d)
        try {
          val it = s.iterator()
          var m = 0
          while (it.hasNext) {
            val name = it.next().getFileName.toString
            if (name.startsWith("batch=b"))
              name.stripPrefix("batch=b").toIntOption.foreach(v => m = math.max(m, v))
          }
          m
        } finally s.close()
      }
    f"b${maxId + 1}%05d"
  }

  def clearStaging(root: String): Unit = {
    val st = Paths.get(s"$root/.staging")
    if (Files.isDirectory(st)) deleteRecursively(st)
  }

  def stagingDir(root: String, batchId: String): String = s"$root/.staging/$batchId"

  /** Atomic publish: .staging/<id> → data/batch=<id>. */
  def commitBatch(root: String, batchId: String): Unit = {
    val from = Paths.get(stagingDir(root, batchId))
    val to = Paths.get(s"${dataPath(root)}/batch=$batchId")
    Files.createDirectories(to.getParent)
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Replace-commit for full-recompute tables (ScrubJob): publish the
    * staged batch, then drop every OLDER batch — readers see either the
    * old table or (after the atomic rename) old+new for the instant
    * before the sweep, never a partial batch. The new batch id is always
    * the max, so a reader pinned to max(batch) is fully consistent.
    */
  def replaceData(root: String, batchId: String): Unit = {
    commitBatch(root, batchId)
    val d = Paths.get(dataPath(root))
    val s = Files.list(d)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val p = it.next()
        val name = p.getFileName.toString
        if (name.startsWith("batch=") && name != s"batch=$batchId")
          deleteRecursively(p)
      }
    } finally s.close()
  }

  def readData(spark: SparkSession, root: String): Option[DataFrame] = {
    val d = Paths.get(dataPath(root))
    if (!Files.isDirectory(d)) None
    else {
      val s = Files.list(d)
      val has = try s.anyMatch(p => p.getFileName.toString.startsWith("batch=")) finally s.close()
      if (!has) None else Some(spark.read.parquet(dataPath(root)))
    }
  }

  /** One batch's lineage rows, written as one Parquet file on the driver
    * (no Spark job: a handful of rows needs no tasks) with the same
    * stage-then-rename atomicity as data — a killed write must never
    * leave a half-dir that poisons readMetrics. The Parquet schema is
    * Spark's own conversion of PartitionMetrics' encoder schema, so the
    * case class stays the one schema source and Spark reads the table
    * back as it would had it written it. Int and Long fields need no
    * writer change; a field of any other type fails here, by name, and
    * fails ExtractJobSpec's field-type check before it ships.
    */
  def appendMetrics(spark: SparkSession, rows: Seq[PartitionMetrics], root: String,
                    batchId: String): Unit = {
    val staging = s"$root/.staging/metrics-$batchId"
    val parquetSchema = new SparkToParquetSchemaConverter(spark.sessionState.conf)
      .convert(Encoders.product[PartitionMetrics].schema)
    val writer = ExampleParquetWriter
      .builder(new HPath(s"$staging/part-00000-$batchId.parquet"))
      .withConf(spark.sessionState.newHadoopConf())
      .withType(parquetSchema)
      .build()
    try rows.foreach { m =>
      val g = new SimpleGroup(parquetSchema)
      m.productIterator.zipWithIndex.foreach {
        case (v: Int, i) => g.add(i, v)
        case (v: Long, i) => g.add(i, v)
        case (v, i) => throw new IllegalArgumentException(
          s"appendMetrics writes Int and Long fields only: PartitionMetrics.${m.productElementName(i)} " +
          s"is ${v.getClass.getName}")
      }
      writer.write(g)
    } finally writer.close()
    val to = Paths.get(s"${metricsPath(root)}/batch=$batchId")
    Files.createDirectories(to.getParent)
    Files.move(Paths.get(staging), to, StandardCopyOption.ATOMIC_MOVE)
  }

  def readMetrics(spark: SparkSession, root: String): Option[DataFrame] = {
    val d = Paths.get(metricsPath(root))
    if (!Files.isDirectory(d)) return None
    val s = Files.list(d)
    val has = try s.anyMatch(p => p.getFileName.toString.startsWith("batch=")) finally s.close()
    if (has) Some(spark.read.parquet(metricsPath(root))) else None
  }

  /** Real Spark bucketing — distinct from the `bucket=<b>` directory
    * layout above (which only prunes files): a catalog-registered table
    * written with bucketBy on the join key, so every downstream
    * equi-join / groupBy / dedup on that key plans WITHOUT an Exchange
    * (both sides' outputPartitioning already satisfies the join's
    * required distribution). At corpus scale this amortizes the join
    * shuffle into the one-time write — the right trade for a table
    * joined more than once (resume anti-joins, page assembly, dedup).
    * Both sides of a join must use the same bucket count.
    */
  def writeBucketed(df: DataFrame, fqTable: String, buckets: Int, key: String): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $fqTable")
    // in-memory catalog: a managed location can outlive the JVM that
    // registered it (the catalog entry dies, the directory doesn't) and
    // CTAS then refuses with LOCATION_ALREADY_EXISTS — clear the orphan
    fqTable.split('.') match {
      case Array(db, tbl) if spark.catalog.databaseExists(db) =>
        val uri = new java.net.URI(spark.catalog.getDatabase(db).locationUri)
        val base = if (uri.getScheme == null) uri.toString else uri.getPath
        deleteRecursively(Paths.get(base).resolve(tbl))
      case _ => ()
    }
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(fqTable)
  }

  /** Create-if-absent a database rooted OUTSIDE the repo for managed
    * bucketed tables (the in-memory catalog's default warehouse is
    * ./spark-warehouse under the working dir). */
  def ensureBucketDb(spark: SparkSession, db: String, location: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$location'")

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteRecursively(_)) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
