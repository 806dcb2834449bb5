package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import scala.jdk.CollectionConverters._

/** Compares the tables `QueryTables` generates with a directory of the
  * shared sf test tables: per column the distinct count, the most
  * common value's share and numeric min/mean/max; the documents'
  * near-duplicate share; the embeddings' same-label and cross-label
  * cosine; and the row count of every listed query on both.
  *
  *   python3 perfbench/tablecheck.py --fixture DIR [--seed N]
  *
  * The fixture tables are copied under the work dir first, so both sides
  * have a dir name without "sf0.1"/"sf0.01" and the queries that size
  * their synthetic corpus by the dir name use the same size on both.
  */
object TableCheck {

  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  private def columns(df: DataFrame): Seq[(String, String)] = {
    val n = df.count().toDouble
    df.schema.fields.toSeq.filter(_.dataType.typeName != "array").map { f =>
      val c = col(f.name)
      val distinct = df.select(countDistinct(c)).head().getLong(0)
      val top = df.groupBy(c).count().agg(max("count")).head().getLong(0) / n
      val num = f.dataType match {
        case _: NumericType =>
          val r = df.agg(min(c).cast("double"), avg(c), max(c).cast("double")).head()
          f" min ${r.getDouble(0)}%.4g mean ${r.getDouble(1)}%.4g max ${r.getDouble(2)}%.4g"
        case _ => ""
      }
      f.name -> f"distinct $distinct%d top-share $top%.4f$num"
    }
  }

  private def shingles(t: String): Set[Seq[String]] = t.split(' ').toSeq.sliding(3).toSet

  /** Share of documents whose 3-word shingles overlap another's by a
    * Jaccard index of at least 0.5. */
  private def nearDupShare(spark: SparkSession, dir: String): Double = {
    val sh = spark.read.parquet(s"$dir/documents.parquet").select("text").collect()
      .map(r => shingles(r.getString(0)))
    sh.indices.count { a =>
      sh.indices.exists(b => b != a &&
        (sh(a) & sh(b)).size.toDouble / math.max(1, (sh(a) | sh(b)).size) >= 0.5)
    }.toDouble / sh.length
  }

  /** Mean cosine between embeddings of the same label, and of different labels. */
  private def cosines(spark: SparkSession, dir: String): (Double, Double) = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet").select("embedding", "label").collect()
      .map(r => (r.getSeq[Float](0).map(_.toDouble).toArray, r.getInt(1)))
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val pairs = for (i <- e.indices; j <- i + 1 until e.length) yield (e(i)._2 == e(j)._2, cos(e(i)._1, e(j)._1))
    def mean(xs: Seq[Double]) = xs.sum / xs.length
    (mean(pairs.filter(_._1).map(_._2)), mean(pairs.filterNot(_._1).map(_._2)))
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val work = Paths.get(opts("--work")).toAbsolutePath.toString
    val seed = opts.getOrElse("--seed", "1").toLong
    Workloads.deleteTree(work)
    val fixture = s"$work/fixture"
    val generated = s"$work/generated"
    Files.createDirectories(Paths.get(fixture))
    for (t <- tables) {
      val src = Paths.get(opts("--fixture"), s"$t.parquet")
      if (Files.isDirectory(src)) {
        val s = Files.walk(src)
        try s.iterator().asScala.foreach { p =>
          Files.copy(p, Paths.get(fixture).resolve(src.getParent.relativize(p)),
            StandardCopyOption.REPLACE_EXISTING)
        } finally s.close()
      } else Files.copy(src, Paths.get(fixture, s"$t.parquet"))
    }
    val spark = Harness.session(work)
    QueryTables.write(spark, generated, seed, QueryTables.sf001)

    for (t <- tables) {
      val f = spark.read.parquet(s"$fixture/$t.parquet")
      val g = spark.read.parquet(s"$generated/$t.parquet")
      println(s"== $t rows fixture ${f.count()} generated ${g.count()}")
      for (((c, a), (_, b)) <- columns(f).zip(columns(g)))
        println(s"  $c\n    fixture   $a\n    generated $b")
    }
    println(f"documents near-dup share: fixture ${nearDupShare(spark, fixture)}%.3f " +
      f"generated ${nearDupShare(spark, generated)}%.3f")
    val (fs, fc) = cosines(spark, fixture)
    val (gs, gc) = cosines(spark, generated)
    println(f"embeddings mean cosine same/cross label: fixture $fs%.4f/$fc%.4f " +
      f"generated $gs%.4f/$gc%.4f")

    val fns = graft.SparkEntry.queries
    println("query rows: fixture generated")
    for (q <- QueryList.names) {
      def rows(dir: String) = {
        val n = scala.util.Try(fns(q)(spark, dir).count()).fold(e => e.getClass.getSimpleName, _.toString)
        spark.catalog.clearCache()
        n
      }
      println(f"  $q%-22s ${rows(fixture)}%10s ${rows(generated)}%10s")
    }
    spark.stop()
  }
}
