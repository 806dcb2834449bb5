package graft.bench

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** Captures the `.explain("formatted")` output of EVERY plan a query
  * EXECUTES while it is built and run — including the eager
  * localCheckpoint rounds and persisted passes that never appear in the
  * final plan PlanSnap dumps (each checkpoint truncates lineage, so the
  * final explain only shows the post-checkpoint fragment). This is the
  * evidence file for optimizations whose whole point is a per-round
  * plan change inside an iterative algorithm (q38's star rounds, q72's
  * rank rounds).
  *
  * Usage: runMain graft.bench.ExecPlanSnap <round> <tag> <query> [query ...]
  *   e.g. runMain graft.bench.ExecPlanSnap r07 before q38_dedup_clusters
  * writes plans/<round>/<query>_rounds_<tag>.txt containing each executed
  * sub-plan (action name + formatted plan) in execution order, then the
  * final plan of the query's returned DataFrame.
  *
  * Bench-side tooling only; same session shape as the bench.
  */
object ExecPlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExecPlanSnap <round> <tag> <query> [query ...]")
    val round = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-execplansnap")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = Paths.get("plans", round)
    Files.createDirectories(outDir)
    val buf = new StringBuilder
    var n = 0
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        buf.synchronized {
          n += 1
          buf.append(s"==== execution $n: action=$funcName ====\n")
          buf.append(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
          buf.append('\n')
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        buf.synchronized {
          n += 1
          buf.append(s"==== execution $n FAILED: action=$funcName ====\n")
          buf.append(Option(e.getMessage).getOrElse(e.getClass.getName))
          buf.append('\n')
        }
    }
    spark.listenerManager.register(listener)
    // every SQL execution the listener bus has ended — what the
    // QueryExecutionListener above is expected to have captured
    val ended = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionEnd => ended.incrementAndGet()
        case _ => ()
      }
    })
    def counts = buf.synchronized((n, ended.get))
    names.foreach { name =>
      buf.synchronized { buf.clear(); n = 0 }
      ended.set(0)
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.count()
      // listener events are posted asynchronously (no public drain API):
      // wait until the counts hold still for a second, at most 30 s
      val settled = drain(() => counts)
      val (captured, expected) = counts
      buf.synchronized {
        buf.append(s"==== final plan (returned DataFrame) ====\n")
        buf.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        buf.append('\n')
      }
      val p = outDir.resolve(s"${name}_rounds_$tag.txt")
      Files.writeString(p, buf.synchronized(buf.toString))
      println(s"[execplansnap] wrote $p (${buf.length} chars, captured $captured of " +
        s"$expected ended SQL executions${if (settled) "" else "; events still arriving after 30 s"})")
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** Poll the (captured, ended) counts until at least one execution has
    * ended — the query's own count() is one — and neither count has moved
    * for `quietMs`; false when that has not happened within `maxMs`. */
  private def drain(read: () => (Int, Int), quietMs: Long = 1000, maxMs: Long = 30000): Boolean = {
    val start = System.currentTimeMillis()
    var last = read()
    var since = start
    while (last._2 == 0 || System.currentTimeMillis() - since < quietMs) {
      if (System.currentTimeMillis() - start > maxMs) return false
      Thread.sleep(100)
      val now = read()
      if (now != last) { last = now; since = System.currentTimeMillis() }
    }
    true
  }
}
