package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.util.AccumulatorV2
import graft.core.{ExtractedDoc, PartitionMetrics}

/** Per-partition lineage rows, counted inside the tasks that write the
  * batch (reference analog: the running counters kept while extracting,
  * split_htmls_to_pages.py:161-183) — so no second pass re-reads the
  * staged output to rebuild them.
  *
  * `merge` REPLACES by partition id rather than adding, so a partition's
  * row is counted once however many of its task attempts report: Spark
  * already merges a result task's updates only from the first successful
  * attempt per partition and never from failed ones, and extraction is
  * deterministic, so every attempt would report the same row anyway.
  */
final class LineageAccumulator
    extends AccumulatorV2[PartitionMetrics, Map[Int, PartitionMetrics]] {

  private var rows = Map.empty[Int, PartitionMetrics]

  def isZero: Boolean = rows.isEmpty

  def copy(): LineageAccumulator = {
    val c = new LineageAccumulator
    c.rows = rows
    c
  }

  def reset(): Unit = rows = Map.empty

  def add(m: PartitionMetrics): Unit = rows += m.partition_id -> m

  def merge(other: AccumulatorV2[PartitionMetrics, Map[Int, PartitionMetrics]]): Unit =
    rows ++= other.value

  def value: Map[Int, PartitionMetrics] = rows

  /** Pass `docs` through unchanged while counting them; once the iterator
    * is exhausted, add this task's partition row — only when it saw a
    * row, as a groupBy over the written data has no empty groups.
    */
  def tally(docs: Iterator[ExtractedDoc]): Iterator[ExtractedDoc] = new Iterator[ExtractedDoc] {
    private var seen, ok, kept, dropped, spans = 0L
    private var open = true

    def hasNext: Boolean = {
      val more = docs.hasNext
      if (!more && open) {
        open = false
        if (seen > 0)
          add(PartitionMetrics(TaskContext.getPartitionId(), seen, ok, seen - ok,
            kept, dropped, spans))
      }
      more
    }

    def next(): ExtractedDoc = {
      val d = docs.next()
      seen += 1
      if (d.ok) ok += 1
      kept += d.blocks_kept
      dropped += d.blocks_dropped
      spans += d.spans.size
      d
    }
  }
}
