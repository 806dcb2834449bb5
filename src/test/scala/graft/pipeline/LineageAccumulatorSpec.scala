package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{ExtractedDoc, PartitionMetrics, Span}

/** The in-task lineage tally without Spark: outside a task the partition
  * id reads as 0. */
class LineageAccumulatorSpec extends AnyFunSuite {

  private def doc(ok: Boolean, kept: Int, dropped: Int, spans: Int) =
    ExtractedDoc("u", "", Vector.fill(spans)(Span("code", "c", 0, 0, "")),
      kept, dropped, Map.empty, ok, "")

  test("merging the same partition's entry twice leaves one row") {
    val row = PartitionMetrics(3, 10, 9, 1, 40, 5, 2)
    val a = new LineageAccumulator; a.add(row)
    val b = new LineageAccumulator; b.add(row)
    val merged = new LineageAccumulator
    merged.merge(a)
    merged.merge(b)
    assert(merged.value == Map(3 -> row))
    merged.merge(a.copy())
    assert(merged.value.size == 1)
  }

  test("tally passes docs through and adds one row once exhausted") {
    val acc = new LineageAccumulator
    val docs = Seq(doc(ok = true, 4, 1, 2), doc(ok = false, 0, 0, 0), doc(ok = true, 3, 2, 1))
    val it = acc.tally(docs.iterator)
    assert(acc.isZero)
    assert(it.toList == docs)
    assert(!it.hasNext)
    assert(acc.value == Map(0 -> PartitionMetrics(0, 3, 2, 1, 7, 3, 3)))
  }

  test("an empty partition adds no row") {
    val acc = new LineageAccumulator
    assert(acc.tally(Iterator.empty).isEmpty)
    assert(acc.isZero)
  }
}
