package graft.extract

/** Cooperative per-document wall-clock budget (R4's timeout half —
  * reference analog: the 120 s pebble `ProcessPool.schedule(timeout)`,
  * split_htmls_to_pages.py:210). Spark tasks can't be killed per-row, so
  * the hot loops (tokenizer, DOM walk, postprocess, fuzzy alignment)
  * call [[tick]]; a page that exhausts its budget throws [[Exhausted]],
  * which the extractor turns into an `ok=false, error="timeout"` ROW —
  * never a task failure. Without this, one pathological page straggles
  * its task forever on the first 100 TB crawl batch.
  *
  * Thread-confined by design: one document runs on one task thread, so
  * the deadline lives in a ThreadLocal and [[tick]] costs a ThreadLocal
  * read + counter bump, checking the clock only every 1024 ticks; the
  * per-token tokenizer loop reads the state once ([[current]]) and skips
  * the ThreadLocal read.
  */
object DocBudget {

  /** Budget expiry. Stackless: thrown per pathological row, and the trace
    * (deep inside some loop) carries no information the error row needs. */
  final class Exhausted extends RuntimeException("timeout") {
    override def fillInStackTrace(): Throwable = this
  }

  /** One thread's budget state. A loop that ticks per token reads it
    * once per call ([[current]]) and ticks on it: the ThreadLocal lookup
    * is the costly part of a tick on executor threads, whose maps hold
    * many entries. Same object, so the tick count and clock checks are
    * the same as through [[DocBudget.tick]]. */
  final class State private[DocBudget] () {
    private[DocBudget] var deadline = Long.MaxValue // Long.MaxValue = unlimited
    private[DocBudget] var ticks = 0L

    /** Hot-loop checkpoint: a counter bump, and a clock read every 1024 ticks. */
    def tick(): Unit = {
      ticks += 1
      if ((ticks & 0x3FFL) == 0L && deadline != Long.MaxValue && System.nanoTime() > deadline)
        throw new Exhausted
    }
  }

  private val state = new ThreadLocal[State] {
    override def initialValue(): State = new State
  }

  /** The current thread's budget state, for a loop that ticks many times. */
  def current(): State = state.get()

  /** Arm the budget for the current document. `timeoutMillis` 0 disarms;
    * negative values expire immediately (test hook for deterministic
    * exhaustion regardless of host speed). */
  def begin(timeoutMillis: Long): Unit = {
    val s = state.get()
    s.deadline = if (timeoutMillis == 0L) Long.MaxValue
                 else System.nanoTime() + timeoutMillis * 1000000L
    s.ticks = 0L
  }

  /** Disarm — MUST run (finally) when the document finishes, or a stale
    * expired deadline would poison unrelated work reusing the thread. */
  def clear(): Unit = state.get().deadline = Long.MaxValue

  /** Hot-loop checkpoint: cheap enough for per-node call sites. */
  def tick(): Unit = state.get().tick()
}
