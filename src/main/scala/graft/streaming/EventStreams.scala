package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the events table.
  *
  * The reference has NO streaming (SURVEY §2.9) — its only stateful
  * constructs are the per-sequence rolling-variance early-stop and the
  * file-based resume, both re-expressed as batch ops here. This module
  * is the forward-looking extension the task brief asks for: the same
  * event schema consumed incrementally, with watermarked event-time
  * windows and custom session state — the streaming twins of A6/W6.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)
  final case class Session(user_id: Long, n_events: Int, total_value: Double,
                           started_us: Long, last_us: Long)

  /** Watermarked sliding-window aggregation (event time). The source
    * column may arrive as TIMESTAMP_NTZ from parquet; watermarks require
    * TIMESTAMP, so normalize first (session TZ is UTC).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total_value"))

  /** Stream-static enrichment: join the stream against a static
    * dimension (language weights, scrub templates, allow/deny lists) —
    * stateless, no watermark, no state store; the static side is
    * broadcast per micro-batch so the stream side never shuffles. At
    * crawl scale the dimension is the small side by construction,
    * exactly the broadcast regime; a dimension too big to broadcast
    * belongs in [[graft.io.TableIO.writeBucketed]] storage instead.
    */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup for an incremental page/document feed: the
    * FIRST arrival of a content hash within the watermark horizon wins;
    * later duplicates drop. `dropDuplicatesWithinWatermark` expires the
    * hash state automatically once the watermark passes, so state stays
    * bounded at crawl scale — the streaming twin of the batch q18 exact
    * dedup (and of R2's skip-if-seen semantics).
    */
  def dedupStream(pages: DataFrame, textCol: String = "text",
                  tsCol: String = "ts", horizon: String = "10 minutes"): DataFrame =
    pages
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      // 128-bit md5 like the batch q18 twin — a 64-bit key would drop a
      // distinct colliding page silently at crawl scale
      .withColumn("content_hash", md5(to_binary(col(textCol), lit("utf-8"))))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming NEAR-dup band filter: each document's 16-bit mixed SimHash
    * (the batch q21 vote fold over Knuth-mixed word features — the raw
    * feature's top bands are degenerate) splits into 4 bands of 4 bits;
    * by pigeonhole, two documents within Hamming distance ≤ 3 share at
    * least one identical band. Every (band_idx, band_val) key is CLAIMED by its
    * first arrival within the watermark horizon
    * (`dropDuplicatesWithinWatermark` — state bounded by the horizon, the
    * crawl-scale requirement); the output is the surviving claim stream.
    * A document that claims all 4 of its bands is novel; one that loses
    * bands collided with an earlier near-identical document (or an
    * unlucky band — the standard LSH false-positive trade, settled
    * downstream by the batch q22 Jaccard verifier). [[classifyClaims]] is
    * that batch-side classification over a claims sink. Within one
    * micro-batch, the claimant among SIMULTANEOUS first-arrivals of a
    * key is engine-arbitrary (the claimed-key set is deterministic;
    * attribution is not) — deterministic attribution comes from the
    * batch twin, which min-doc_id-orders the claim.
    *
    * Lateness caveat (semantics pinned by EventStreamsSpec): a document
    * behind the watermark is DROPPED by the late-events filter before
    * the dedup state and claims nothing — indistinguishable in the
    * claims sink from an exact duplicate, so a late UNIQUE reads as
    * novel=false. (Implementation detail, not relied on: that filter
    * runs one micro-batch behind the eviction watermark, so a row
    * landing in the very batch of a watermark jump may still slip
    * through — it then dedups against pre-eviction state, i.e.
    * normally.) Route documents flagged late at ingest (event time ≤
    * the current watermark) to [[reconcileLate]], which re-judges them
    * against the full claims history instead of trusting novel=false.
    * Separate, inherent trade: a SLOW duplicate arriving within the
    * watermark but more than `horizon` after its original finds that
    * state expired and re-claims those bands (novel=true) — that is
    * `dropDuplicatesWithinWatermark`'s contract (dedup guaranteed only
    * within the delay window); size `horizon` to the corpus's real
    * duplicate-arrival spread, and settle residual false-novels with
    * the batch q22 Jaccard verifier downstream.
    */
  def bandClaimsStream(pages: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id", tsCol: String = "ts",
                       horizon: String = "10 minutes"): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    // typed map, not Column HOFs: no persist barrier exists on a stream,
    // so CollapseProject would re-evaluate a Column simhash fold once per
    // band element; the typed map computes it exactly once per document.
    // NULL text mirrors batch q42's null semantics: NULL simhash →
    // simhashBands yields 4 NULL elements → posexplode emits 4 rows
    // with NULL band_val, so every NULL-text doc competes in the same
    // four NULL buckets (first one claims them, the rest lose) — the
    // stream emits those same rows via Option so the verdicts agree.
    pages
      .select(col(idCol).cast("long"), col(tsCol).cast("timestamp"), col(textCol))
      .as[(Long, java.sql.Timestamp, String)]
      .mapPartitions(_.flatMap { case (id, ts, text) =>
        val bands: IndexedSeq[Option[Long]] =
          if (text == null) IndexedSeq.fill(4)(None)
          else {
            val sh = graft.queries.Dedup.simhashScala(text, graft.queries.Dedup.knuthMix)
            (0 until 4).map(i => Some((sh >> (4 * i)) & 15L))
          }
        bands.zipWithIndex.map { case (bv, i) => (id, ts, i, bv) }
      })
      .toDF(idCol, tsCol, "band_idx", "band_val")
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("band_idx", "band_val")
  }

  /** Batch classification over a band-claims sink: a doc is novel iff it
    * claimed every one of its bands first. Takes the ingested-doc
    * universe explicitly — a document that lost ALL its bands (an exact
    * duplicate, the most certain case) contributes zero claim rows, so a
    * groupBy over claims alone would silently omit it instead of
    * classifying it novel=false. */
  def classifyClaims(claims: DataFrame, docs: DataFrame, idCol: String = "doc_id",
                     totalBands: Int = 4): DataFrame =
    docs.select(col(idCol)).distinct()
      // countDistinct, not count(*): an at-least-once sink replaying
      // claim rows (or a doc re-claiming after its band state expired)
      // must not inflate the count past totalBands and flip a genuinely
      // novel doc to novel=false
      .join(claims.groupBy(idCol).agg(countDistinct(col("band_idx")).as("n")), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n"), lit(0L)).as("bands_claimed"))
      .withColumn("novel", col("bands_claimed") === totalBands)

  /** Batch reconciliation for documents that arrived BEHIND the advanced
    * watermark: their streamed verdicts are untrustworthy (see the
    * lateness caveat on [[bandClaimsStream]] — a late dup of an
    * expired original claims spuriously; a late doc may also be
    * suppressed by surviving state). This pass recomputes their bands
    * with the integer-exact simhash loop and awards each band iff (a) no claim
    * by a NON-late document holds that (band_idx, band_val) key
    * anywhere in the sink's history — the late docs' own spurious sink
    * claims must not count, or a late unique would lose its bands to
    * itself — and (b) the doc is the min-id late claimant of it, the
    * same first-wins rule the stream applies. A late UNIQUE recovers
    * novel=true; a late duplicate of ANY on-time doc (even one whose
    * stream state expired long ago) lands novel=false. Returns claim
    * rows shaped like the sink's; classify with [[classifyClaims]]
    * over the late-doc universe.
    *
    * CALL CONTRACT (r4 advice): because the exclusion in (a) removes
    * only the CURRENT `lateDocs` set's sink claims, there are exactly
    * two sound call patterns — (1) one invocation over the COMPLETE
    * late-doc universe, or (2) multiple passes where each pass's
    * returned claim rows are appended to the `claims` sink before the
    * next pass. Under (2) an earlier pass's reconciled claims count as
    * settled non-late claims and correctly block later passes (two
    * late duplicates of each other split across passes resolve
    * first-pass-wins). Calling twice over split late sets WITHOUT
    * folding outputs back violates the contract: both halves of a
    * cross-pass duplicate pair could be awarded the same bands. Null-safe band equality (<=>) so
    * NULL-text late docs compete against the sink's NULL bands instead
    * of slipping past them. Scale shape: the late set is small by
    * construction (watermark stragglers); the anti-joins shuffle on
    * doc id / band key — the claims sink side prunes to three small
    * columns.
    */
  def reconcileLate(claims: DataFrame, lateDocs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val spark = lateDocs.sparkSession
    import spark.implicits._
    // the typed simhash map, exactly as the stream computes bands: one
    // simhash evaluation per doc with no persist barrier needed (a
    // Column-HOF version would need a .persist() that a repeatedly-
    // called reconciliation pass would leak), and the stream's NULL
    // semantics (4 NULL-band rows) for free
    val lateBands = lateDocs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val bands: IndexedSeq[Option[Long]] =
          if (text == null) IndexedSeq.fill(4)(None)
          else {
            val sh = graft.queries.Dedup.simhashScala(text, graft.queries.Dedup.knuthMix)
            (0 until 4).map(i => Some((sh >> (4 * i)) & 15L))
          }
        bands.zipWithIndex.map { case (bv, i) => (id, i, bv) }
      })
      .toDF(idCol, "band_idx", "band_val")
    val claimed = claims
      .join(lateDocs.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col("band_idx").as("c_bi"), col("band_val").as("c_bv")).distinct()
    val open = lateBands.join(claimed,
      col("band_idx") <=> col("c_bi") && col("band_val") <=> col("c_bv"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band_idx", "band_val")
    open.withColumn("winner", min(col(idCol)).over(w))
      .where(col(idCol) === col("winner"))
      .select(col(idCol), col("band_idx"), col("band_val"))
  }

  /** Streaming duplicated-SUBSTRING filter — the incremental twin of
    * the batch q52 operator, sharing its exact window-hash core
    * (Dedup.windowHashesScala): every SubK-token window of an incoming
    * document claims its hash within the watermark horizon; first
    * arrival wins (`dropDuplicatesWithinWatermark` — state bounded by
    * the horizon). A document whose windows are already claimed
    * carries text the stream has seen — the ingest-time skip-if-seen
    * semantic. Deliberate asymmetry with batch q52: the batch op is a
    * corpus AUDIT and marks BOTH sides of a duplicated pair; the
    * stream is an ingest FILTER and charges only later arrivals, and
    * a document's self-repeated windows claim once (the state is the
    * dedup key, not a multiset). The same lateness caveats as
    * [[bandClaimsStream]] apply — as does its within-batch tie: when
    * two docs in the SAME micro-batch both present a not-yet-claimed
    * key, `dropDuplicatesWithinWatermark` keeps an engine-arbitrary
    * one, so claim ATTRIBUTION between simultaneous duplicates is not
    * deterministic (the claimed key SET is). Pipelines needing
    * deterministic attribution for simultaneous arrivals run the
    * batch audit (q52 / q42), which charges both sides.
    */
  def windowClaimsStream(pages: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id", tsCol: String = "ts",
                         horizon: String = "10 minutes"): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .select(col(idCol).cast("long"), col(tsCol).cast("timestamp"), col(textCol))
      .as[(Long, java.sql.Timestamp, String)]
      .mapPartitions(_.flatMap { case (id, ts, text) =>
        graft.queries.Dedup.windowHashesScala(text).iterator.map(h => (id, ts, h))
      })
      .toDF(idCol, tsCol, "h")
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("h")
  }

  /** Batch classification over a window-claims sink: per document, its
    * recomputed window counts (total and distinct — the denominators
    * the sink cannot provide, since lost claims leave no rows) against
    * the number of distinct window hashes it claimed first.
    * fresh_frac = claimed / distinct windows; a low fraction means the
    * document's text was already in the stream. Documents with no
    * windows (short/NULL text) carry NO evidence of duplication and
    * classify fresh_frac = 1.0 — the same keep-side verdict the batch
    * q52 twin gives them (dup_frac = 0); an ingest filter keyed on
    * low fresh_frac must not silently drop every short document.
    */
  def classifyWindowClaims(claims: DataFrame, docs: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val hs = graft.queries.Dedup.windowHashesScala(text)
        (id, hs.length.toLong, hs.distinct.length.toLong)
      })
      .toDF(idCol, "n_windows", "n_distinct")
    counts
      .join(claims.groupBy(idCol).agg(countDistinct(col("h")).as("n_claimed")), Seq(idCol), "left")
      .select(col(idCol), col("n_windows"), col("n_distinct"),
        coalesce(col("n_claimed"), lit(0L)).as("n_claimed"))
      .withColumn("fresh_frac",
        when(col("n_distinct") === 0, lit(1.0))
          .otherwise(round(col("n_claimed") / col("n_distinct"), 6)))
  }

  /** Distinct window hashes of a (small) benchmark table, collected and
    * sorted for broadcast — the static side of [[decontamStream]]. The
    * driver collect is the same bounded-by-design shape as the ANN
    * codebook collect: benchmarks are MBs against a TB corpus (10^6
    * grams ≈ 8 MB as packed longs); a "benchmark" approaching corpus
    * size should run the batch q57 audit instead.
    */
  def benchmarkHashes(docs: DataFrame, textCol: String = "text"): Array[Long] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(textCol).cast("string")).as[Option[String]]
      .mapPartitions(_.flatMap(t =>
        graft.queries.Dedup.windowHashesScala(t.orNull).iterator))
      .distinct().collect().sorted
  }

  /** Streaming DECONTAMINATION gate — the ingest twin of the batch q57
    * audit, sharing its window-hash core: every arriving document is
    * scored against a fixed benchmark hash set (from
    * [[benchmarkHashes]]) and flagged before it can enter a training
    * corpus. Stateless by construction — the benchmark set is a sorted
    * broadcast array probed by binary search per window, so the query
    * needs no watermark, no state store, works in append mode, and a
    * document's verdict never depends on arrival order (unlike the
    * claim streams, there is no first-wins race: contamination is a
    * property of the document against a FIXED set). NULL/short texts
    * carry zero windows and flag clean, matching the batch twin.
    */
  def decontamStream(pages: DataFrame, benchHashes: Array[Long],
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val sorted = benchHashes.clone()
    java.util.Arrays.sort(sorted)
    val bc = spark.sparkContext.broadcast(sorted)
    pages
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, Option[String])]
      .mapPartitions { it =>
        val arr = bc.value
        it.map { case (id, t) =>
          val hs = graft.queries.Dedup.windowHashesScala(t.orNull)
          var c = 0L
          var i = 0
          while (i < hs.length) {
            if (java.util.Arrays.binarySearch(arr, hs(i)) >= 0) c += 1
            i += 1
          }
          (id, hs.length.toLong, c, c > 0)
        }
      }
      .toDF(idCol, "n_windows", "n_contaminated", "contaminated")
  }

  /** Custom session state via flatMapGroupsWithState: a user's session
    * closes after `gapUs` of inactivity — either when a later event
    * arrives past the gap, or when the processing-time timeout fires
    * (so idle users' final sessions are emitted and their state removed,
    * bounding the state store; the W6 rolling-state shape).
    * Late events merge without rewinding session boundaries.
    *
    * Gap arithmetic runs in event-time MICROSECONDS (Timestamp.getTime
    * would truncate to millis and disagree with the batch q61 audit
    * twin on boundary gaps — the r5-review finding); same (ts,
    * event_id) tie order as q61.
    */
  def sessionize(events: Dataset[Event], gapUs: Long = 30L * 60L * 1000000L): Dataset[Session] = {
    def micros(ts: java.sql.Timestamp): Long =
      (ts.getTime / 1000L) * 1000000L + ts.getNanos / 1000L
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (userId: Long, it: Iterator[Event], state: GroupState[Session]) => {
          if (state.hasTimedOut) {
            // idle past the gap: flush and free the state
            val done = state.getOption
            state.remove()
            done.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val out = scala.collection.mutable.ArrayBuffer.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = micros(e.ts)
              cur match {
                case Some(s) if t - s.last_us <= gapUs =>
                  // merge; a LATE event must not rewind the boundaries
                  cur = Some(s.copy(n_events = s.n_events + 1,
                    total_value = s.total_value + e.value,
                    started_us = math.min(s.started_us, t),
                    last_us = math.max(s.last_us, t)))
                case Some(s) =>
                  out += s // gap exceeded: emit closed session
                  cur = Some(Session(userId, 1, e.value, t, t))
                case None =>
                  cur = Some(Session(userId, 1, e.value, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutDuration(gapUs / 1000L)
            }
            out.iterator
          }
        })
  }
}
