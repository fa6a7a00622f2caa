package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

import graft.sources.WebhookSource

/** Event record as it flows through the streaming pipelines (mirrors
  * events.parquet / the webhook payload schema — FIXTURES.md).
  */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                 event_type: String, value: Double, props: String)

/** Per-user alarm emitted by the stateful consecutive-error detector. */
case class ErrorAlarm(user_id: Long, consecutive_errors: Int,
                      last_ts: java.sql.Timestamp)

/** One sketch counter emitted by the streaming frequent-items operator:
  * the current Misra-Gries lower bound for `token` within its hash
  * bucket's sub-stream.
  */
case class TokenCount(bucket: Int, token: String, est: Long)

/** One funnel-stage transition emitted by the streaming funnel: `user_id`
  * reached `stage` (1=view, 2=click, 3=purchase) at event time `ts`.
  * Each (user, stage) is emitted at most once, at its final value.
  */
case class FunnelStage(user_id: Long, stage: Int, ts: java.sql.Timestamp)

/** Silence alert: `user_id` produced no events for `silent_for_ms` of
  * event time after `last_ts` (heartbeat-loss detection).
  */
case class SilenceAlert(user_id: Long, last_ts: java.sql.Timestamp,
                        silent_for_ms: Long)

/** One watermark-finalized hour of a type's volume stream: the count,
  * the trailing-history depth it was judged against, and the
  * integer-exact 3σ anomaly verdict (streaming twin of
  * `Events.anomalyHours` — replay-pinned equal).
  */
case class HourlyVolume(event_type: String, hour: java.sql.Timestamp,
                        c: Long, n_hist: Long, anomaly: Boolean)

/** One finalized consecutive-event pair in a user's event-time order —
  * the streaming twin of `q_event_transitions`'s pair stream (`at` is
  * the SECOND event's time; aggregate downstream for the live matrix).
  */
case class Transition(user_id: Long, from_type: String, to_type: String,
                      at: java.sql.Timestamp)

/** Structured Streaming operator inventory (SURVEY.md §2.9). Each takes a
  * *streaming* DataFrame with the Event schema and returns the transformed
  * streaming DataFrame — callers pick the sink. The same logical plans run
  * in batch mode (Events.tumbling1h is the batch twin of `tumbling`),
  * which is how the DuckDB oracle indirectly covers the streaming
  * semantics; watermark/state behavior is covered by StreamOpsSpec replay
  * tests.
  *
  * State scale: every operator keys its state by (window, type) or
  * user_id — per-key state lives in that key's state-store partition, so
  * a 1000-executor cluster shards it by the same shuffle that routes the
  * data. Watermarks bound state size; without them these would grow
  * forever at 100 TB/day.
  */
object StreamOps {

  /** `withWatermark`, idempotently: a no-op when the incoming plan
    * already carries THE SAME event-time watermark, so the operators here
    * compose (e.g. `tumbling(dedup(events))`) without tripping Spark's
    * redefining-watermark error. An existing watermark on a DIFFERENT
    * column or horizon fails loudly instead of silently substituting its
    * late-data semantics (the r8 advice finding: a replay-horizon
    * `ingest_ts` watermark is not the documented `ts`/2h one) — the
    * caller must re-watermark explicitly if the substitution is meant.
    */
  private def ensureWatermark(df: DataFrame, tsCol: String,
                              delay: String): DataFrame =
    df.queryExecution.logical.collectFirst {
      case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => e
    } match {
      case None => df.withWatermark(tsCol, delay)
      case Some(e) =>
        require(e.eventTime.name == tsCol,
          s"plan already carries a watermark on '${e.eventTime.name}' but " +
            s"this operator defines lateness on '$tsCol' — different " +
            "late-data semantics; withWatermark the intended column first")
        val want = org.apache.spark.sql.catalyst.util.IntervalUtils
          .safeStringToInterval(
            org.apache.spark.unsafe.types.UTF8String.fromString(delay))
        require(want == null || e.delay == want,
          s"plan already carries a '${e.delay}' watermark on '$tsCol' but " +
            s"this operator documents '$delay' — compose with the matching " +
            "horizon or re-watermark explicitly")
        df
    }

  /** Per-hour per-type tumbling counts + sums; 2h watermark bounds state
    * and admits late events up to 2h behind the max seen ts.
    */
  def tumbling(events: DataFrame): DataFrame =
    ensureWatermark(events, "ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** 1-hour window sliding every 15 minutes (each event lands in 4
    * windows).
    */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Per-hour per-type APPROXIMATE distinct users — the streaming form of
    * `q_approx_distinct`. HLL++ buffers are mergeable, so the sketch
    * composes across micro-batches exactly like count/sum: constant state
    * per (window, type) key no matter how many users stream through —
    * the exact-distinct form would hold every user id in state. Replay-
    * checked equal to the batch twin over the same events.
    */
  def tumblingUniques(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("n_users_approx"))

  /** Per-hour per-type APPROXIMATE value percentiles — the streaming form
    * of `q_approx_percentiles`, completing the mergeable-sketch column
    * (HLL uniques, Misra-Gries top-k, and this): `approx_percentile`'s
    * KLL-style buffer merges across micro-batches like any aggregate
    * state, so per-(window, type) state is a bounded sketch no matter how
    * many events stream through — an EXACT streaming percentile would
    * buffer every value forever. Replay contract: counts are exact; the
    * percentile estimates land within the sketch's error envelope of the
    * batch aggregate over the same events, NOT byte-equal — KLL merge
    * results depend on merge order, which replay does not fix (the spec
    * asserts the tolerance, not equality — never hash-compare this).
    */
  def tumblingPercentiles(events: DataFrame,
                          accuracy: Int = 10000): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr(s"approx_percentile(value, 0.5, $accuracy)").as("p50"),
        expr(s"approx_percentile(value, 0.95, $accuracy)").as("p95"))

  /** Streaming distribution-DRIFT monitor (s_drift) — the streaming twin
    * of `q_psi_drift` (Events.psiDrift): each 1-day event-time window's
    * `value` histogram is judged against a FROZEN baseline histogram
    * (built once from the historical corpus by [[driftBaseline]]) with
    * the same add-one-smoothed PSI formula, flagged past `flagAt`. In
    * production the baseline is the last vetted corpus profile; freezing
    * it is what makes the monitor a detector rather than a tautology (a
    * self-updating baseline absorbs the drift it should report).
    *
    * State: one (window, type) row of `buckets` counters — the
    * windowed-agg class, bounded by the watermark horizon. The baseline
    * joins per micro-batch as a static |types|-row table (stream–static
    * enrich class), and the PSI fold is stateless column arithmetic over
    * the finalized agg row with the batch twin's exact DECIMAL re-entry
    * discipline — so replay ≡ batch row-for-row, booleans included.
    */
  def psiDrift(events: DataFrame, baseline: DataFrame,
               lo: Double, hi: Double, buckets: Int = 10,
               flagAt: Double = 0.2): DataFrame = {
    val width = (hi - lo) / buckets
    // clamp BOTH sides: live values legitimately fall outside the FROZEN
    // baseline's range (that IS drift) — an unclamped negative bucket
    // would land in no histogram cell while still counting in day_n,
    // under-reporting exactly the downward shift the monitor exists to
    // catch; a degenerate baseline (hi == lo) collapses to bucket 0
    val counted = ensureWatermark(events, "ts", "2 hours")
      .withColumn("bucket",
        (if (width == 0) lit(0L) else
          greatest(least(floor((col("value") - lo) / width),
            lit(buckets - 1L)), lit(0L)))
          .cast("long"))
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("day_n"),
        (0 until buckets).map(i =>
          sum(when(col("bucket") === i, 1L).otherwise(0L)).as(s"c$i")): _*)
    val dec = org.apache.spark.sql.types.DecimalType(20, 9)
    val psi = (0 until buckets).map { i =>
      val p = (col(s"c$i") + 1).cast("double") / (col("day_n") + buckets)
      val q = (col(s"q$i") + 1).cast("double") / (col("base_n") + buckets)
      round((p - q) * log(p / q), 9).cast(dec)
    }.reduce(_ + _)
    counted.join(baseline, "event_type")
      .select(col("window"), col("event_type"),
        round(psi.cast("double"), 6).as("psi"))
      .withColumn("drift", col("psi") > flagAt)
  }

  /** Streaming content-NOVELTY monitor (s_novelty) — the content-drift
    * twin of [[psiDrift]]'s value drift, and the live half of
    * `q_ngram_novelty`'s acquisition report: for each arriving document,
    * its 3-gram shingles (the corpus-wide shingle rule,
    * `DedupOps.shingleSet`) are checked against a FROZEN corpus shingle
    * set, and the running per-source totals answer "what fraction of
    * this feed's content is actually new vs what we already have" —
    * a feed that goes off-topic spikes, a feed re-crawling the corpus
    * flatlines near zero.
    *
    * Shape: a typed flatMap shingles each arriving doc, a stream–static
    * LEFT OUTER join resolves membership against the (corpus-resident)
    * shingle set per micro-batch — the [[dedupAgainstCorpus]] class; the
    * static side is corpus-sized and therefore a JOIN, never a broadcast
    * state — and the running aggregate holds exactly two counters per
    * source, forever. Exact (no sketch), replay-deterministic: the final
    * row per source equals the batch recompute over everything streamed,
    * under any micro-batch split.
    */
  def contentNovelty(docs: DataFrame, corpusShingles: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sh = docs.select(col("source"), col("text")).as[(String, String)]
      .flatMap { case (src, t) =>
        graft.operators.DedupOps.shingleSet(t).iterator.map(sg => (src, sg))
      }
      .toDF("source", "s")
    sh.join(corpusShingles.withColumn("known", lit(1L)), Seq("s"),
        "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_rate",
        round(col("n_novel").cast("double") / col("n_shingles"), 4))
  }

  /** STREAMING QUALITY MONITOR (s_quality) — the live twin of
    * `Quality.split`: every arriving row is judged against the SAME
    * row-level constraint predicates the batch admission gate compiles
    * (one shared `Quality.rowPredicates` seam — the two gates cannot
    * drift), and the stream maintains exact running counters per
    * (key, metric): `_rows` (everything seen), `_clean` (no violation),
    * and one row per violated constraint label. The per-feed data-quality
    * telemetry a long-running ingest deploy watches — a producer that
    * starts shipping NULL user ids or out-of-range values moves its
    * counter on the next micro-batch.
    *
    * Shape: the constraint predicates evaluate in the stateless
    * projection (same codegen'd stage as the scan — the `Quality.split`
    * cost argument), each row explodes to its ≤ constraints+2 metric
    * tags, and the running aggregate holds exactly
    * |keys| × (|constraints| + 2) counters forever — bounded state, no
    * watermark needed (counters are totals, not windows). Update-mode
    * emission; exact and replay-deterministic under any micro-batch
    * split.
    */
  def qualityMonitor(events: DataFrame,
                     constraints: Seq[graft.operators.Quality.Constraint],
                     keyCol: String = "event_type"): DataFrame = {
    val preds = graft.operators.Quality.rowPredicates(constraints)
    val viol = filter(
      array(preds.map { case (label, p) => when(p, lit(label)) }: _*),
      _.isNotNull)
    val tags = concat(
      array(lit("_rows")),
      when(size(viol) === 0, array(lit("_clean")))
        .otherwise(array().cast("array<string>")),
      viol)
    events
      .select(col(keyCol).as("key"), explode(tags).as("metric"))
      .groupBy(col("key"), col("metric"))
      .agg(count(lit(1)).as("n"))
  }

  /** STREAMING OOV MONITOR (s_oov) — the live twin of `q_oov_rate` and
    * the token-level sibling of [[contentNovelty]]'s shingle monitor:
    * arriving documents' tokens are checked against a FROZEN top-N
    * vocabulary (built by the SAME `TextOps.corpusVocab` rule the batch
    * query ranks with — one tokenization + tie-break source, the gates
    * cannot drift), and the stream maintains exact running
    * (n_tokens, n_oov) counters per language. The tokenizer-health
    * telemetry a training-data deploy watches: a feed drifting into a
    * vocabulary the tokenizer can't cover moves its OOV rate on the
    * next micro-batch — BEFORE the tokens reach a training run as UNK
    * storms.
    *
    * Shapes: tokenization in the stateless projection; the frozen vocab
    * is vocabSize rows — it BROADCASTS (unlike the corpus-sized shingle
    * set [[contentNovelty]] must join); state is two exact counters per
    * language, forever bounded, no watermark (totals, not windows).
    * Update-mode emission; replay-deterministic under any micro-batch
    * split (spec pins final ≡ the batch recompute).
    */
  def oovMonitor(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs
      .select(col("lang"), graft.operators.TextOps.wordTokens.as("word"))
      .join(broadcast(vocab.withColumn("in_vocab", lit(1))), Seq("word"),
        "left_outer")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 4))

  /** STREAMING TOKENIZATION MONITOR (s_tokenize) — the live third leg
    * of the BPE train/apply story (`q_bpe_merges` trains, `q_bpe_encode`
    * reports corpus-wide, this watches the FEED): arriving documents
    * are tokenized with a FROZEN learned merge list through the SAME
    * `TextOps.bpeApply` rule as the batch encode (one application
    * formula — the gates cannot drift), and the stream maintains exact
    * running per-source counters: docs, words, raw symbols, BPE tokens,
    * compression. The telemetry that catches a feed whose text stops
    * compressing (markup storms, wrong-language drift, binary spill) —
    * tokens-per-word rises on the next micro-batch, BEFORE a training
    * run pays the bloated sequence lengths.
    *
    * Shapes: the merge list is k rows and rides the closure (the
    * `q_bpe_encode` broadcast discipline); tokenization is the
    * stateless typed map; state is five exact counters per source,
    * forever bounded, no watermark. Update-mode emission;
    * replay-deterministic under any micro-batch split (spec pins final
    * ≡ the `q_bpe_encode`-shaped batch recompute).
    */
  def tokenMonitor(docs: DataFrame,
                   merges: Seq[(String, String)]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("source"), col("text")).as[(String, String)]
      .map { case (source, text) =>
        val words = text.split("\\s+").filter(_.nonEmpty)
        var nSyms = 0L
        var nToks = 0L
        words.foreach { w =>
          val (sy, tk) = graft.operators.TextOps.bpeApply(w, merges)
          nSyms += sy; nToks += tk
        }
        (source, 1L, words.length.toLong, nSyms, nToks)
      }
      .toDF("source", "d", "w", "sy", "tk")
      .groupBy(col("source"))
      .agg(sum(col("d")).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("sy")).as("n_symbols"), sum(col("tk")).as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_symbols").cast("double") / col("n_bpe_tokens"), 4))
  }

  /** Frozen corpus shingle set for [[contentNovelty]] — distinct shingles
    * of the historical documents table under the same shingle rule.
    * FROZEN for real (r20, guide §5/§1.2): a stream–static join
    * re-executes the static subtree EVERY micro-batch, so the lazy
    * form re-scanned and re-shingled the whole corpus per batch — at N
    * batches that is N corpus passes for one frozen set. The eager
    * localCheckpoint materializes the set once at monitor build (the
    * [[graft.StreamBench]] oov pipeline's documented discipline);
    * batches read the checkpointed rows.
    */
  def noveltyCorpus(staticDocs: DataFrame): DataFrame = {
    val s = staticDocs.sparkSession
    import s.implicits._
    staticDocs.select(col("text")).as[String]
      .flatMap(t => graft.operators.DedupOps.shingleSet(t).iterator)
      .toDF("s").distinct()
      .localCheckpoint(true)
  }

  /** Frozen baseline for [[psiDrift]]: per event_type the bucket-count
    * histogram of the historical corpus plus its total, and the bucket
    * edges (global min/max) the monitor must keep using. The 1-row
    * min/max collect is bounded metadata (the centroid-table class).
    */
  def driftBaseline(static: DataFrame,
                    buckets: Int = 10): (DataFrame, Double, Double) = {
    val r = static.agg(min(col("value")), max(col("value"))).head()
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    val width = (hi - lo) / buckets
    val b = static
      .withColumn("bucket",
        (if (width == 0) lit(0L) else
          greatest(least(floor((col("value") - lo) / width),
            lit(buckets - 1L)), lit(0L)))
          .cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("base_n"),
        (0 until buckets).map(i =>
          sum(when(col("bucket") === i, 1L).otherwise(0L)).as(s"q$i")): _*)
    (b, lo, hi)
  }

  /** Session windows with a 30-minute inactivity gap — the streaming twin
    * of Windows.sessionize (same gap constant).
    */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** At-least-once → exactly-once: drop replayed webhook deliveries by
    * event_id. State for an id is held only within the watermark — the
    * delivery-retry horizon — so it can't grow unboundedly.
    * The webhook-domain signature operator (SURVEY §2.9).
    */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** The receiving half of the outbound-delivery contract: webhook POSTs
    * ingested through `WebhookSource` carry the sender's `X-Delivery-Key`
    * idempotency header as the `delivery_key` column; dropping duplicates
    * on it collapses every at-least-once duplicate the delivery side can
    * produce — a foreachBatch replay after a crash in the POST→ledger
    * window, and task-retry/speculative re-POSTs — because all of them
    * re-send the SAME `batchId:key` header (WebhookDelivery's contract).
    * A duplicate can only arrive within the sender's replay horizon.
    *
    * Two plans, one result. When `posts` still carries the front door's
    * `first_delivery` mark and its metadata says the mark covers
    * `replayHorizon` (the raw `WebhookSource`, or any projection that
    * keeps the column), the dedup is the filter `first_delivery`: no
    * state store and no watermark-eviction batches. Otherwise (a
    * MemoryStream, a projection without the column, a longer horizon) it
    * drops duplicates within a watermark on ingest time, with state
    * bounded by that watermark. Either way the output has no
    * `first_delivery` column, and the watermark on `ingest_ts` is set.
    *
    * KEYLESS posts (a sender that set no header → NULL `delivery_key`)
    * pass through untouched: `dropDuplicates` compares nulls EQUAL, so
    * deduping on the raw column would collapse every keyless delivery
    * ever seen into the first one — silent data loss dressed as dedup.
    * A per-attempt `uuid()` stands in for the missing key, which can
    * never match another row (or a replay of itself): no header means
    * no dedup contract, so those rows stay at-least-once by design.
    */
  def dedupDeliveries(posts: DataFrame,
                      replayHorizon: String = "2 hours"): DataFrame = {
    val watermarked = posts.withWatermark("ingest_ts", replayHorizon)
    if (WebhookSource.marksCover(posts.schema, replayHorizon))
      watermarked.filter(col("first_delivery")).drop("first_delivery")
    else
      watermarked
        .withColumn("dedup_key", coalesce(col("delivery_key"), expr("uuid()")))
        .dropDuplicatesWithinWatermark("dedup_key")
        .drop("dedup_key", "first_delivery")
  }

  /** Stream–static enrichment: join the live stream against the customer
    * dimension. The static side is broadcast per micro-batch; no stream
    * state.
    */
  def enrich(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(customer,
      events("user_id") === customer("c_custkey"), "left_outer")

  /** SCD-2 TEMPORAL enrichment (s_scd_enrich) — [[enrich]] against a
    * VERSIONED dimension: each event joins the attribute version that
    * was valid AT ITS EVENT TIME (`valid_from ≤ ts < valid_to`, the
    * half-open slowly-changing-dimension convention; a NULL `valid_to`
    * is the open current version). The live half of `q_asof_lookup`:
    * a late-arriving event is enriched with the attributes it SAW, not
    * today's — the correctness property a plain current-version join
    * silently violates for every record that arrives after a dimension
    * update.
    *
    * Shapes: stream–static LEFT OUTER with the key equality plus the
    * validity range as join residuals — no stream state at all. The
    * static subplan re-EXECUTES per micro-batch, but a raw parquet-path
    * dimension pins the file listing resolved at query start — an
    * in-place overwrite republish fails the stream with
    * FILE_NOT_EXIST (measured), so a dimension publisher either serves
    * versions through a catalog-managed table or publishes each
    * snapshot to a NEW path and bounces the query (the spec
    * demonstrates the snapshot+restart pattern; checkpointed queries
    * resume exactly where they stopped, so the bounce loses nothing).
    * With
    * non-overlapping version windows (the SCD-2 contract, which the
    * spec's recompute assumes and asserts) each event matches ≤ 1
    * version, so the join never fans rows out. At scale the static
    * side is the usual broadcast dim; events with no valid version
    * (before the first, or in a maintenance gap) keep NULL attributes
    * rather than silently dropping — route them like any other
    * dead-letter.
    */
  def scdEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(dim,
      events("user_id") === dim("key") &&
        events("ts") >= dim("valid_from") &&
        (dim("valid_to").isNull || events("ts") < dim("valid_to")),
      "left_outer")
      .drop("key")

  /** Per-user alarm state for [[AlarmProcessor]]: the current consecutive-
    * error run, the user's latest event time (for idle-eviction staleness
    * checks when a timer fires), and the currently armed timer timestamp
    * so each batch can delete the timer it supersedes — without that, an
    * active key accumulates one pending timer per batch it appears in, and
    * timer-state size grows with batch count instead of key count.
    */
  case class AlarmState(run: Int, lastSeenMs: Long, armedTimerMs: Long)

  /** `transformWithState` implementation of the consecutive-error alarm —
    * the Spark 4 arbitrary-state API (SURVEY §2.9 row s_stateful names
    * both). Semantics are identical to [[StreamOps.errorAlarms]]; the specs
    * replay both against the same batches. Differences that matter at
    * scale: typed state handles (`ValueState` here; List/Map state for
    * richer operators) live in RocksDB — state can exceed executor heap —
    * and eviction uses explicit event-time timers instead of a single
    * per-key timeout slot — each batch deletes the timer it supersedes so
    * a key holds exactly one, and an expiry still re-checks staleness
    * against the stored last-seen time before clearing.
    */
  private class AlarmProcessor(threshold: Int, horizonMs: Long)
    extends StatefulProcessor[Long, Event, ErrorAlarm] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[AlarmState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[AlarmState]("alarm",
        Encoders.product[AlarmState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[ErrorAlarm] = {
      val prev = if (state.exists()) state.get() else AlarmState(0, 0L, 0L)
      var run = prev.run
      var maxTs = prev.lastSeenMs
      val alarms = scala.collection.mutable.ArrayBuffer[ErrorAlarm]()
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        maxTs = math.max(maxTs, e.ts.getTime)
        if (e.event_type == "error") {
          run += 1
          if (run == threshold) alarms += ErrorAlarm(userId, run, e.ts)
        } else run = 0
      }
      // one pending timer per key: delete the one the previous batch armed
      // before registering its replacement (the staleness re-check in
      // handleExpiredTimer stays as a belt-and-braces guard)
      val timer = math.max(tv.getCurrentWatermarkInMs(), maxTs) + horizonMs
      if (prev.armedTimerMs != 0L && prev.armedTimerMs != timer)
        getHandle.deleteTimer(prev.armedTimerMs)
      getHandle.registerTimer(timer)
      state.update(AlarmState(run, maxTs, timer))
      alarms.iterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[ErrorAlarm] = {
      // stale-run eviction — but only if the user is genuinely idle (a
      // later batch may have re-armed a newer timer for the same key)
      if (state.exists() &&
          tv.getCurrentWatermarkInMs() >= state.get().lastSeenMs + horizonMs)
        state.clear()
      Iterator.empty
    }
  }

  /** [[errorAlarms]] on the Spark 4 `transformWithState` API (RocksDB
    * state store required — set
    * `spark.sql.streaming.stateStore.providerClass` to the RocksDB
    * provider on the session). Same alarm semantics, same eviction
    * behavior; see [[AlarmProcessor]] for what the new API changes.
    */
  def errorAlarmsTws(events: Dataset[Event], threshold: Int = 3,
                     idleHorizon: String = "2 hours"): Dataset[ErrorAlarm] = {
    import events.sparkSession.implicits._
    val horizonMs = horizonToMs(idleHorizon)
    events
      .withWatermark("ts", idleHorizon)
      .groupByKey(_.user_id)
      .transformWithState(new AlarmProcessor(threshold, horizonMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Per-bucket Misra-Gries state machine for [[streamTopK]]. The sketch
    * lives in a `MapState[String, Long]` (≤ m entries per bucket — RocksDB-
    * backed, so a wide sketch never pressures executor heap), and each
    * micro-batch applies the SAME amortized-O(1) update rule as the batch
    * twin (`TextOps.mgTopK`): increment a present counter, admit below
    * capacity, else decrement-all. Sequential MG over batch boundaries IS
    * Misra-Gries over the concatenated stream — the algorithm never needed
    * to see its input in one piece, which is exactly why it streams — so
    * every per-bucket guarantee carries over: each counter is a lower
    * bound within n_bucket/(m+1) of that token's true bucket count, and a
    * token's whole count lives in ONE bucket (hash routing), never split.
    *
    * Emission is Update-mode: a batch re-emits the counters it touched;
    * the sink keeps the latest snapshot per bucket (the serving pattern
    * for a live "trending tokens" board). State writes are diffed —
    * untouched counters are not rewritten, evicted ones are removed.
    */
  private class TopKProcessor(m: Int)
    extends StatefulProcessor[Int, String, TokenCount] {
    @transient private var state: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getMapState[String, Long]("mg",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(bucket: Int, rows: Iterator[String],
                                 tv: TimerValues): Iterator[TokenCount] = {
      val counts = new scala.collection.mutable.HashMap[String, Long]
      state.iterator().foreach { case (t, c) => counts(t) = c }
      val before = counts.toMap
      rows.foreach { w =>
        counts.get(w) match {
          case Some(c) => counts(w) = c + 1
          case None if counts.size < m => counts(w) = 1L
          case None =>
            val dead = List.newBuilder[String]
            counts.foreach { case (t, c) =>
              if (c == 1L) dead += t else counts(t) = c - 1
            }
            dead.result().foreach(counts.remove)
        }
      }
      before.keysIterator
        .filterNot(counts.contains).foreach(state.removeKey)
      counts.foreach { case (t, c) =>
        if (!before.get(t).contains(c)) state.updateValue(t, c)
      }
      counts.iterator.map { case (t, c) => TokenCount(bucket, t, c) }
    }
  }

  /** Streaming weighted reservoir — the stream twin of
    * `q_sample_weighted`: the same Efraimidis–Spirakis key
    * (wkey = u^(1/n_chars), u from md5 — the no-RNG discipline, so the
    * reservoir is replay-deterministic where a `rand()` reservoir is
    * not) maintained continuously as a GLOBAL streaming top-k via the
    * bounded-heap `top_k` Aggregator. At every micro-batch the single
    * state row IS a valid weighted sample-without-replacement of
    * everything streamed so far — the "always-fresh training sample"
    * a continuous-curation loop reads.
    *
    * State bound: the aggregation buffer is ≤ k (id, key) pairs —
    * FOREVER, regardless of stream volume. The global (no-key) agg is
    * not a bottleneck: partial aggregation reduces each input partition
    * to ≤ k pairs before the single-group merge, so the per-batch
    * shuffle is partitions·k rows, never the batch. Emit in Update (or
    * Complete) mode; each emission carries the full reservoir in rank
    * order.
    */
  def streamWeightedSample(docs: DataFrame, k: Int = 100): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val topk = udaf(new graft.functions.TopKAggregator(k))
    val h = conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
      .cast("long")
    docs
      .select($"doc_id",
        round(pow((h.cast("double") + lit(0.5)) / lit(4294967296.0),
          lit(1.0) / $"n_chars".cast("double")), 9).as("wkey"))
      .agg(topk($"doc_id", $"wkey").as("sample"))
  }

  /** Streaming frequent items — the streaming form of `q_approx_topk`
    * (completing the mergeable-sketch family's streaming column next to
    * s_uniques' HLL): a token stream is hash-routed into `buckets`
    * sub-streams, each maintaining a bounded Misra-Gries sketch across
    * micro-batches via `transformWithState`. Total state is ≤ buckets·m
    * counters FOREVER, no matter how many tokens stream through — the
    * exact streaming `groupBy(token).count()` would hold one counter per
    * distinct token (unbounded at web scale). Top-k is served by merging
    * the ≤ buckets·m snapshot rows sink-side (each token's count lives in
    * exactly one bucket, so the merge is a sort, not a re-aggregation).
    * `buckets` plays the role the partition count plays in the batch twin:
    * it shards sketch work across the cluster's state-store partitions.
    */
  def streamTopK(tokens: Dataset[String], m: Int = 1024,
                 buckets: Int = 32): Dataset[TokenCount] = {
    import tokens.sparkSession.implicits._
    tokens
      .groupByKey(t =>
        math.floorMod(scala.util.hashing.MurmurHash3.stringHash(t), buckets))
      .transformWithState(new TopKProcessor(m),
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-user streaming-funnel state: the finalized stage chain (earliest
    * view / earliest qualifying click / earliest qualifying purchase, in
    * epoch ms; 0 = slot unfilled), the armed flush-timer timestamp
    * (same one-timer-per-key discipline as [[AlarmProcessor]]), and the
    * latest event time seen (`lastMs` — drives idle retirement).
    */
  case class FunnelChain(vMs: Long, cMs: Long, pMs: Long,
                         armedTimerMs: Long, lastMs: Long)

  /** Streaming ordered funnel — the stream twin of `q_funnel`, and the
    * one operator here that genuinely needs watermark-delayed
    * finalization: the chain folds events in EVENT-TIME order (a late
    * `view` can re-qualify a click that a naive eager fold already
    * rejected), so each user's events buffer in `ListState` until the
    * watermark passes them, then drain in (ts, event_id) order through
    * the stage machine. Within the allowed lateness the result is
    * byte-equal to the batch funnel; events later than the watermark are
    * dropped upstream by `withWatermark`, the same contract every
    * watermarked operator here carries.
    *
    * State bound: the buffer holds at most one lateness-horizon of a
    * user's events (flushed rows are removed, and once the chain
    * completes the processor stops buffering entirely and clears the
    * list), the chain is five longs, and a chain with no pending buffer
    * — incomplete OR completed — retires via an event-time cleanup timer
    * once the user has been idle past `idleRetentionMs`. So state is
    * O(users active within the idle-retention horizon), never all users
    * ever seen, sharded by the same shuffle as the data. Emission is
    * Append-mode and final WITHIN a retention cycle: a (user, stage) row
    * is emitted exactly once when the watermark proves no earlier event
    * can change it; a user returning after retirement starts a fresh
    * funnel cycle (the [[SilenceProcessor]] recycle contract) and may
    * emit its stages again.
    */
  private class FunnelProcessor(idleRetentionMs: Long = 30L * 86400000L)
    extends StatefulProcessor[Long, Event, FunnelStage] {
    @transient private var chain: org.apache.spark.sql.streaming.ValueState[FunnelChain] = _
    @transient private var buf: org.apache.spark.sql.streaming.ListState[Event] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      chain = getHandle.getValueState[FunnelChain]("chain",
        Encoders.product[FunnelChain], TTLConfig.NONE)
      buf = getHandle.getListState[Event]("buf", Encoders.product[Event],
        TTLConfig.NONE)
    }

    /** Drain buffered events finalized by `wmMs` through the stage
      * machine in event-time order; rewrite the buffer with the still-
      * pending tail; re-arm the single timer — a flush at the oldest
      * pending event when something is buffered, the idle-retirement
      * cleanup at lastMs + retention otherwise. Returns the pending
      * count so callers can tell a drained key from a buffering one.
      */
    private def flush(userId: Long, wmMs: Long, prev: FunnelChain)
    : (FunnelChain, List[FunnelStage], Int) = {
      val (ready, pending) = buf.get().toSeq
        .partition(_.ts.getTime <= wmMs)
      var (v, c, p) = (prev.vMs, prev.cMs, prev.pMs)
      val out = List.newBuilder[FunnelStage]
      ready.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        e.event_type match {
          case "view" if v == 0L =>
            v = t; out += FunnelStage(userId, 1, e.ts)
          case "click" if v != 0L && c == 0L && t > v =>
            c = t; out += FunnelStage(userId, 2, e.ts)
          case "purchase" if c != 0L && p == 0L && t > c =>
            p = t; out += FunnelStage(userId, 3, e.ts)
          case _ => ()
        }
      }
      buf.clear()
      val nPending = if (p == 0L && pending.nonEmpty) {
        buf.appendList(pending.toArray); pending.size
      } else 0
      // one timer per key: flush when the watermark reaches the oldest
      // pending event; otherwise retire the (complete or stalled) chain
      // after an idle-retention of event-time silence
      val timer =
        if (nPending > 0) pending.map(_.ts.getTime).min
        else prev.lastMs + idleRetentionMs
      if (prev.armedTimerMs != 0L && prev.armedTimerMs != timer)
        getHandle.deleteTimer(prev.armedTimerMs)
      if (timer != 0L && timer != prev.armedTimerMs)
        getHandle.registerTimer(timer)
      (FunnelChain(v, c, p, timer, prev.lastMs), out.result(), nPending)
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[FunnelStage] = {
      val prev0 = if (chain.exists()) chain.get()
                  else FunnelChain(0L, 0L, 0L, 0L, 0L)
      // completed funnels ignore further events for OUTPUT — nothing can
      // change within this retention cycle — but still track lastMs and
      // slide the cleanup timer with it: retirement is idle-based (the
      // funnelStages contract), so a user who keeps sending events after
      // completing must not be retired and re-emit stages on their next
      // view
      if (prev0.pMs != 0L) {
        val last = rows.foldLeft(prev0.lastMs)((m, e) =>
          math.max(m, e.ts.getTime))
        if (last > prev0.lastMs) {
          val timer = last + idleRetentionMs
          if (prev0.armedTimerMs != 0L && prev0.armedTimerMs != timer)
            getHandle.deleteTimer(prev0.armedTimerMs)
          if (timer != prev0.armedTimerMs) getHandle.registerTimer(timer)
          chain.update(prev0.copy(armedTimerMs = timer, lastMs = last))
        }
        return Iterator.empty
      }
      val funnelRows = rows.filter(e =>
        e.event_type == "view" || e.event_type == "click" ||
          e.event_type == "purchase").toArray
      if (funnelRows.nonEmpty) buf.appendList(funnelRows)
      val last = funnelRows.foldLeft(prev0.lastMs)((m, e) =>
        math.max(m, e.ts.getTime))
      val (next, out, _) =
        flush(userId, tv.getCurrentWatermarkInMs(), prev0.copy(lastMs = last))
      chain.update(next)
      out.iterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo)
    : Iterator[FunnelStage] = {
      val prev = if (chain.exists()) chain.get()
                 else FunnelChain(0L, 0L, 0L, 0L, 0L)
      val (next, out, nPending) = flush(userId,
        tv.getCurrentWatermarkInMs(), prev.copy(armedTimerMs = 0L))
      // idle retirement: nothing buffered and the user has been silent
      // past the retention horizon — drop ALL state so long-tail users
      // (bounced visitors, completed funnels) can't accumulate forever
      if (nPending == 0 &&
          info.getExpiryTimeInMs() >= next.lastMs + idleRetentionMs) {
        if (next.armedTimerMs != 0L) getHandle.deleteTimer(next.armedTimerMs)
        chain.clear()
        buf.clear()
      } else chain.update(next)
      out.iterator
    }
  }

  /** Per-user silence-detector state: latest event time seen and the
    * armed timer (one per key, [[AlarmProcessor]] discipline).
    */
  case class SilenceState(lastSeenMs: Long, armedTimerMs: Long)

  /** Heartbeat-loss detection — the NEGATIVE event no aggregation can
    * produce: an alert that a key STOPPED sending. Only event-time
    * timers can express this (there is no row to trigger on), which is
    * why it lives on `transformWithState`: every batch re-arms the
    * user's single timer at lastSeen + horizon; if the watermark reaches
    * it first, the silence is proven (no event with earlier ts can still
    * arrive) and one alert fires. State then clears — a returning user
    * starts a fresh cycle (and may alert again on a later silence), so
    * state is O(currently-active users), not all-time.
    */
  private class SilenceProcessor(horizonMs: Long)
    extends StatefulProcessor[Long, Event, SilenceAlert] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[SilenceState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SilenceState]("silence",
        Encoders.product[SilenceState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[SilenceAlert] = {
      val prev = if (state.exists()) state.get() else SilenceState(0L, 0L)
      var maxTs = prev.lastSeenMs
      rows.foreach(e => maxTs = math.max(maxTs, e.ts.getTime))
      val timer = maxTs + horizonMs
      if (prev.armedTimerMs != 0L && prev.armedTimerMs != timer)
        getHandle.deleteTimer(prev.armedTimerMs)
      if (timer != prev.armedTimerMs) getHandle.registerTimer(timer)
      state.update(SilenceState(maxTs, timer))
      Iterator.empty
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo)
    : Iterator[SilenceAlert] = {
      // a later batch may have re-armed a newer timer; only a timer that
      // still matches the stored state proves genuine silence
      if (state.exists() &&
          state.get().armedTimerMs == info.getExpiryTimeInMs()) {
        val last = state.get().lastSeenMs
        state.clear()
        Iterator.single(SilenceAlert(userId, new java.sql.Timestamp(last),
          tv.getCurrentWatermarkInMs() - last))
      } else Iterator.empty
    }
  }

  /** Per-type anomaly-detector state: the ring of the last ≤24 FINALIZED
    * (hour, count) pairs — the trailing history the batch twin's ROWS
    * −24..−1 frame reads — plus the armed-timer slot (one per key).
    */
  case class AnomalyRing(hours: Array[Long], counts: Array[Long],
                         armedTimerMs: Long)

  /** Streaming hourly-volume anomaly detection — the stream twin of
    * `q_anomaly_hours`, and the alerting operator a webhook deploy runs
    * live: when the watermark proves an hour COMPLETE for a type (no
    * event of that hour can still arrive), the hour is judged against
    * the trailing ≤24 finalized hours with the SAME integer-exact 3σ
    * rule as the batch query ((n·c−S)²(n−1) > 9n(nΣc²−S²) — shared
    * arithmetic, no float boundary), emitted once (Append, final), and
    * pushed into the ring.
    *
    * State per type: the open-hours map (bounded by the lateness
    * horizon — a finalized hour can't reopen because rows older than
    * the watermark are dropped before they reach the processor) plus
    * 2×24 longs of ring. Hours finalize in ascending event-time order
    * (multi-hour watermark jumps drain oldest-first), so the ring is
    * exactly the batch frame's "trailing 24 observed hours" — the
    * replay spec pins stream ≡ batch row-for-row.
    */
  private class AnomalyProcessor
    extends StatefulProcessor[String, Event, HourlyVolume] {
    @transient private var open: org.apache.spark.sql.streaming.MapState[Long, Long] = _
    @transient private var ring: org.apache.spark.sql.streaming.ValueState[AnomalyRing] = _
    private val HourMs = 3600000L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getMapState[Long, Long]("open",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      ring = getHandle.getValueState[AnomalyRing]("ring",
        Encoders.product[AnomalyRing], TTLConfig.NONE)
    }

    /** Finalize every open hour the watermark has passed, oldest first;
      * re-arm the single timer at the earliest still-open hour's end.
      */
    private def drain(typ: String, wmMs: Long): Iterator[HourlyVolume] = {
      val prev = if (ring.exists()) ring.get()
                 else AnomalyRing(Array.empty, Array.empty, 0L)
      val all = open.iterator().map { case (h, c) => (h, c) }.toArray
      val (done, still) = all.partition { case (h, _) => h + HourMs <= wmMs }
      var hours = prev.hours
      var counts = prev.counts
      val out = done.sortBy(_._1).flatMap { case (h, c) =>
        val n = hours.length.toLong
        // BigInt: c² and the products below wrap Long past ~10⁸
        // events/hour — the batch twin widens to DECIMAL(38,0) at the
        // same spots, so the two sides can't split on an overflow
        val s1 = counts.foldLeft(BigInt(0))(_ + _)
        val s2 = counts.foldLeft(BigInt(0))((a, x) => a + BigInt(x) * x)
        val num = BigInt(n) * c - s1
        val anomaly = n > 1 && num > 0 &&
          num * num * (n - 1) > BigInt(9) * n * (BigInt(n) * s2 - s1 * s1)
        hours = (hours :+ h).takeRight(24)
        counts = (counts :+ c).takeRight(24)
        open.removeKey(h)
        // warm-up gate shared with the batch twin's `n >= 12` filter: a
        // band built on <12 history hours is unstable (2 quiet hours of
        // history flag any busy third), so the hour still enters the
        // ring but emits no row — stream ≡ batch with NO consumer-side
        // filtering, and no spurious pages in the first half-day of a
        // fresh event type
        if (n >= 12)
          Some(HourlyVolume(typ, new java.sql.Timestamp(h), c, n, anomaly))
        else None
      }
      val timer = if (still.isEmpty) 0L else still.map(_._1).min + HourMs
      if (prev.armedTimerMs != 0L && prev.armedTimerMs != timer)
        getHandle.deleteTimer(prev.armedTimerMs)
      if (timer != 0L && timer != prev.armedTimerMs)
        getHandle.registerTimer(timer)
      ring.update(AnomalyRing(hours, counts, timer))
      out.iterator
    }

    override def handleInputRows(typ: String, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[HourlyVolume] = {
      rows.foreach { e =>
        val h = math.floorDiv(e.ts.getTime, HourMs) * HourMs
        val c = if (open.containsKey(h)) open.getValue(h) else 0L
        open.updateValue(h, c + 1L)
      }
      drain(typ, tv.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(typ: String, tv: TimerValues,
                                    info: ExpiredTimerInfo)
    : Iterator[HourlyVolume] = {
      if (ring.exists()) ring.update(ring.get().copy(armedTimerMs = 0L))
      drain(typ, tv.getCurrentWatermarkInMs())
    }
  }

  /** Streaming anomaly-detection entry point (see [[AnomalyProcessor]]).
    * `lateness` is the replay-disorder tolerance; an hour judges only
    * after the watermark proves it complete. Emission starts after the
    * 12-hour warm-up the batch twin `q_anomaly_hours` enforces — the
    * stream is row-for-row equal to the batch query with no filtering
    * on the consumer side.
    */
  def anomalyAlerts(events: Dataset[Event],
                    lateness: String = "2 hours"): Dataset[HourlyVolume] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.event_type)
      .transformWithState(new AnomalyProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Silence-detection entry point: one [[SilenceAlert]] per proven
    * `horizon` of per-user event-time silence (see [[SilenceProcessor]]).
    */
  def silenceAlerts(events: Dataset[Event],
                    horizon: String = "1 hour"): Dataset[SilenceAlert] = {
    import events.sparkSession.implicits._
    val horizonMs = horizonToMs(horizon)
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SilenceProcessor(horizonMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming funnel entry point: ordered view→click→purchase stage
    * transitions per user (see [[FunnelProcessor]]). `lateness` is both
    * the replay-disorder tolerance and the finalization delay;
    * `idleRetention` bounds per-user state — a user idle (in event time)
    * past it is retired and starts a fresh funnel cycle on return.
    */
  def funnelStages(events: Dataset[Event],
                   lateness: String = "2 hours",
                   idleRetention: String = "30 days")
  : Dataset[FunnelStage] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(horizonToMs(idleRetention)),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Per-user transition cursor: the type of the last FINALIZED event
    * ("" = none yet — a fresh or freshly-retired user), the latest event
    * time seen (drives idle retirement), and the armed timer (same
    * one-timer-per-key discipline as [[FunnelProcessor]]).
    */
  case class TransitionCursor(lastTyp: String, lastMs: Long,
                              armedTimerMs: Long)

  /** Streaming Markov transitions — the stream twin of
    * `q_event_transitions`'s pair stream: one [[Transition]] row per
    * consecutive (event → next event) pair in a user's EVENT-TIME order,
    * emitted exactly once when the watermark proves the pair final (a
    * late event can land BETWEEN two eagerly-paired neighbors, so like
    * the funnel this buffers per user until the watermark passes, then
    * drains in (ts, event_id) order with the last finalized type carried
    * as the chain cursor). Downstream keeps the live transition matrix
    * with a plain windowed `groupBy(from_type, to_type).count` — the
    * batch query's aggregation applied to the pair stream.
    *
    * State bound: the buffer holds at most one lateness-horizon of a
    * user's events; the cursor is one string + two longs; a user idle
    * past `idleRetentionMs` retires completely (cursor AND buffer
    * dropped) and their return starts a fresh chain — the first event
    * after retirement emits no pair, the same recycle contract as the
    * funnel. So state is O(users active within the retention horizon).
    */
  private class TransitionProcessor(idleRetentionMs: Long = 30L * 86400000L)
    extends StatefulProcessor[Long, Event, Transition] {
    @transient private var cur: org.apache.spark.sql.streaming.ValueState[TransitionCursor] = _
    @transient private var buf: org.apache.spark.sql.streaming.ListState[Event] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cur = getHandle.getValueState[TransitionCursor]("cur",
        Encoders.product[TransitionCursor], TTLConfig.NONE)
      buf = getHandle.getListState[Event]("buf", Encoders.product[Event],
        TTLConfig.NONE)
    }

    private def flush(userId: Long, wmMs: Long, prev: TransitionCursor)
    : (TransitionCursor, List[Transition], Int) = {
      val (ready, pending) = buf.get().toSeq
        .partition(_.ts.getTime <= wmMs)
      val out = List.newBuilder[Transition]
      var lastTyp = prev.lastTyp
      ready.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        if (lastTyp.nonEmpty)
          out += Transition(userId, lastTyp, e.event_type, e.ts)
        lastTyp = e.event_type
      }
      buf.clear()
      if (pending.nonEmpty) buf.appendList(pending.toArray)
      val timer =
        if (pending.nonEmpty) pending.map(_.ts.getTime).min
        else prev.lastMs + idleRetentionMs
      if (prev.armedTimerMs != 0L && prev.armedTimerMs != timer)
        getHandle.deleteTimer(prev.armedTimerMs)
      if (timer != 0L && timer != prev.armedTimerMs)
        getHandle.registerTimer(timer)
      (TransitionCursor(lastTyp, prev.lastMs, timer), out.result(),
        pending.size)
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[Transition] = {
      val prev = if (cur.exists()) cur.get()
                 else TransitionCursor("", 0L, 0L)
      val arrived = rows.toArray
      if (arrived.nonEmpty) buf.appendList(arrived)
      val last = arrived.foldLeft(prev.lastMs)((m, e) =>
        math.max(m, e.ts.getTime))
      val (next, out, _) = flush(userId, tv.getCurrentWatermarkInMs(),
        prev.copy(lastMs = last))
      cur.update(next)
      out.iterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo)
    : Iterator[Transition] = {
      val prev = if (cur.exists()) cur.get()
                 else TransitionCursor("", 0L, 0L)
      val (next, out, nPending) = flush(userId,
        tv.getCurrentWatermarkInMs(), prev.copy(armedTimerMs = 0L))
      if (nPending == 0 &&
          info.getExpiryTimeInMs() >= next.lastMs + idleRetentionMs) {
        if (next.armedTimerMs != 0L) getHandle.deleteTimer(next.armedTimerMs)
        cur.clear()
        buf.clear()
      } else cur.update(next)
      out.iterator
    }
  }

  /** Streaming transition-pair entry point (see [[TransitionProcessor]]).
    * `lateness` is the replay-disorder tolerance and finalization delay;
    * `idleRetention` bounds per-user state.
    */
  def transitions(events: Dataset[Event],
                  lateness: String = "2 hours",
                  idleRetention: String = "30 days")
  : Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .transformWithState(new TransitionProcessor(horizonToMs(idleRetention)),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming ingest dedup against the historical corpus — the live half
    * of `q_dedup_incremental`: documents arriving on a stream are dropped
    * when their bag-of-words fingerprint (same formula source as
    * `q_text_fingerprint` — `TextOps.fingerprintCol`, so the live path
    * cannot drift from the index) already exists in the static corpus
    * index, and deduped within the stream on the same key so a doc that
    * arrives twice is admitted once.
    *
    * Shapes: the corpus side is a stream–static LEFT ANTI join (the index
    * re-resolves per micro-batch, so a nightly index refresh is picked up
    * without restarting the query); the in-stream side is streaming
    * `dropDuplicates` keyed on the 32-char fingerprint — state holds one
    * entry per DISTINCT admitted fingerprint, which is the product
    * contract here (an ingest gate remembers everything it admitted). A
    * deployment that can bound re-delivery lag should instead carry an
    * event-time column and use `dropDuplicatesWithinWatermark` (see
    * [[dedup]]) to cap that state.
    */
  def dedupAgainstCorpus(docs: DataFrame, corpusFp: DataFrame): DataFrame =
    docs
      .withColumn("fp", graft.operators.TextOps.fingerprintCol(col("text")))
      .join(corpusFp.select(col("fp")), Seq("fp"), "left_anti")
      .dropDuplicates("fp")

  /** STREAMING MEDIA DEDUP (s_media_dedup) — [[dedupAgainstCorpus]] for
    * the binary tier, and the live half of `q_media_phash` +
    * `q_media_audio`: media arriving on a stream is perceptually
    * fingerprinted with the SAME codec-dispatched
    * `Multimodal.mediaAnchors` the batch audits compute (aHash for
    * images, the PCM energy-grid `audioHash` for WAV, the K-min
    * anchor SET for video — one formula source per codec, the gates
    * cannot drift) and dropped when a perceptually NEAR-identical blob
    * already exists in the frozen corpus hash set — same codec, ANY
    * anchor within hamming ≤ `maxHamming` of any corpus anchor
    * (default 3: re-encodes and
    * content-identical re-renders land at 0; a 2× RESAMPLE moves ≤ 3
    * bits, the `Multimodal.audioHash`/`aHash` invariance contract, so
    * resampled corpus dups are caught too — VERDICT r12 item 1). The
    * stream then dedups within itself on the exact (codec, hash) key
    * so a novel blob re-sent twice is admitted once. Undecodable
    * payloads are EXCLUDED from this gate's output (a NULL hash can
    * neither match the corpus nor dedup within the stream — streaming
    * dropDuplicates would wrongly collapse all NULLs to one row);
    * route them through the dead-letter half of the ingest pipeline
    * (`WebhookIngest`/`Quality.split`) where unparseable payloads
    * already land.
    *
    * Shapes: decode runs in the stateless typed flatMap (pixels never
    * enter state — 8 hash bytes do). Corpus membership is hamming-
    * tolerant WITHOUT a stream-side aggregation (append-mode-safe):
    * the static corpus is bucketed per (codec, 16-bit band slice) into
    * candidate-hash arrays — the `mediaDupPairs` 4-band pigeonhole, so
    * any hash within hamming ≤ 3 of a corpus hash MUST hit one of its
    * 4 bucket keys exactly — and the stream takes 4 stream–static
    * left-outer equi-joins (one per band, re-resolved per micro-batch
    * so a nightly index refresh is picked up without restart), keeping
    * a row only when no candidate in any of its 4 buckets verifies
    * within `maxHamming` under the exact `bit_count(xor)` check.
    * Bucket arrays hold n_codec/2^16 hashes per band in expectation —
    * the LSH-band bound the whole banded-dedup family rides; a corpus
    * with a pathological hot slice (billions of near-constant hashes)
    * should pre-thin those buckets at index-build time. In-stream
    * dedup is hamming-tolerant TOO (since r14 — closing the last
    * exact-key blind spot the r13 verdict named: two near-identical
    * re-encodes arriving in the same stream, both novel vs the corpus,
    * previously were BOTH admitted): a [[MediaAdmitProcessor]] keyed by
    * codec holds the SAME 4-band bucket structure over the stream's own
    * prior ADMISSIONS in `MapState` (RocksDB provider required, the
    * [[errorAlarmsTws]] note), so a blob within `maxHamming` of any
    * earlier in-stream admission drops exactly like a corpus near-dup —
    * hamming 0 subsumes the old exact `dropDuplicates`. State bound: 4
    * band entries per DISTINCT admitted anchor (≤16 per video),
    * forever — the ingest-gate
    * contract (the [[dedupAgainstCorpus]] state note applies verbatim).
    * Near-dup CLUSTERING of admitted media remains the batch
    * `Multimodal.mediaDupPairs` pass.
    */
  def mediaDedup(media: DataFrame, corpusHashes: DataFrame,
                 maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"mediaDedup: 4-band pigeonhole covers maxHamming<=3, got $maxHamming")
    val s = media.sparkSession
    import s.implicits._
    def slice(c: Column, b: Int): Column =
      shiftrightunsigned(c, 16 * b).bitwiseAND(lit(65535L))
    // codec-dispatched fingerprints since round 12 (audio and video
    // carry hashes too — a re-encoded audio duplicate no longer passes
    // the gate unexamined); the dedup key is (codec, bits) so modalities
    // can never collapse into one another. ANCHOR grain since r16: a
    // video contributes one row per K-min anchor
    // (`Multimodal.mediaAnchors`), so an anchor-removing edit of an
    // indexed video still meets the corpus (or a prior admission) on a
    // surviving anchor — the batch `mediaDupPairs` rule, live
    val hashed = media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        graft.operators.Multimodal.mediaAnchors(bytes).toSeq
          .flatMap { case (codec, hs) => hs.map(h => (id, codec, h)) }
      }
      .toDF("media_id", "codec", "phash_bits")
    val joined = (0 until 4).foldLeft(hashed) { (df, b) =>
      val bucket = corpusHashes
        .select(col("codec"), slice(col("phash_bits"), b).as(s"k$b"),
          col("phash_bits").as("c"))
        .groupBy(col("codec"), col(s"k$b"))
        .agg(collect_list(col("c")).as(s"cand$b"))
      df.withColumn(s"k$b", slice(col("phash_bits"), b))
        .join(bucket, Seq("codec", s"k$b"), "left_outer")
    }
    // per-ANCHOR corpus verdict; the admission decision is per MEDIA
    // (reject if ANY anchor matches), which is a cross-row conjunction
    // — it lives in the stateful processor below, not in a stream
    // aggregation (append-mode discipline)
    val corpusNear = (0 until 4).map { b =>
      col(s"cand$b").isNotNull && exists(col(s"cand$b"),
        c => bit_count(c.bitwiseXOR(col("phash_bits"))) <= lit(maxHamming))
    }.reduce(_ || _)
    mediaAdmitGateFlagged(joined
      .select(col("media_id"), col("codec"), col("phash_bits"),
        corpusNear.as("corpus_near"))
      .as[(Long, String, Long, Boolean)], maxHamming)
  }

  /** The in-stream admission leg of [[mediaDedup]] at (id, codec,
    * anchor) grain, no corpus verdicts attached — the single-anchor
    * test seam ([[mediaAdmitGateFlagged]] is the full entry).
    * `chunkCap` is a TEST seam only (the chunk-layout spec runs it at
    * 2 to force multi-chunk buckets on a small fixture); production
    * always rides the [[MediaBucketChunkCap]] default.
    */
  private[graft] def mediaAdmitGate(hashed: Dataset[(Long, String, Long)],
                                    maxHamming: Int,
                                    chunkCap: Int = MediaBucketChunkCap)
  : DataFrame = {
    val s = hashed.sparkSession
    import s.implicits._
    mediaAdmitGateFlagged(hashed.map(t => (t._1, t._2, t._3, false)),
      maxHamming, chunkCap)
  }

  /** Full in-stream admission: rows are (media_id, codec, anchor hash,
    * corpus_near) — one row per ANCHOR, several per video. A media is
    * admitted iff NO anchor matched the corpus and NO anchor lands
    * within `maxHamming` of any previously admitted media's anchors.
    */
  private[graft] def mediaAdmitGateFlagged(
      hashed: Dataset[(Long, String, Long, Boolean)], maxHamming: Int,
      chunkCap: Int = MediaBucketChunkCap): DataFrame = {
    val s = hashed.sparkSession
    import s.implicits._
    hashed.groupByKey(_._2)
      .transformWithState(new MediaAdmitProcessor(maxHamming, chunkCap),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** One (media_id, codec, phash_bits) admission emitted by
    * [[MediaAdmitProcessor]] — schema-identical to the row the exact
    * `dropDuplicates` gate used to emit.
    */
  case class MediaAdmit(media_id: Long, codec: String, phash_bits: Long)

  /** One CHUNK of a (band, 16-bit slice) bucket's admitted hashes in
    * [[MediaAdmitProcessor]] MapState (a product wrapper so the value
    * rides `Encoders.product` like every other state row here). Buckets
    * are chunked at [[StreamOps.MediaBucketChunkCap]] hashes per entry:
    * an admission appends to the LAST chunk only (or opens a fresh
    * one), so per-admission state churn is O(chunkCap) longs — the
    * round-14 single-array layout rewrote the whole bucket on every
    * admission, O(n²) cumulative churn per hot bucket over an unbounded
    * stream lifetime (the round-15 advice).
    */
  case class BandBucket(hs: Array[Long])

  /** Chunk capacity for [[BandBucket]] — bounds one admission's RocksDB
    * value rewrite at 4 bands × (cap+1) longs regardless of bucket
    * population.
    */
  private val MediaBucketChunkCap = 64

  /** In-stream hamming-tolerant admission for [[mediaDedup]]: per codec
    * key, `MapState[(band << 16) | slice → admitted hashes]` mirrors the
    * corpus side's 4-band pigeonhole over the stream's OWN admissions —
    * any hash within hamming ≤ 3 of a prior admission shares at least
    * one exact 16-bit band slice with it, so 4 point lookups see every
    * candidate; the exact `bit_count(xor)` check then verifies. Input
    * is at ANCHOR grain since r16 (one row per K-min anchor — several
    * per video, each carrying its own corpus verdict); a MEDIA is
    * admitted iff no anchor matched the corpus AND no anchor is within
    * `maxHamming` of any stored anchor, and an admission stores ALL its
    * anchors — the batch `mediaDupPairs` any-anchor-pair rule, live.
    * Media process in media_id order within a batch (the `errorAlarms`
    * sort discipline), so a replayed micro-batch admits the same ids —
    * and a batch carrying BOTH twins admits exactly the lower id,
    * matching what two separate batches would do. An admitted anchor
    * writes into the last CHUNK of each of its 4 buckets (key =
    * `(band << 16 | slice) << 40 | chunkIdx`, chunks capped at
    * [[MediaBucketChunkCap]]): amortized 4 MapState rows per distinct
    * admitted anchor (≤16 per video), RocksDB-backed, never pixel
    * data, and — unlike a single growing array per bucket — a bounded
    * O(chunkCap) value rewrite per insertion.
    *
    * LAYOUT/RULE SENTINEL (r16 advice — the scaladoc-only "fresh
    * checkpoints only" note now ENFORCED): reserved MapState key −1
    * (unreachable by data — every chunk key is ≥ 0) holds the state
    * format version. Restoring a checkpoint written under another
    * format (r14 single-array keys, whose old admissions the chunked
    * walk would silently never probe; or r15 single-anchor hashes,
    * not comparable to K-min video anchors) throws on the first batch
    * instead of silently re-admitting duplicates. The version is
    * [[MediaMaint.StateVersion]] — one constant governs both the
    * maintainer state and this gate's checkpoint, so a hash-rule bump
    * invalidates both together.
    *
    * Keys are per-codec, so gate
    * parallelism is the codec count — acceptable because the per-row
    * work is 4 point lookups over n/2^16-expected buckets; a deployment
    * sharding one codec across tasks would add a slice-range key
    * component (each band's buckets are disjoint by construction).
    */
  private class MediaAdmitProcessor(maxHamming: Int, chunkCap: Int)
    extends StatefulProcessor[String, (Long, String, Long, Boolean),
      MediaAdmit] {
    @transient private var buckets:
      org.apache.spark.sql.streaming.MapState[Long, BandBucket] = _

    private val SentinelKey = -1L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buckets = getHandle.getMapState[Long, BandBucket]("admitted",
        Encoders.scalaLong, Encoders.product[BandBucket], TTLConfig.NONE)

    private def checkOrStampVersion(): Unit = {
      val v = MediaMaint.StateVersion.toLong
      if (buckets.containsKey(SentinelKey)) {
        val got = buckets.getValue(SentinelKey).hs
        if (got.length != 1 || got(0) != v)
          throw new IllegalStateException(
            "media admission checkpoint was written under state format " +
              s"${got.mkString(",")}; this build is format $v — stored " +
              "admissions are not probe-compatible (duplicates would " +
              "silently re-admit). Start from a fresh checkpoint.")
      } else if (buckets.keys().hasNext)
        throw new IllegalStateException(
          "media admission checkpoint carries admitted state but no " +
            s"format sentinel (pre-r16); this build is format $v — the " +
            "old keys would silently never be probed. Start from a " +
            "fresh checkpoint.")
      else
        buckets.updateValue(SentinelKey, BandBucket(Array(v)))
    }

    override def handleInputRows(codec: String,
                                 rows: Iterator[(Long, String, Long,
                                   Boolean)],
                                 tv: TimerValues): Iterator[MediaAdmit] = {
      checkOrStampVersion()
      def bucketOf(h: Long, b: Int): Long =
        (b.toLong << 16) | ((h >>> (16 * b)) & 0xffffL)
      // bucket < 2^18 (2 band bits + 16 slice bits), so 40 chunk bits
      // fit a Long with room: overflow would need chunkCap·2^40 hashes
      // in ONE bucket — petabytes of state — where 20 bits was reachable
      // on the unbounded-lifetime contract this chunking exists for
      // (r15 review finding: a 20-bit chunk index could collide into the
      // next bucket's chunk 0)
      def chunkKey(bucket: Long, chunk: Int): Long =
        (bucket << 40) | chunk.toLong
      // one probe walk per (anchor, band): hamming-check every chunk
      // member and remember the append cursor (tail index + contents).
      def probe(h: Long, b: Int): (Long, Boolean, Int, Array[Long]) = {
        val bucket = bucketOf(h, b)
        var near = false
        var i = 0
        var last = Array.empty[Long]
        while (buckets.containsKey(chunkKey(bucket, i))) {
          last = buckets.getValue(chunkKey(bucket, i)).hs
          near = near || last
            .exists(c => java.lang.Long.bitCount(c ^ h) <= maxHamming)
          i += 1
        }
        (bucket, near, math.max(0, i - 1), last)
      }
      val out = List.newBuilder[MediaAdmit]
      rows.toSeq.groupBy(_._1).toSeq.sortBy(_._1)
        .foreach { case (id, anchorRows) =>
          val anchors = anchorRows.map(_._3).distinct
          val corpusHit = anchorRows.exists(_._4)
          // corpus rejects skip the state walk entirely — a
          // re-encode/syndication flood of corpus duplicates is this
          // gate's primary load, and its verdict is already in the row.
          // Probe EVERY anchor before inserting any (a media's own
          // anchors must not match each other through state).
          lazy val probes = anchors.map(h =>
            h -> (0 until 4).map(probe(h, _)))
          if (!corpusHit && !probes.exists(_._2.exists(_._2))) {
            // emit the PRIMARY anchor (unsigned min — identical to the
            // r15 single-hash row for img/audio, the display hash for
            // video)
            out += MediaAdmit(id, codec,
              anchors.min(Ordering.fromLessThan[Long](
                java.lang.Long.compareUnsigned(_, _) < 0)))
            // insert anchors SEQUENTIALLY with cursor refresh between
            // same-bucket insertions: two anchors of one video can
            // share a (band, slice) bucket, so a stale tail cursor
            // would drop the earlier insertion
            val touched = scala.collection.mutable.Set.empty[Long]
            probes.foreach { case (h, bands) =>
              bands.foreach { case (bucket, _, lastIdx0, last0) =>
                val (lastIdx, last) =
                  if (!touched.add(bucket)) {
                    // re-walk THIS bucket's chunks for a fresh cursor
                    var i = 0
                    var l = Array.empty[Long]
                    while (buckets.containsKey(chunkKey(bucket, i))) {
                      l = buckets.getValue(chunkKey(bucket, i)).hs
                      i += 1
                    }
                    (math.max(0, i - 1), l)
                  } else (lastIdx0, last0)
                if (last.length >= chunkCap)
                  buckets.updateValue(chunkKey(bucket, lastIdx + 1),
                    BandBucket(Array(h)))
                else
                  buckets.updateValue(chunkKey(bucket, lastIdx),
                    BandBucket(last :+ h))
              }
            }
          }
        }
      out.result().iterator
    }
  }

  /** Frozen corpus hash set for [[mediaDedup]] — the codec-dispatched
    * ANCHOR fingerprints of every decodable corpus media blob (one row
    * per K-min anchor for video, one per img/audio blob), distinct per
    * (codec, bits): a stream arrival matches the corpus iff any of its
    * anchors lands within tolerance of any corpus anchor.
    */
  def mediaCorpusHashes(staticMedia: DataFrame): DataFrame = {
    val s = staticMedia.sparkSession
    import s.implicits._
    // FROZEN for real (r20 — the [[noveltyCorpus]] fix, and sharper
    // here: [[mediaDedup]] builds FOUR band buckets from this frame, so
    // the lazy form paid the full corpus codec-decode + resample pass
    // four times per micro-batch. Eagerly checkpointed, the per-batch
    // bucket rebuilds (kept — that is [[mediaDedup]]'s documented
    // nightly-refresh re-resolution seam) group a few checkpointed
    // (codec, long) rows instead of re-decoding blobs.
    staticMedia.select(col("content")).as[Array[Byte]]
      .flatMap(b => graft.operators.Multimodal.mediaAnchors(b).toSeq
        .flatMap { case (c, hs) => hs.map((c, _)) })
      .toDF("codec", "phash_bits").distinct()
      .localCheckpoint(true)
  }

  /** Per-key token bucket carried by [[rateLimit]]: milli-token balance
    * + the key's latest seen event time. Integer milli-tokens keep every
    * refill/spend exact (a double balance would drift with batch split).
    */
  case class BucketState(milliTokens: Long, lastMs: Long)

  /** STREAMING RATE LIMIT (s_rate_limit) — per-user token-bucket
    * admission control, the webhook-ingest gate in front of everything
    * else here (a misbehaving producer re-posting its queue must not
    * starve the pipeline; the reference category's pub-sub ingest is
    * exactly where such storms arrive). Each key holds a bucket of
    * `capacity` tokens refilling at `ratePerSec`, measured in EVENT
    * time: an event is admitted iff a whole token is available at its
    * timestamp, and refill is elapsed-event-time × rate — so as long as
    * batches arrive in event-time order ACROSS batch boundaries (within
    * a batch any disorder is fine — rows re-sort), the decision set is a
    * pure function of the event-time sequence, not of arrival timing or
    * where the batch cuts fall (the replay spec pins stream ≡ the batch
    * fold at every batch split, including within-batch disorder). An
    * event that crosses a batch boundary LATE is charged at the bucket's
    * already-advanced clock — the one divergence from the batch fold,
    * the same cross-batch caveat every watermarkless stateful op here
    * carries.
    *
    * Arithmetic is exact: balances live as integer MILLI-tokens
    * (refill = elapsedMs × ratePerSec is exact at any rate ≥ 1/1000 s),
    * so no float accumulates across state round-trips. Within a batch,
    * per-key rows sort by (ts, event_id) — the [[errorAlarms]]
    * discipline; an event arriving with ts older than the key's
    * last-seen time refills nothing (max(0, elapsed)) but still spends,
    * keeping replays deterministic. State is ONE (long, long) pair per
    * key, forever — the ingest-gate contract ([[dedupAgainstCorpus]]'s
    * note: bounding it needs an idle-eviction horizon, which would also
    * forget long-idle buckets back to full, an acceptable semantic for
    * a rate gate — deployments pick via the alarm family's timeout
    * idiom).
    */
  def rateLimit(events: Dataset[Event], ratePerSec: Long = 1,
                capacity: Long = 5): Dataset[Event] = {
    import events.sparkSession.implicits._
    require(ratePerSec >= 1 && capacity >= 1,
      "rateLimit: ratePerSec and capacity must be >= 1")
    val capM = capacity * 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BucketState, Event](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, batch: Iterator[Event], state: GroupState[BucketState]) =>
          var st = state.getOption.getOrElse(BucketState(capM, Long.MinValue))
          val admitted = scala.collection.mutable.ArrayBuffer[Event]()
          batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val ms = e.ts.getTime
            val refill =
              if (st.lastMs == Long.MinValue) 0L
              else math.max(0L, ms - st.lastMs) * ratePerSec
            val bal = math.min(capM, st.milliTokens + refill)
            if (bal >= 1000L) {
              admitted += e
              st = BucketState(bal - 1000L, math.max(st.lastMs, ms))
            } else st = BucketState(bal, math.max(st.lastMs, ms))
          }
          state.update(st)
          admitted.iterator
      }
  }

  /** Batch twin of [[rateLimit]] — the same exact fold over the FULL
    * event-time-ordered history per key; the replay spec pins the
    * streaming gate to this at every micro-batch split.
    */
  def rateLimitBatch(events: Seq[Event], ratePerSec: Long = 1,
                     capacity: Long = 5): Seq[Event] = {
    val capM = capacity * 1000L
    events.groupBy(_.user_id).toSeq.flatMap { case (_, g) =>
      var bal = capM
      var last = Long.MinValue
      g.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
        val ms = e.ts.getTime
        val refill =
          if (last == Long.MinValue) 0L
          else math.max(0L, ms - last) * ratePerSec
        bal = math.min(capM, bal + refill)
        last = math.max(last, ms)
        if (bal >= 1000L) { bal -= 1000L; Some(e) } else None
      }
    }
  }

  /** Stream–stream interval join: purchases attributed to the same user's
    * clicks within the following hour (click → purchase conversion).
    *
    * Both sides carry watermarks and the join condition bounds event time
    * in BOTH directions, so Spark can expire state: a buffered click is
    * held only until the purchase-side watermark passes click_ts + 1 h,
    * and vice versa — state is O(events inside the interval), not O(all
    * history). Without the time bound a stream–stream inner join would
    * buffer both streams forever; this shape is what makes the operator
    * 100 TB-viable. Join state shards by user_id with the shuffle, like
    * every other stateful op here.
    */
  def conversionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val p = purchases
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "2 hours")
    c.join(p, expr(
      """c_user = p_user AND
        |purchase_ts >= click_ts AND
        |purchase_ts <= click_ts + interval 1 hour""".stripMargin))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("click_ts"), col("purchase_ts"),
        col("purchase_value"))
  }

  /** LEFT OUTER variant of [[conversionJoin]] — the attribution mode a
    * real conversion pipeline needs: every click is emitted exactly once,
    * either joined to a purchase inside its hour or, once no future match
    * is possible, with NULL purchase columns ("the click that didn't
    * convert" is the row funnel-loss analysis consumes; the inner join
    * silently drops it).
    *
    * Mechanics: same bidirectional event-time bound as the inner form, so
    * buffered state stays O(events inside the interval). A click's
    * unmatched row is emitted only when the join watermark passes
    * click_ts + 1 h — the moment the engine can PROVE no matching
    * purchase can still arrive — so unmatched emission is late exactly by
    * the watermark delay, never wrong. Events behind the watermark on
    * either side are dropped, same as every stateful op here. The
    * matched/unmatched/late trichotomy is replay-pinned in StreamOpsSpec.
    */
  def conversionJoinOuter(clicks: DataFrame, purchases: DataFrame)
  : DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val p = purchases
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "2 hours")
    c.join(p, expr(
      """c_user = p_user AND
        |purchase_ts >= click_ts AND
        |purchase_ts <= click_ts + interval 1 hour""".stripMargin),
      "leftOuter")
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("click_ts"), col("purchase_ts"),
        col("purchase_value"))
  }

  /** Custom stateful detector: alarm when a user produces `threshold`
    * consecutive 'error' events; the run counter carries across
    * micro-batches via flatMapGroupsWithState. (cf. the alarm-verification
    * pattern in PAPERS.md.)
    *
    * State is one Int per user, and it is EVICTED: each update arms an
    * event-time timeout at watermark + `idleHorizon`, so a user who goes
    * quiet has their counter removed once the stream's event time moves
    * past the horizon — without eviction, per-user state grows with the
    * all-time user count at 100 TB/day. A processing-time timeout is
    * avoided deliberately — it forces the engine into continuous empty
    * micro-batches just to poll timers. Semantics note: eviction only
    * forgets idle users' partial runs; an error run that resumes after >
    * `idleHorizon` of event-time silence restarts from zero, which is the
    * intended alarm meaning ("consecutive" within an activity window).
    */
  /** idleHorizon → milliseconds, honoring the days field ("1 day" parses
    * into CalendarInterval.days with 0 microseconds — reading micros alone
    * would silently arm every timer at lastSeen + 0 and evict immediately).
    * Month-grain horizons are rejected: they have no fixed duration.
    */
  private def horizonToMs(idleHorizon: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String
        .fromString(idleHorizon))
    require(iv.months == 0,
      s"idleHorizon must be a fixed duration, got '$idleHorizon'")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  def errorAlarms(events: Dataset[Event], threshold: Int = 3,
                  idleHorizon: String = "2 hours"): Dataset[ErrorAlarm] = {
    import events.sparkSession.implicits._
    val horizonMs = horizonToMs(idleHorizon)
    events
      .withWatermark("ts", idleHorizon)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Int, ErrorAlarm](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[Int]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var run = state.getOption.getOrElse(0)
            var maxTs = 0L
            val alarms = scala.collection.mutable.ArrayBuffer[ErrorAlarm]()
            // within-batch order: sort by event time (micro-batches don't
            // guarantee per-key arrival order across partitions)
            batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              maxTs = math.max(maxTs, e.ts.getTime)
              if (e.event_type == "error") {
                run += 1
                if (run == threshold)
                  alarms += ErrorAlarm(userId, run, e.ts)
              } else run = 0
            }
            state.update(run)
            // arm off the user's own latest event time (the watermark term
            // only matters on the first batch, where the watermark is 0 and
            // setTimeoutTimestamp must still be > it… it always is here)
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(), maxTs) + horizonMs)
            alarms.iterator
          }
      }
  }
}
