package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Outbound webhook delivery — the producer half of the webhook domain
  * (the engine INGESTS webhooks via graft.sources.WebhookSource; this
  * closes the loop by DELIVERING processed results downstream as HTTP
  * POSTs, the way a webhook analytics engine hands results to the next
  * service).
  *
  * Semantics:
  *   - Each row POSTs as a JSON object (`to_json(struct(*))`) with an
  *     `X-Delivery-Key: <batchId>:<key>` idempotency header.
  *   - Bounded retry with exponential backoff per row; a row that
  *     exhausts its attempts lands in the DEAD-LETTER side of the ledger
  *     with the raw payload and last error, instead of failing the batch
  *     (one sick endpoint must not wedge the stream).
  *   - A per-endpoint CIRCUIT BREAKER (`tripAfter` consecutive failed
  *     attempts → open for `cooldownMs`, half-open single probe, closes
  *     on success) fast-dead-letters rows while open, so a dead
  *     endpoint costs milliseconds per row instead of the full backoff
  *     ladder each; `maxInFlight` caps concurrent POSTs per executor to
  *     the endpoint (slow-but-healthy downstreams get bounded load).
  *     State is per (executor JVM, endpoint) — see [[Governor]].
  *   - A parquet LEDGER partitioned by batch_id records every settled
  *     (batch, key) — `delivered` or `dead`. On a foreachBatch REPLAY of
  *     the same batch id, settled keys are anti-joined away before any
  *     HTTP happens, so a batch that committed its ledger never
  *     re-delivers: exactly-once per (batch, row) across replays. A
  *     crash BETWEEN the POSTs and the ledger commit degrades to
  *     at-least-once for that batch, and so does a task retry or a
  *     speculative duplicate WITHIN a batch (the POST happens inside the
  *     task; Spark may re-run tasks) — the idempotency header is what
  *     the receiving side dedups on in both cases (the same composition
  *     contract as WebhookSource + StreamOps.dedup on the ingest side).
  *
  * Scale shape: delivery runs inside `mapPartitions` — rows stream
  * through without driver collection, parallelism = the upstream
  * partitioning, and every task posts through the one HTTP client its
  * JVM keeps per endpoint (see [[client]]). A batch that settles for the
  * first time costs ONE Spark job, the ledger write that carries the
  * POSTs: the replay guard is a single existence check of the batch's
  * own `batch_id=N` directory, and only a replayed batch reads that one
  * directory for the anti-join — never the rest of the ledger. Backoff
  * sleeps occupy only the delivering task.
  */
object WebhookDelivery {

  /** One settled delivery attempt; `body` is retained only for dead
    * letters (replaying a delivered payload from the ledger is the
    * receiver's job, not ours — and at 100 TB the ledger must not carry
    * a second copy of everything delivered).
    */
  case class Delivery(key: Long, status: String, attempts: Int,
                      error: String, body: String)

  /** Per-endpoint delivery governor, shared by every task in the
    * executor JVM (statics are the only cross-task seam Spark gives a
    * connector; each executor protects itself independently, which is
    * the standard sick-downstream posture — no cluster-wide coordination
    * on the data path).
    *
    *  - `sem` caps concurrent in-flight POSTs to the endpoint across all
    *    tasks (a slow-but-healthy downstream gets a bounded load, not
    *    one POST per task thread). Acquired per attempt, never held
    *    through a backoff sleep.
    *  - `consecFails` counts consecutive failed ATTEMPTS; reaching
    *    `tripAfter` opens the circuit for `cooldownMs`. While open,
    *    rows settle straight to the dead-letter ledger with error
    *    `circuit_open` — no HTTP, no backoff ladder — so a dead
    *    endpoint costs the batch milliseconds per row instead of the
    *    full retry ladder each. [[redeliver]] is the recovery verb for
    *    everything dead-lettered this way.
    *  - After the cooldown, ONE row (CAS on `probing`) probes the
    *    endpoint half-open; success closes the circuit, failure
    *    re-opens it for another cooldown while concurrent rows keep
    *    fast-failing.
    *
    * Sizing is first-use-wins per (JVM, endpoint): `resetBreaker` drops
    * the state (test isolation / operator re-size).
    */
  private[sinks] final class Governor(maxInFlight: Int, tripAfter: Int,
                                      cooldownMs: Long) {
    private val sem =
      if (maxInFlight > 0) new java.util.concurrent.Semaphore(maxInFlight, true)
      else null
    private val consecFails = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile private var openUntilMs = 0L
    private val probing = new java.util.concurrent.atomic.AtomicBoolean(false)

    /** Whether an attempt may proceed right now; false = fast-fail the
      * row. Grants at most one caller the half-open probe slot once the
      * cooldown has passed.
      */
    def admit(): Boolean = {
      if (tripAfter <= 0 || consecFails.get() < tripAfter) return true
      if (System.currentTimeMillis() < openUntilMs) return false
      probing.compareAndSet(false, true) // one probe; losers keep failing fast
    }

    def onSuccess(): Unit = {
      consecFails.set(0)
      probing.set(false)
    }

    def onFailure(): Unit = {
      if (tripAfter > 0 && consecFails.incrementAndGet() >= tripAfter)
        openUntilMs = System.currentTimeMillis() + cooldownMs
      probing.set(false)
    }

    def open: Boolean = tripAfter > 0 && consecFails.get() >= tripAfter

    def withSlot[A](f: => A): A =
      if (sem == null) f
      else { sem.acquire(); try f finally sem.release() }
  }

  private val governors =
    new java.util.concurrent.ConcurrentHashMap[String, Governor]()

  private[sinks] def governor(endpoint: String, maxInFlight: Int,
                              tripAfter: Int, cooldownMs: Long): Governor =
    governors.computeIfAbsent(endpoint,
      _ => new Governor(maxInFlight, tripAfter, cooldownMs))

  /** Drop the breaker/cap state for `endpoint` (every endpoint when
    * None) in THIS JVM — re-sizes take effect on next use.
    */
  def resetBreaker(endpoint: Option[String] = None): Unit =
    endpoint.fold(governors.clear())(e => { governors.remove(e); () })

  private val clients =
    new java.util.concurrent.ConcurrentHashMap[String, java.net.http.HttpClient]()

  /** The HTTP client of `endpoint` in this JVM, shared by every task of
    * every batch like [[Governor]]: a client owns a connection pool and
    * a selector thread, so one per task paid a new client and a new TCP
    * connection per task per batch. Bounded: one per endpoint this JVM
    * delivers to.
    */
  private def client(endpoint: String): java.net.http.HttpClient =
    clients.computeIfAbsent(endpoint, _ =>
      java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofSeconds(5)).build())

  /** Deliver one micro-batch (or any DataFrame) to `endpoint`.
    * Returns (delivered, deadLettered) counts observed on the ledger
    * write itself — one evaluation, one pass.
    */
  def deliverBatch(batch: DataFrame, batchId: Long, endpoint: String,
                   keyCol: String, ledgerPath: String,
                   maxAttempts: Int = 3,
                   baseBackoffMs: Long = 50L,
                   maxInFlight: Int = 0,
                   tripAfter: Int = 16,
                   cooldownMs: Long = 30000L): (Long, Long) =
    deliverRaw(
      batch.select(col(keyCol).cast("long").as("key"),
        to_json(struct(batch.columns.map(col): _*)).as("body")),
      batchId, endpoint, ledgerPath, maxAttempts, baseBackoffMs,
      maxInFlight, tripAfter, cooldownMs)

  /** Shared delivery core over prepared (key, body) payload rows —
    * [[deliverBatch]] serializes rows into it, [[redeliver]] feeds it
    * stored dead-letter payloads verbatim.
    */
  private[sinks] def deliverRaw(payloads: DataFrame, batchId: Long,
                                endpoint: String, ledgerPath: String,
                                maxAttempts: Int,
                                baseBackoffMs: Long,
                                maxInFlight: Int = 0,
                                tripAfter: Int = 16,
                                cooldownMs: Long = 30000L): (Long, Long) = {
    val spark = payloads.sparkSession
    import spark.implicits._
    // replay guard: keys this batch already settled (either way) never
    // reach the endpoint again. An empty batch needs no check of its
    // own: its write below creates no batch_id=N directory, so it
    // settles as a no-op and a later guard never reads it
    val todo = settledKeys(spark, ledgerPath, batchId)
      .fold(payloads)(done =>
        payloads.join(done, Seq("key"), "left_anti"))
    val results = todo.as[(Long, String)].mapPartitions { it =>
      val http = client(endpoint)
      val gov = governor(endpoint, maxInFlight, tripAfter, cooldownMs)
      it.map { case (key, body) =>
        var attempt = 0
        var ok = false
        var err = ""
        var fastFail = false
        while (!ok && !fastFail && attempt < maxAttempts) {
          // the breaker gates every attempt, so a trip mid-ladder stops
          // the remaining retries of the CURRENT row too, not just the
          // rows behind it
          if (!gov.admit()) { err = "circuit_open"; fastFail = true }
          else {
            attempt += 1
            try {
              val req = java.net.http.HttpRequest
                .newBuilder(java.net.URI.create(endpoint))
                .timeout(java.time.Duration.ofSeconds(10))
                .header("Content-Type", "application/json")
                .header("X-Delivery-Key", s"$batchId:$key")
                .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
                .build()
              val resp = gov.withSlot(http.send(req,
                java.net.http.HttpResponse.BodyHandlers.ofString()))
              if (resp.statusCode() / 100 == 2) ok = true
              else err = s"http ${resp.statusCode()}"
            } catch {
              case e: Exception =>
                err = s"${e.getClass.getSimpleName}: ${e.getMessage}"
            }
            if (ok) gov.onSuccess() else gov.onFailure()
            if (!ok && attempt < maxAttempts && !gov.open)
              Thread.sleep(baseBackoffMs << (attempt - 1))
          }
        }
        if (ok) Delivery(key, "delivered", attempt, "", "")
        else Delivery(key, "dead", attempt, err, body)
      }
    }
    // ONE action settles the batch: the POSTs happen while the ledger
    // partition writes, with the outcome counts riding the same job
    // (Retention.curateObserved idiom — no second evaluation, which
    // would re-POST every row). The batch id is a string literal for the
    // reason LakeSink.applyBatch gives: each batch reuses the generated
    // classes; the ledger schema still reads batch_id=N back as a Long.
    val obs = new org.apache.spark.sql.Observation()
    results.toDF()
      .observe(obs,
        sum(when(col("status") === "delivered", 1L).otherwise(0L))
          .as("n_delivered"),
        sum(when(col("status") === "dead", 1L).otherwise(0L))
          .as("n_dead"))
      .withColumn("batch_id", lit(batchId.toString))
      .write.mode("append").partitionBy("batch_id").parquet(ledgerPath)
    def n(k: String): Long = obs.get(k) match {
      case null => 0L
      case v => v.asInstanceOf[Long]
    }
    (n("n_delivered"), n("n_dead"))
  }

  /** Streaming entry point: every micro-batch of `df` delivers through
    * [[deliverBatch]] under foreachBatch's replay contract.
    *
    * When `df` carries a watermarked streaming aggregate, `outputMode`
    * is the delivery discipline: "append" (the default) POSTs each group
    * exactly once, after the watermark finalizes it — the shape a
    * downstream consumer of RESULTS wants, since a partial count must
    * never leave the system as if it were the answer. Pass "update" to
    * deliver running values every micro-batch instead (a live dashboard
    * feed). Stateless streams deliver identically under both.
    */
  def streamDeliver(df: DataFrame, endpoint: String, keyCol: String,
                    ledgerPath: String, checkpoint: String,
                    maxAttempts: Int = 3,
                    baseBackoffMs: Long = 50L,
                    outputMode: String = "append",
                    maxInFlight: Int = 0,
                    tripAfter: Int = 16,
                    cooldownMs: Long = 30000L): StreamingQuery =
    Sinks.streamForeachBatch(df, checkpoint, outputMode) { (batch, id) =>
      deliverBatch(batch, id, endpoint, keyCol, ledgerPath,
        maxAttempts, baseBackoffMs, maxInFlight, tripAfter, cooldownMs)
      ()
    }

  /** The dead-letter table: exhausted deliveries with raw payload + last
    * error, ready for triage / [[redeliver]].
    */
  def deadLetters(spark: SparkSession, ledgerPath: String): DataFrame =
    ledger(spark, ledgerPath).filter(col("status") === "dead")

  /** Targeted redelivery of dead letters — the operator's recovery verb
    * once the sick endpoint is healthy again. Replays the stored raw
    * payloads of `fromBatch` (or every batch) under a NEW redelivery
    * batch id, through the same retry/ledger machinery: successes settle
    * in the new batch's partition (so a second redelivery attempt skips
    * them — redelivery itself is replay-safe), still-failing rows
    * dead-letter again in the new batch. The ORIGINAL dead-letter rows
    * stay untouched: the ledger is append-only history, and "which
    * attempt finally landed" stays reconstructable from batch ids.
    *
    * `redeliveryBatch` must be unique per recovery run (e.g. a ticket
    * number offset); reusing one resumes that run idempotently.
    */
  def redeliver(spark: SparkSession, ledgerPath: String, endpoint: String,
                redeliveryBatch: Long, fromBatch: Option[Long] = None,
                maxAttempts: Int = 3,
                baseBackoffMs: Long = 50L): (Long, Long) = {
    val dead = fromBatch.fold(deadLetters(spark, ledgerPath))(b =>
      deadLetters(spark, ledgerPath).filter(col("batch_id") === b))
    // the stored body IS the original payload JSON — post it verbatim
    // through the shared core (no re-serialization of ledger columns).
    // One row per key: a payload that dead-lettered in several batches
    // (original + an earlier failed redelivery) still posts once.
    deliverRaw(dead.select(col("key"), col("body")).dropDuplicates("key"),
      redeliveryBatch, endpoint, ledgerPath, maxAttempts, baseBackoffMs)
  }

  /** The ledger's schema, declared rather than inferred: inference
    * throws on a directory with no data files yet (e.g. only _SUCCESS
    * left by a foreign writer), and the replay guard must read an
    * any-state ledger without wedging the stream.
    */
  private val LedgerSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("key",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("status",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("attempts",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("error",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("body",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("batch_id",
      org.apache.spark.sql.types.LongType)))

  /** Full delivery ledger (all batches, both statuses). */
  def ledger(spark: SparkSession, ledgerPath: String): DataFrame =
    spark.read.schema(LedgerSchema).parquet(ledgerPath)

  /** Settled keys of one batch, if that batch has a ledger directory.
    * Only `batch_id=N` itself is checked and read: a read of the ledger
    * root filtered on batch_id would first list every batch directory
    * the ledger ever got, so a first-time batch would pay for the
    * ledger's lifetime. Existence goes through the Hadoop FileSystem of
    * the path — a java.io.File check would answer false for every
    * object-store / HDFS ledger and silently disable the replay guard
    * (re-delivering the whole batch), exactly where a production deploy
    * keeps it.
    */
  private def settledKeys(spark: SparkSession, ledgerPath: String,
                          batchId: Long): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$ledgerPath/batch_id=$batchId")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.schema("key LONG").parquet(p.toString))
  }
}
