package graft.sources

import java.util
import java.util.concurrent.ConcurrentSkipListMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Webhook ingest: HTTP POST JSON → rows in an unbounded stream
  * (SURVEY.md §3.3 / §7.4).
  *
  * `POST /webhook/<topic>` lands in one of N shards (N = 1 unless
  * [[WebhookQueue.init]] says otherwise), each a bounded in-memory queue
  * keyed by its own monotonically increasing sequence number; a
  * DataSource-v2 MicroBatchStream exposes shard slices as micro-batch
  * partitions. Delivery semantics are at-least-once (entries are retained
  * until the engine commits the batch offset). The front door also
  * decides, once and under the shard lock, whether a post is the first
  * copy of its `X-Delivery-Key` within the last
  * [[WebhookQueue.dedupHorizonUs]]: the `first_delivery` column carries
  * that mark, so at N = 1 `StreamOps.dedupDeliveries` over this source is
  * a stateless filter (no state store, no watermark-eviction batches).
  * Duplicates are still queued and read, so a wire view sees every POST.
  *
  * Usage:
  * {{{
  *   WebhookQueue.startServer(8099)
  *   val raw = spark.readStream.format("graft.sources.WebhookSourceProvider").load()
  *   val events = raw.select(from_json($"body", schema).as("e"), $"ingest_ts").select("e.*", "ingest_ts")
  * }}}
  *
  * Shards: a topic routes to one shard (murmur3 of the topic, the Kafka
  * partition-key model), so per-topic FIFO holds end to end while no
  * order across shards exists. Every shard has its own WAL, key map, 503
  * cap and consumer registry; the offset is a vector of shard seqs, and
  * each shard's slice is split into contiguous ascending seq ranges, about
  * task-width many partitions per batch in total.
  */
object WebhookQueue {
  /** Retained entries per shard; a post to a full shard is answered 503. */
  val maxRetained = 100000

  /** A post is a duplicate when the same non-empty delivery key was
    * accepted by its shard less than this long before it (µs). Fixed at
    * the default replay horizon of `StreamOps.dedupDeliveries`; the
    * source column's metadata states it, so a consumer asking for a
    * longer horizon falls back to stateful dedup.
    */
  val dedupHorizonUs: Long = 2L * 3600 * 1000 * 1000

  private val segmentUs = dedupHorizonUs / 4

  /** One shard: its own buffer, seq counter, delivery-key map, optional
    * WAL and consumer registry, all under the shard's lock.
    */
  final class Shard {
    // value = (ingest ts µs, topic, body, delivery key, first copy) — the
    // delivery key is the X-Delivery-Key idempotency header ("" when the
    // sender sent none): a receiver that dedups on the header can only do
    // so if its HTTP layer records the header NEXT TO the payload, so the
    // key is part of the queue record, the WAL record, and the source
    // schema. The first-copy mark is not logged: recovery recomputes it.
    private val buf =
      new ConcurrentSkipListMap[Long, (Long, String, String, String, Boolean)]()
    private val seq = new AtomicLong(0L)
    // retained-entry count tracked separately: ConcurrentSkipListMap.size()
    // is an O(n) traversal, and post() runs it under the shard lock on
    // every request — exactly when a backlog makes n large. The counter
    // can only over-count transiently (truncate removes, then decrements),
    // which errs toward 503, never toward shedding.
    private val retained = new java.util.concurrent.atomic.AtomicInteger(0)

    // --- front-door dedup -------------------------------------------------
    // key → (ingest µs, seq) of its first copy within the horizon.
    // Insertion order is seq order, so expiry pops from the head.
    private val firstSeen = new java.util.LinkedHashMap[String, (Long, Long)]()

    /** Decide first copy or duplicate for a post accepted at `ts` as seq
      * `id`. A function of the map and (`ts`, `id`) only, so replaying the
      * WAL in seq order recomputes every mark. An entry carrying the same
      * seq is that post itself, recovered from a key segment.
      */
    private def mark(key: String, ts: Long, id: Long): Boolean = {
      val it = firstSeen.values().iterator()
      var expired = true
      while (expired && it.hasNext)
        if (ts - it.next()._1 >= dedupHorizonUs) it.remove() else expired = false
      if (key.isEmpty) true
      else {
        val prev = firstSeen.get(key)
        if (prev != null && prev._2 == id) true
        else if (prev != null && ts - prev._1 < dedupHorizonUs) false
        else {
          firstSeen.remove(key) // re-insert at the tail: keep seq order
          firstSeen.put(key, (ts, id))
          if (wal != null) unsegmented.addLast((id, ts, key))
          true
        }
      }
    }

    // Keyed first copies that only the WAL records, in seq order. A
    // compaction drops committed records from the WAL, so it first appends
    // their keys to the key segment of their time bucket; a whole segment
    // is deleted once no retained or future post can be within the horizon
    // of any key in it. Cost per compaction: the keys committed since the
    // last one, not every key in the horizon.
    private val unsegmented = new java.util.ArrayDeque[(Long, Long, String)]()

    /** The key segments in `walDir` as (bucket, file), oldest first. */
    private def segments(): Seq[(Long, java.nio.file.Path)] = {
      val name = """keys-(\d+)\.seg""".r
      val ls = java.nio.file.Files.list(walDir)
      try ls.iterator().asScala.flatMap { f =>
        f.getFileName.toString match {
          case name(b) => Some(b.toLong -> f)
          case _ => None
        }
      }.toSeq.sortBy(_._1)
      finally ls.close()
    }

    /** Load every key segment into the map. Each line is CRC-checked on its
      * own; a bad line (torn by a crash mid-append) is skipped, since the
      * WAL still held those records and their keys are re-segmented. A file
      * not ending in a newline gets one, so later appends start clean.
      */
    private def loadSegments(): Unit =
      segments().foreach { case (_, f) =>
        val text = java.nio.file.Files.readString(f)
        text.split("\n").foreach { line =>
          line.split("\t", -1) match {
            case Array(idS, tsS, k64, crcS) =>
              scala.util.Try {
                if (crc32(s"$idS\t$tsS\t$k64") == crcS.toLong) {
                  val id = idS.toLong
                  val key = new String(java.util.Base64.getDecoder.decode(k64),
                    java.nio.charset.StandardCharsets.UTF_8)
                  val prev = firstSeen.get(key)
                  if (prev == null || prev._2 < id) {
                    firstSeen.remove(key)
                    firstSeen.put(key, (tsS.toLong, id))
                  }
                }
              }
            case _ => ()
          }
        }
        if (text.nonEmpty && !text.endsWith("\n"))
          java.nio.file.Files.writeString(f, "\n",
            java.nio.file.StandardOpenOption.APPEND)
      }

    /** Before a compaction drops the committed records: append their keys
      * to segments, then delete the segments wholly past the horizon.
      * Caller holds the shard lock.
      */
    private def segmentCommittedKeys(): Unit = {
      val byBucket = new java.util.TreeMap[Long, java.lang.StringBuilder]()
      while (!unsegmented.isEmpty && unsegmented.peekFirst()._1 <= lowWater) {
        val (id, ts, key) = unsegmented.pollFirst()
        byBucket.computeIfAbsent(ts / segmentUs,
          _ => new java.lang.StringBuilder).append(keyRecord(id, ts, key))
      }
      byBucket.forEach { (b, lines) =>
        java.nio.file.Files.writeString(walDir.resolve(s"keys-$b.seg"), lines,
          java.nio.charset.StandardCharsets.UTF_8,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
      val oldest = if (buf.isEmpty) System.currentTimeMillis() * 1000L
        else math.min(System.currentTimeMillis() * 1000L, buf.firstEntry().getValue._1)
      segments().foreach { case (b, f) =>
        if ((b + 1) * segmentUs + dedupHorizonUs <= oldest)
          java.nio.file.Files.deleteIfExists(f)
      }
    }

    // --- optional write-ahead durability ----------------------------------
    // The in-memory queue loses uncommitted deliveries on restart — fine
    // for tests, wrong for a webhook engine (the sender got a 200). With
    // durability enabled, every accepted delivery is appended to a WAL
    // BEFORE the 200 is sent, and the committed low-water mark persists on
    // truncate; enableDurability() replays everything in (lowWater, ∞)
    // back into the shard. Flush-per-post durability is to the OS page
    // cache; a production deployment would group-commit with fsync — the
    // at-least-once contract (replay on unclean restart) is the same
    // either way.
    @volatile private var wal: java.io.Writer = _
    @volatile private var walDir: java.nio.file.Path = _
    private var lowWater = 0L

    /** Switch the shard durable in `dir`, replaying any uncommitted WAL
      * entries into memory. Returns the number of recovered deliveries.
      * Sequence numbers continue monotonically after the recovered maximum.
      *
      * Torn-tail tolerance: a crash mid-append can leave a partial final
      * line (flush is to the page cache; appends aren't atomic). Recovery
      * parses defensively and STOPS at the first malformed line — the valid
      * prefix is recovered instead of aborting the whole replay, which
      * would defeat the WAL in exactly the crash it exists for. Recovery
      * also COMPACTS: the rewritten WAL holds only the live tail, so file
      * size and restart time track the uncommitted backlog, not lifetime
      * traffic.
      *
      * Dedup marks: the key segments load first, then every WAL record
      * (committed ones too) replays through the key map in seq order, which
      * recomputes each entry's `first_delivery` mark. A directory written
      * before key segments existed has none, so keys whose records were
      * compacted away before the upgrade are forgotten: for at most one
      * horizon after the restart, a duplicate of one of them passes as a
      * first copy.
      */
    def enableDurability(dir: java.nio.file.Path): Int = synchronized {
      if (wal != null) { wal.close(); wal = null }
      walDir = dir
      java.nio.file.Files.createDirectories(walDir)
      val lwFile = walDir.resolve("lowwater")
      lowWater =
        if (java.nio.file.Files.exists(lwFile))
          new String(java.nio.file.Files.readAllBytes(lwFile)).trim.toLong
        else 0L
      val walFile = walDir.resolve("webhook.wal")
      var recovered = 0
      var maxSeq = seq.get()
      loadSegments()
      // committed records whose keys no segment holds yet (the rest of the
      // unsegmented keys are in `buf`, added below)
      val committedFirsts = new java.util.ArrayDeque[(Long, Long, String)]()
      if (java.nio.file.Files.exists(walFile)) {
        // Format detection BEFORE parsing: a 4-token line is acceptable
        // legacy framing only in a file the legacy writer produced — i.e.
        // one with NO CRC-framed (≥5-token) lines anywhere. In a CRC-format
        // file a 4-token line can only be a line torn before its checksum
        // (Base64 decodes most truncation points without complaint), and
        // accepting it would launder a truncated body into the next
        // compaction with a fresh valid CRC — exactly the corruption the
        // CRC exists to catch. Mixed files don't occur: recovery compacts
        // legacy logs to CRC framing wholesale. The pre-scan is one cheap
        // pass; compaction keeps the file bounded by the uncommitted
        // backlog.
        val crcFormat = {
          val probe = java.nio.file.Files.lines(walFile)
          try probe.iterator().asScala
            .exists(l => l.nonEmpty && l.split("\t", -1).length >= 5)
          finally probe.close()
        }
        val stream = java.nio.file.Files.lines(walFile)
        try {
          val it = stream.iterator()
          var ok = true
          var parsed = 0
          // Restores one fully-parsed entry into the live buffer. Shared by
          // every framing generation (k64 = "" for pre-delivery-key lines).
          def restore(idS: String, tsS: String, t64: String, b64: String,
                      k64: String): Unit = {
            val id = idS.toLong
            val ts = tsS.toLong
            val dec = java.util.Base64.getDecoder
            val topic = new String(dec.decode(t64),
              java.nio.charset.StandardCharsets.UTF_8)
            val body = new String(dec.decode(b64),
              java.nio.charset.StandardCharsets.UTF_8)
            val dk = if (k64.isEmpty) ""
              else new String(dec.decode(k64),
                java.nio.charset.StandardCharsets.UTF_8)
            maxSeq = math.max(maxSeq, id)
            val segmented = dk.nonEmpty &&
              Option(firstSeen.get(dk)).exists(_._2 == id)
            val first = mark(dk, ts, id)
            if (id > lowWater && !buf.containsKey(id)) {
              buf.put(id, (ts, topic, body, dk, first))
              retained.incrementAndGet()
              recovered += 1
            } else if (id <= lowWater && first && dk.nonEmpty && !segmented)
              committedFirsts.addLast((id, ts, dk))
          }
          while (ok && it.hasNext) {
            val line = it.next()
            if (line.nonEmpty) {
              line.split("\t", -1) match {
                case Array(idS, tsS, t64, b64, k64, crcS) =>
                  try {
                    if (crc32(s"$idS\t$tsS\t$t64\t$b64\t$k64") != crcS.toLong)
                      ok = false // truncated-but-parseable tail
                    else { restore(idS, tsS, t64, b64, k64); parsed += 1 }
                  } catch { case _: IllegalArgumentException => ok = false }
                case Array(idS, tsS, t64, b64, crcS) =>
                  // previous CRC framing without the delivery-key token: a
                  // torn current-format line can also land here (crc token
                  // position holds k64) — then the CRC check fails and the
                  // stop-at-first-malformed policy holds
                  try {
                    if (crc32(s"$idS\t$tsS\t$t64\t$b64") != crcS.toLong)
                      ok = false
                    else { restore(idS, tsS, t64, b64, ""); parsed += 1 }
                  } catch { case _: IllegalArgumentException => ok = false }
                case Array(idS, tsS, t64, b64) if !crcFormat =>
                  // legacy pre-CRC framing (id, ts, topic64, body64): a
                  // pre-upgrade WAL must survive the format upgrade; the
                  // crcFormat pre-scan guarantees this branch never fires
                  // on a torn current-format line
                  try { restore(idS, tsS, t64, b64, ""); parsed += 1 }
                  catch { case _: IllegalArgumentException => ok = false }
                case _ => ok = false // torn tail — keep the valid prefix
              }
            }
          }
          // `parsed`, not `recovered`: a fully-committed or already-buffered
          // WAL parses fine and legitimately restores nothing — only a file
          // where no line parsed at all suggests foreign framing
          if (parsed == 0 && java.nio.file.Files.size(walFile) > 0)
            System.err.println(
              s"[WebhookQueue] WARNING: non-empty WAL $walFile parsed 0 " +
                "lines — unrecognized framing? Compaction will rewrite it.")
        } finally stream.close()
      }
      seq.set(maxSeq)
      unsegmented.clear()
      unsegmented.addAll(committedFirsts)
      buf.entrySet().iterator().asScala.foreach { e =>
        val (ts, _, _, dk, first) = e.getValue
        if (first && dk.nonEmpty) unsegmented.addLast((e.getKey, ts, dk))
      }
      compactWal()
      recovered
    }

    /** Rewrite the WAL to only the live (uncommitted) entries, atomically,
      * and reopen the appender. Caller holds the shard lock.
      */
    private def compactWal(): Unit = {
      if (wal != null) wal.close()
      segmentCommittedKeys()
      val walFile = walDir.resolve("webhook.wal")
      val tmp = walDir.resolve("webhook.wal.tmp")
      val w = java.nio.file.Files.newBufferedWriter(tmp,
        java.nio.charset.StandardCharsets.UTF_8)
      try {
        buf.entrySet().iterator().asScala.foreach { e =>
          w.write(record(e.getKey, e.getValue._1, e.getValue._2,
            e.getValue._3, e.getValue._4))
        }
      } finally w.close()
      java.nio.file.Files.move(tmp, walFile,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      wal = java.nio.file.Files.newBufferedWriter(walFile,
        java.nio.charset.StandardCharsets.UTF_8,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      walCommitted = 0L
    }

    // committed-but-still-logged entries since the last compaction; once
    // they dominate the live backlog, truncate() rotates the log so disk
    // and future recovery time track the uncommitted tail, not lifetime
    // traffic
    private var walCommitted = 0L

    /** Close the WAL (files stay for a later recovery). */
    def disableDurability(): Unit = synchronized {
      if (wal != null) { wal.close(); wal = null; walDir = null; lowWater = 0L }
      unsegmented.clear()
    }

    private def persistLowWater(): Unit = {
      val tmp = walDir.resolve("lowwater.tmp")
      java.nio.file.Files.write(tmp, lowWater.toString.getBytes)
      java.nio.file.Files.move(tmp, walDir.resolve("lowwater"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    /** Enqueue one delivery. Returns the sequence id, or -1 when the shard
      * is at capacity (caller answers 503 — real back-pressure; shedding
      * retained-but-uncommitted entries would silently break at-least-once).
      * An accepted duplicate of a delivery key seen within the horizon is
      * still queued, with its own seq, marked as not the first copy; a
      * rejected post marks nothing, so its retry counts as first.
      *
      * Synchronized so `latest` can never observe a sequence number whose
      * entry hasn't landed in the map yet — otherwise a concurrent
      * latestOffset()/planInputPartitions() pair could plan a batch that
      * skips the in-flight entry and the committed offset would pass it
      * unread (permanent loss despite the 200 response).
      */
    def post(topic: String, body: String, deliveryKey: String): Long = synchronized {
      if (retained.get() >= maxRetained) -1L
      else {
        val id = seq.incrementAndGet()
        val ts = System.currentTimeMillis() * 1000L
        buf.put(id, (ts, topic, body, deliveryKey, mark(deliveryKey, ts, id)))
        retained.incrementAndGet()
        if (wal != null) { // write-ahead: land in the log before the 200
          wal.write(record(id, ts, topic, body, deliveryKey))
          wal.flush()
        }
        id
      }
    }

    def latest: Long = synchronized { seq.get() }

    /** The highest sequence number no longer retained: every entry above
      * it is still in the shard. A fresh reader starts here — starting at
      * 0 would make a rows-capped stream walk the truncated ranges one
      * empty micro-batch at a time before it reached its data.
      */
    def floor: Long = synchronized {
      if (buf.isEmpty) seq.get() else buf.firstKey() - 1
    }

    /** Entries in (from, to]: (seq, ingest µs, topic, body, delivery key,
      * first copy).
      */
    def slice(fromExclusive: Long, toInclusive: Long)
    : Array[(Long, Long, String, String, String, Boolean)] =
      // iterator, not entrySet().asScala: mapping the Set wrapper rebuilds
      // a hash set and loses the skip list's ascending-seq order
      buf.subMap(fromExclusive, false, toInclusive, true)
        .entrySet().iterator().asScala
        .map(e => (e.getKey, e.getValue._1, e.getValue._2, e.getValue._3,
          e.getValue._4, e.getValue._5))
        .toArray

    // --- consumer registry ------------------------------------------------
    // Several independent streaming queries can read the one queue (e.g.
    // the processing pipeline and the delivered-results receiver in the
    // domain loop). Truncation must respect ALL of them: each
    // MicroBatchStream registers under its checkpoint id, commits its own
    // offset, and the shard truncates at the MINIMUM committed offset —
    // broker consumer-group retention ("keep until the slowest registered
    // reader has it").
    private val committedBy = new java.util.HashMap[String, Long]()

    /** Start retaining entries for reader `id` (idempotent; a restart from
      * the same checkpoint re-registers and resumes its committed floor at
      * the first commit).
      */
    def registerConsumer(id: String): Unit = synchronized {
      if (!committedBy.containsKey(id)) committedBy.put(id, 0L)
    }

    /** Drop reader `id` from retention accounting (a stopped query no
      * longer holds the shard back; its checkpoint still lets it resume —
      * durability willing — from whatever is retained then).
      */
    def unregisterConsumer(id: String): Unit = synchronized {
      committedBy.remove(id)
    }

    /** Record reader `id` at `upto` and truncate to the slowest reader.
      * Monotonic per reader — a replayed commit can't move it backwards.
      */
    def commitConsumer(id: String, upto: Long): Unit = synchronized {
      committedBy.put(id,
        math.max(upto, committedBy.getOrDefault(id, 0L)))
      var min = upto
      val it = committedBy.values().iterator()
      while (it.hasNext) min = math.min(min, it.next())
      truncate(min)
    }

    /** At-least-once retention: entries survive until the committed offset
      * passes them.
      */
    def truncate(uptoInclusive: Long): Unit = synchronized {
      val it = buf.headMap(uptoInclusive, true).keySet().iterator()
      var removed = 0
      while (it.hasNext) { it.next(); it.remove(); removed += 1 }
      retained.addAndGet(-removed)
      if (walDir != null && uptoInclusive > lowWater) {
        lowWater = uptoInclusive
        persistLowWater()
        walCommitted += removed
        if (walCommitted > math.max(1024L, retained.get().toLong))
          compactWal()
      }
    }

    /** Drop in-memory state only, the delivery-key map included — a
      * durable log and its key segments (if any) survive, which is exactly
      * what `enableDurability` recovers from.
      */
    def clear(): Unit = synchronized {
      buf.clear(); retained.set(0); committedBy.clear()
      firstSeen.clear(); unsegmented.clear()
    }
  }

  /** One key-segment record: `id \t ts \t b64(deliveryKey) \t crc32`. */
  private def keyRecord(id: Long, ts: Long, key: String): String = {
    val payload = s"$id\t$ts\t" + java.util.Base64.getEncoder.encodeToString(
      key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"$payload\t${crc32(payload)}\n"
  }

  /** One WAL record = one line of exactly 6 tab-separated tokens:
    * `id \t ts \t b64(topic) \t b64(body) \t b64(deliveryKey) \t crc32`.
    * ALL variable fields are base64-encoded — the topic comes from a URL
    * path where %09/%0A decode to tab/newline, the delivery key is a raw
    * client header, and either containing a tab/newline would corrupt
    * the framing so recovery's stop-at-first-malformed-line policy silently
    * discarded every later 200-acked delivery. The trailing CRC32 (over the
    * preceding tokens) catches the torn tail a 4-char base64 boundary
    * hides: a truncated body can still parse and decode, and without the
    * checksum it would be recovered and delivered as if intact.
    */
  private def record(id: Long, ts: Long, topic: String, body: String,
                     deliveryKey: String): String = {
    val enc = java.util.Base64.getEncoder
    val t64 = enc.encodeToString(
      topic.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val b64 = enc.encodeToString(
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val k64 = enc.encodeToString(
      deliveryKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val payload = s"$id\t$ts\t$t64\t$b64\t$k64"
    s"$payload\t${crc32(payload)}\n"
  }

  private def crc32(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }

  // --- shards ---------------------------------------------------------------
  @volatile private var shards: Array[Shard] = Array(new Shard)
  @volatile private var server: HttpServer = _

  /** Set the shard count to `n`, dropping every queued entry (WALs are
    * closed; their files stay). The front door, if running, routes to the
    * new shards.
    */
  def init(n: Int): Unit = synchronized {
    require(n > 0, "need at least one shard")
    shards.foreach(_.disableDurability())
    shards = Array.fill(n)(new Shard)
  }

  def nShards: Int = shards.length
  def shard(i: Int): Shard = shards(i)

  /** Topic routing: same topic → same shard → per-topic FIFO. */
  def route(topic: String): Int = routeIn(shards, topic)

  private def routeIn(sh: Array[Shard], topic: String): Int =
    if (sh.length == 1) 0
    else math.floorMod(scala.util.hashing.MurmurHash3.stringHash(topic),
      sh.length)

  /** Route `topic` to its shard and enqueue there: the shard's seq, or -1
    * when that shard is full (503). The shards array is read once, so a
    * concurrent `init` cannot pair an index from one array with another.
    */
  def post(topic: String, body: String, deliveryKey: String = ""): Long = {
    val sh = shards
    sh(routeIn(sh, topic)).post(topic, body, deliveryKey)
  }

  /** The sum of the shards' last sequence numbers: at N = 1, the last seq. */
  def latest: Long = shards.iterator.map(_.latest).sum

  // The single-seq views below name a seq of the only shard; at N > 1 a
  // seq means nothing without its shard, so use `shard(i)` there.
  private def only: Shard = {
    val sh = shards
    require(sh.length == 1,
      s"a seq without its shard is ambiguous at ${sh.length} shards; use shard(i)")
    sh(0)
  }
  def floor: Long = only.floor
  def slice(fromExclusive: Long, toInclusive: Long)
  : Array[(Long, Long, String, String, String, Boolean)] =
    only.slice(fromExclusive, toInclusive)
  def truncate(uptoInclusive: Long): Unit = only.truncate(uptoInclusive)

  def registerConsumer(id: String): Unit = shards.foreach(_.registerConsumer(id))
  def unregisterConsumer(id: String): Unit =
    shards.foreach(_.unregisterConsumer(id))

  /** Drop every shard's in-memory state (see [[Shard.clear]]). */
  def clear(): Unit = shards.foreach(_.clear())

  /** Switch every shard durable under `dir`, replaying each shard's
    * uncommitted WAL tail (see [[Shard.enableDurability]]); returns the
    * number of recovered deliveries. Shard 0 keeps `webhook.wal`,
    * `lowwater` and `keys-*.seg` in `dir` itself, so a single-shard
    * directory has the same layout as before shards existed; shard i > 0
    * lives in `dir/shard-i`. A directory written under another shard
    * count is refused: re-routing its records would land a topic's
    * recovered entries in another shard and break per-topic FIFO.
    */
  def enableDurability(dir: String): Int = synchronized {
    val base = java.nio.file.Paths.get(dir)
    val sh = shards
    writtenShards(base).foreach { w =>
      require(w == sh.length, s"WAL directory $dir was written with $w " +
        s"shard(s), but the queue has ${sh.length}")
    }
    val dirs = sh.indices.map(i => if (i == 0) base else base.resolve(s"shard-$i"))
    // highest first: a crash part-way still leaves the count readable
    dirs.reverseIterator.foreach(java.nio.file.Files.createDirectories(_))
    sh.indices.map(i => sh(i).enableDurability(dirs(i))).sum
  }

  /** The shard count a WAL directory was written with: one more than its
    * highest `shard-<i>` subdirectory; None when it is missing or empty.
    */
  private def writtenShards(base: java.nio.file.Path): Option[Int] =
    if (!java.nio.file.Files.isDirectory(base)) None
    else {
      val ls = java.nio.file.Files.list(base)
      val names = try ls.iterator().asScala.map(_.getFileName.toString).toSeq
        finally ls.close()
      val sub = """shard-(\d+)""".r
      if (names.isEmpty) None
      else Some(1 + names.collect { case sub(i) => i.toInt }.maxOption.getOrElse(0))
    }

  /** Close every shard's WAL (files stay for a later recovery). */
  def disableDurability(): Unit = shards.foreach(_.disableDurability())

  /** Start the front door on `port` (0 = any free port); returns the
    * port. Each POST is routed to its topic's shard. Unless the JVM says
    * otherwise, the server's sockets get TCP_NODELAY: without it each
    * response's body segment waits for the client's delayed ACK, ~40 ms
    * per request on a keep-alive connection. The JDK reads the property
    * once, when its first HttpServer starts.
    */
  def startServer(port: Int): Int = synchronized {
    if (server == null) {
      if (System.getProperty("sun.net.httpserver.nodelay") == null)
        System.setProperty("sun.net.httpserver.nodelay", "true")
      server = HttpServer.create(new java.net.InetSocketAddress(port), 0)
      server.createContext("/webhook", new HttpHandler {
        override def handle(x: HttpExchange): Unit = {
          val topic = x.getRequestURI.getPath.stripPrefix("/webhook")
            .stripPrefix("/") match { case "" => "default"; case t => t }
          if (x.getRequestMethod == "POST") {
            val body = new String(x.getRequestBody.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8)
            // the idempotency header rides the record, and post() marks
            // a repeat within the horizon as a duplicate: the mark is
            // what StreamOps.dedupDeliveries filters on
            val dk = Option(x.getRequestHeaders
              .getFirst("X-Delivery-Key")).getOrElse("")
            val id = post(topic, body, dk)
            if (id < 0) {
              val resp = """{"error":"queue full, retry later"}""".getBytes
              x.sendResponseHeaders(503, resp.length)
              x.getResponseBody.write(resp)
            } else {
              val resp = s"""{"accepted":$id}""".getBytes
              x.sendResponseHeaders(200, resp.length)
              x.getResponseBody.write(resp)
            }
          } else x.sendResponseHeaders(405, -1)
          x.close()
        }
      })
      server.setExecutor(null)
      server.start()
    }
    server.getAddress.getPort
  }

  def stopServer(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
  }
}

object WebhookSource {
  /** Metadata key of `first_delivery`: the horizon (µs) its marks cover. */
  val horizonKey: String = "dedup_horizon_us"

  /** The source schema at the queue's current shard count. A shard marks
    * first copies among its own posts only, so above one shard
    * `first_delivery` states no horizon: `marksCover` then answers false,
    * and `dedupDeliveries` keeps its stateful path on the key alone.
    */
  def schema: StructType = {
    val marks = new MetadataBuilder()
    if (WebhookQueue.nShards == 1)
      marks.putLong(horizonKey, WebhookQueue.dedupHorizonUs)
    StructType(Seq(
      StructField("seq", LongType, nullable = false),
      StructField("ingest_ts", TimestampType, nullable = false),
      StructField("topic", StringType, nullable = false),
      StructField("body", StringType, nullable = false),
      // X-Delivery-Key idempotency header; NULL when the sender sent none
      StructField("delivery_key", StringType, nullable = true),
      // the front door's dedup mark; its metadata states the horizon
      StructField("first_delivery", BooleanType, nullable = false,
        marks.build()),
      StructField("shard", IntegerType, nullable = false)))
  }

  /** Whether `schema` has a `first_delivery` column whose marks cover a
    * replay horizon of `interval`, parsed as `withWatermark` parses its
    * delay.
    */
  def marksCover(schema: StructType, interval: String): Boolean = {
    val delayMs = EventTimeWatermark.getDelayMs(
      IntervalUtils.fromIntervalString(interval))
    schema.find(_.name == "first_delivery").exists { f =>
      f.metadata.contains(horizonKey) &&
        f.metadata.getLong(horizonKey) >= delayMs * 1000L
    }
  }
}

class WebhookSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "webhook"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WebhookSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WebhookTable(schema)
}

class WebhookTable(tableSchema: StructType) extends Table with SupportsRead {
  override def name(): String = "webhook"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap)
  : ScanBuilder = new ScanBuilder {
    // admission control: .option("maxRowsPerBatch", n) caps every
    // micro-batch at n deliveries (the Kafka maxOffsetsPerTrigger analog)
    private val maxRows =
      Option(options.get("maxRowsPerBatch")).map(_.toLong)
    override def build(): Scan = new WebhookScan(tableSchema, maxRows)
  }
}

class WebhookScan(tableSchema: StructType, maxRows: Option[Long] = None)
  extends Scan {
  override def readSchema(): StructType = tableSchema
  override def toMicroBatchStream(checkpointLocation: String)
  : MicroBatchStream =
    new WebhookMicroBatchStream(maxRows, checkpointLocation)
}

/** One seq per shard — the Kafka offset-map shape. */
case class WebhookOffset(seqs: IndexedSeq[Long]) extends Offset {
  override def json(): String = seqs.mkString("""{"seqs":[""", ",", "]}")
}

/** Micro-batch stream over the webhook queue's shards. With `maxRows` set
  * the stream declares a rows-per-batch ReadLimit (DSv2 admission
  * control), and `latestOffset(start, limit)` advances at most that many
  * sequence numbers per trigger, over all shards — backpressure that
  * turns an ingest burst into a series of bounded batches instead of one
  * giant one (bounding per-batch task memory and commit latency), exactly
  * the Kafka-source `maxOffsetsPerTrigger` contract. Deliveries beyond the
  * cap stay queued (and WAL-retained when durability is on) for the next
  * trigger.
  */
class WebhookMicroBatchStream(maxRows: Option[Long] = None,
                              consumerId: String = "default")
  extends MicroBatchStream with SupportsAdmissionControl {

  private val n = WebhookQueue.nShards

  // retention holds for this reader from construction (query start), so a
  // second query's commits can't truncate rows this one hasn't read yet
  WebhookQueue.registerConsumer(consumerId)

  override def getDefaultReadLimit: ReadLimit =
    maxRows.fold(ReadLimit.allAvailable())(m => ReadLimit.maxRows(m))

  private def latestSeqs: IndexedSeq[Long] =
    (0 until n).map(WebhookQueue.shard(_).latest)

  /** Seq numbers are contiguous per shard (its AtomicLong), so a rows cap
    * is an offset-range cap, split max-min fairly: every shard with rows
    * gets an equal share, and the shares a shard cannot use go to the
    * others, so no shard starves another.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[WebhookOffset].seqs
    // Spark asks for new offsets only once the batch ending at `start` has
    // completed, but calls commit(end) for a batch only when it constructs
    // the next one: a caught-up reader's last batch would stay queued after
    // its query stops, and a fresh query would read it again
    commitUpTo(from)
    val latest = latestSeqs
    val end = limit match {
      case r: ReadMaxRows =>
        val avail = latest.indices.map(i => math.max(0L, latest(i) - from(i)))
        var left = r.maxRows()
        val take = new Array[Long](n)
        avail.indices.sortBy(avail(_)).zipWithIndex.foreach { case (i, k) =>
          take(i) = math.min(avail(i), left / (n - k))
          left -= take(i)
        }
        from.indices.map(i => from(i) + take(i))
      case _ => latest
    }
    // Spark runs batch 0 whenever a source has an end offset but no
    // committed one; a fresh query with nothing queued past its start
    // answers "no data yet" instead of running a batch over no rows
    if ((start eq initial) && end == from) null else WebhookOffset(end)
  }

  /** Task width for batch splitting, captured ONCE at stream construction
    * (driver-side, inside the owning query's startup, where the query's
    * session is the active one). Resolving `SparkSession.active` per batch
    * would throw on a thread with no active/default session and would
    * silently follow whichever session happens to be active, not the
    * query's own.
    */
  private val width: Int = math.max(1,
    scala.util.Try(org.apache.spark.sql.SparkSession.active
      .conf.get("spark.sql.shuffle.partitions", "32").toInt).getOrElse(32))

  // fixed on first use, so every caller within this query sees one start
  private lazy val initial =
    WebhookOffset((0 until n).map(WebhookQueue.shard(_).floor))

  /** A fresh query starts at each shard's retained floor: the entries
    * below it are gone, and batches over their ranges would all be empty.
    */
  override def initialOffset(): Offset = initial
  override def latestOffset(): Offset = WebhookOffset(latestSeqs)
  /** Reads [[WebhookOffset.json]], and a single-queue checkpoint's
    * `{"seq":n}` as the vector [n].
    */
  override def deserializeOffset(json: String): Offset = {
    val seqs = """\d+""".r.findAllIn(json).map(_.toLong).toIndexedSeq
    require(seqs.length == n, s"offset $json has ${seqs.length} shard " +
      s"seq(s), but the queue has $n shard(s)")
    WebhookOffset(seqs)
  }
  override def commit(end: Offset): Unit =
    commitUpTo(end.asInstanceOf[WebhookOffset].seqs)

  // the highest seq this reader committed per shard; an idle poll (start
  // unchanged) then does not take the shard lock that post() needs
  private val committed = Array.fill(n)(Long.MinValue)

  private def commitUpTo(upto: IndexedSeq[Long]): Unit =
    for (i <- 0 until n if upto(i) > committed(i)) {
      WebhookQueue.shard(i).commitConsumer(consumerId, upto(i))
      committed(i) = upto(i)
    }
  override def stop(): Unit = WebhookQueue.unregisterConsumer(consumerId)

  /** Each shard's slice is split into contiguous ascending seq ranges,
    * about task-width many partitions over all shards — one partition per
    * shard would serialize a hot shard through a single task. Every
    * partition holds one shard's rows in seq order, so per-topic FIFO
    * survives into the task.
    */
  override def planInputPartitions(start: Offset, end: Offset)
  : Array[InputPartition] = {
    val s = start.asInstanceOf[WebhookOffset].seqs
    val e = end.asInstanceOf[WebhookOffset].seqs
    val slices = (0 until n).map(i => WebhookQueue.shard(i).slice(s(i), e(i)))
    val chunk = math.max(1, (slices.map(_.length).sum + width - 1) / width)
    slices.zipWithIndex.flatMap { case (rows, i) =>
      rows.grouped(chunk).map(WebhookInputPartition(i, _): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    WebhookReaderFactory
}

/** The batch slice travels inside the partition (serialized to executors —
  * correct beyond local mode, where the queue singleton wouldn't exist).
  */
case class WebhookInputPartition(
    shard: Int, rows: Array[(Long, Long, String, String, String, Boolean)])
  extends InputPartition

object WebhookReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
  : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WebhookInputPartition]
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < p.rows.length }
      override def get(): InternalRow = {
        val (seqNo, tsMicros, topic, body, dk, first) = p.rows(i)
        InternalRow(seqNo, tsMicros,
          UTF8String.fromString(topic), UTF8String.fromString(body),
          if (dk.isEmpty) null else UTF8String.fromString(dk), first, p.shard)
      }
      override def close(): Unit = ()
    }
  }
}
