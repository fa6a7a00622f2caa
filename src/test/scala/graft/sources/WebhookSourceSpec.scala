package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.streaming.StreamOps

/** End-to-end webhook path: real HTTP POSTs → DSv2 micro-batch source →
  * from_json(declared schema) → memory sink (SURVEY.md §3.3).
  */
class WebhookSourceSpec extends SparkSpec {

  test("HTTP POSTs flow through the DSv2 source into a streaming query") {
    val port = WebhookQueue.startServer(0)
    try {
      WebhookQueue.clear()
      val client = HttpClient.newHttpClient()
      def post(topic: String, body: String): Int = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/webhook/$topic"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()

      val payloadSchema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val q = spark.readStream
        .format("graft.sources.WebhookSourceProvider").load()
        .select(col("seq"), col("topic"),
          from_json(col("body"), payloadSchema).as("e"))
        .select("seq", "topic", "e.event_id", "e.event_type", "e.value")
        .writeStream.format("memory").queryName("t_webhook")
        .outputMode("append").start()

      assert(post("orders", """{"event_id":1,"event_type":"click","value":1.5}""") == 200)
      assert(post("orders", """{"event_id":2,"event_type":"view","value":2.5}""") == 200)
      assert(post("alerts", """{"event_id":3,"event_type":"error","value":0.0}""") == 200)
      // malformed JSON must not kill the pipeline — from_json yields nulls
      assert(post("orders", """not json at all""") == 200)
      q.processAllAvailable()

      val rows = spark.sql(
        "select topic, event_id, event_type from t_webhook order by seq")
        .collect()
      q.stop()
      assert(rows.length == 4)
      assert(rows.take(3).map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("orders", 1L), ("orders", 2L), ("alerts", 3L)))
      assert(rows(3).isNullAt(1), "malformed body should parse to nulls")

      // GET is rejected — ingest is POST-only
      val getStatus = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/webhook/orders")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      assert(getStatus == 405)
    } finally WebhookQueue.stopServer()
  }

  test("durable queue recovers uncommitted deliveries across a restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wal").toString
    WebhookQueue.clear()
    try {
      assert(WebhookQueue.enableDurability(dir) == 0)
      val id1 = WebhookQueue.post("orders", """{"event_id":1}""")
      val id2 = WebhookQueue.post("orders", """{"event_id":2}""")
      val id3 = WebhookQueue.post("alerts", """{"event_id":3}""")
      WebhookQueue.truncate(id1) // engine committed through id1
      // crash: WAL closed, all in-memory state lost
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
      assert(WebhookQueue.slice(0L, Long.MaxValue).isEmpty)
      // restart: only the uncommitted tail comes back
      assert(WebhookQueue.enableDurability(dir) == 2)
      val back = WebhookQueue.slice(0L, Long.MaxValue)
      assert(back.map(_._1).toSeq == Seq(id2, id3))
      assert(back.map(e => (e._3, e._4)).toSeq == Seq(
        ("orders", """{"event_id":2}"""), ("alerts", """{"event_id":3}""")))
      // sequence numbers continue monotonically past the recovered max
      val id4 = WebhookQueue.post("orders", """{"event_id":4}""")
      assert(id4 == id3 + 1)
      // a second recovery after committing everything replays nothing
      WebhookQueue.truncate(id4)
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
      assert(WebhookQueue.enableDurability(dir) == 0)
    } finally {
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
    }
  }

  test("WAL recovery survives a torn tail line and compacts the log") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wal2").toString
    WebhookQueue.clear()
    try {
      WebhookQueue.enableDurability(dir)
      val id1 = WebhookQueue.post("orders", """{"event_id":1}""")
      val id2 = WebhookQueue.post("orders", """{"event_id":2}""")
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
      // crash mid-append: partial final line (no tabs / truncated base64)
      val wal = java.nio.file.Paths.get(dir, "webhook.wal")
      java.nio.file.Files.writeString(wal, s"${id2 + 1}\t17",
        java.nio.file.StandardOpenOption.APPEND)
      // recovery keeps the valid prefix instead of throwing
      assert(WebhookQueue.enableDurability(dir) == 2)
      val back = WebhookQueue.slice(0L, Long.MaxValue)
      assert(back.map(_._1).toSeq == Seq(id1, id2))
      // recovery compacted: the torn line is gone from disk
      val lines = java.nio.file.Files.readAllLines(wal)
      assert(lines.size == 2 && lines.asScala.forall(_.split("\t").length == 6))
    } finally {
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
    }
  }

  test("WAL recovery accepts a legacy pre-CRC 4-token log") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wal4")
    WebhookQueue.clear()
    try {
      // a pre-upgrade WAL: id \t ts \t base64(topic) \t base64(body), no CRC
      val enc = java.util.Base64.getEncoder
      def legacy(id: Long, topic: String, body: String): String =
        s"$id\t1000\t${enc.encodeToString(topic.getBytes("UTF-8"))}\t" +
          s"${enc.encodeToString(body.getBytes("UTF-8"))}\n"
      java.nio.file.Files.writeString(dir.resolve("webhook.wal"),
        legacy(1, "orders", """{"event_id":1}""") +
          legacy(2, "alerts", """{"event_id":2}"""))
      assert(WebhookQueue.enableDurability(dir.toString) == 2,
        "legacy 4-token lines must recover, not be discarded")
      val back = WebhookQueue.slice(0L, Long.MaxValue)
      assert(back.map(e => (e._1, e._3, e._4)).toSeq == Seq(
        (1L, "orders", """{"event_id":1}"""),
        (2L, "alerts", """{"event_id":2}""")))
      // compaction upgraded the surviving entries to the CRC framing
      val lines = java.nio.file.Files.readAllLines(dir.resolve("webhook.wal"))
      assert(lines.size == 2 && lines.asScala.forall(_.split("\t").length == 6))
    } finally {
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
    }
  }

  test("a CRC-format line torn before its checksum is rejected, not read as legacy") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wal5")
    WebhookQueue.clear()
    try {
      WebhookQueue.enableDurability(dir.toString)
      val id1 = WebhookQueue.post("orders", """{"event_id":1}""")
      val id2 = WebhookQueue.post("orders", """{"event_id":2,"note":"longer body here"}""")
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
      // tear the LAST line mid-body so the CRC token is lost entirely:
      // 4 tokens remain and the truncated base64 still decodes (length
      // divisible by 4) — without format detection this would restore a
      // silently shortened body and compaction would re-CRC it
      val wal = dir.resolve("webhook.wal")
      val lines = java.nio.file.Files.readAllLines(wal)
      val last = lines.get(1).split("\t")
      val torn = (last.take(3) :+ last(3).substring(0, 8)).mkString("\t")
      java.nio.file.Files.write(wal,
        java.util.List.of(lines.get(0), torn))
      assert(WebhookQueue.enableDurability(dir.toString) == 1,
        "the torn 4-token tail of a CRC-format WAL must not recover")
      val back = WebhookQueue.slice(0L, Long.MaxValue)
      assert(back.map(_._1).toSeq == Seq(id1))
      assert(id2 > id1) // only the intact prefix survives
    } finally {
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
    }
  }

  test("WAL framing survives hostile topics and catches truncated bodies") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wal3").toString
    WebhookQueue.clear()
    try {
      WebhookQueue.enableDurability(dir)
      // a topic with tab+newline (URL %09/%0A decode to these) must not
      // corrupt record framing for deliveries logged after it
      val id1 = WebhookQueue.post("or\tders\nx", """{"event_id":1}""")
      val id2 = WebhookQueue.post("plain", """{"event_id":2}""")
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
      assert(WebhookQueue.enableDurability(dir) == 2)
      val back = WebhookQueue.slice(0L, Long.MaxValue)
      assert(back.map(e => (e._1, e._3)).toSeq ==
        Seq((id1, "or\tders\nx"), (id2, "plain")))

      // torn tail on a 4-char base64 boundary: the line still parses and
      // decodes, but the CRC unmasks the truncation
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
      val wal = java.nio.file.Paths.get(dir, "webhook.wal")
      val good = java.nio.file.Files.readAllLines(wal).get(0).split("\t")
      val torn = (good.take(3) :+ good(3).dropRight(4) :+ good(4))
        .mkString("\t")
      java.nio.file.Files.writeString(wal, torn + "\n",
        java.nio.file.StandardOpenOption.APPEND)
      assert(WebhookQueue.enableDurability(dir) == 2,
        "truncated-but-parseable tail must be rejected by the CRC")
      assert(WebhookQueue.slice(0L, Long.MaxValue).map(_._1).toSeq ==
        Seq(id1, id2))
    } finally {
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
    }
  }

  test("maxRowsPerBatch caps every micro-batch and loses nothing") {
    WebhookQueue.clear()
    try {
      (1 to 250).foreach(i => WebhookQueue.post("t", s"""{"i":$i}"""))
      val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
      val seqs = scala.collection.mutable.ArrayBuffer[Long]()
      val q = spark.readStream
        .format("graft.sources.WebhookSourceProvider")
        .option("maxRowsPerBatch", "40")
        .load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val s = df.select("seq").collect().map(_.getLong(0))
          batchSizes.synchronized { batchSizes += s.length; seqs ++= s }
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      val sizes = batchSizes.filter(_ > 0)
      assert(sizes.forall(_ <= 40), s"batch over the cap: $sizes")
      assert(sizes.length >= 7, s"burst not split: $sizes") // ceil(250/40)
      assert(seqs.sorted.toSeq == seqs.min.to(seqs.min + 249).toSeq,
        "every delivery exactly once, in sequence")
    } finally WebhookQueue.clear()
  }

  test("a multi-row micro-batch spans more than one input partition") {
    WebhookQueue.clear()
    try {
      (1 to 10).foreach(i => WebhookQueue.post("t", s"""{"event_id":$i}"""))
      // make sure a session exists so planning can read the task width
      assert(spark.sparkContext.isLocal)
      val stream = new WebhookMicroBatchStream
      val parts = stream.planInputPartitions(
        WebhookOffset(0L), WebhookOffset(WebhookQueue.latest))
      assert(parts.length > 1, s"expected >1 partition, got ${parts.length}")
      val seqs = parts.flatMap(
        _.asInstanceOf[WebhookInputPartition].rows.map(_._1))
      assert(seqs.toSeq == seqs.sorted.toSeq) // contiguous ranges, in order
      assert(seqs.length == 10 && seqs.distinct.length == 10)
    } finally WebhookQueue.clear()
  }

  test("malformed payloads are dead-lettered; well-formed rows unaffected") {
    val port = WebhookQueue.startServer(0)
    try {
      WebhookQueue.clear()
      val client = HttpClient.newHttpClient()
      def post(body: String): Int = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/webhook/orders"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()

      val payloadSchema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val good = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
      val dead = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val checkpoint =
        java.nio.file.Files.createTempDirectory("graft_dl").toString
      val raw = spark.readStream
        .format("graft.sources.WebhookSourceProvider").load()
      val q = WebhookIngest.streamWithDeadLetter(raw, payloadSchema,
        checkpoint) { g =>
        g.collect().foreach(r =>
          good.add((r.getAs[Long]("event_id"), r.getAs[String]("event_type"))))
      } { d =>
        d.collect().foreach(r =>
          dead.add((r.getAs[String]("body"), r.getAs[String]("reason"))))
      }

      assert(post("""{"event_id":1,"event_type":"click","value":1.0}""") == 200)
      assert(post("""{{{ definitely broken""") == 200) // accepted, then dead-lettered
      assert(post("") == 200) // empty body: NULL struct, not a corrupt marker
      assert(post("""{"event_id":2,"event_type":"view","value":2.0}""") == 200)
      q.processAllAvailable()
      q.stop()

      import scala.jdk.CollectionConverters._
      assert(good.asScala.toSet == Set((1L, "click"), (2L, "view")))
      assert(dead.asScala.toSet == Set(
        ("{{{ definitely broken", "malformed_json"),
        ("", "empty_body")))
    } finally WebhookQueue.stopServer()
  }

  test("schema evolution: extra fields ignored, missing fields null, " +
    "type drift dead-letters, additive upgrade reads both versions") {
    import spark.implicits._
    // the WebhookIngest scaladoc's evolution contract, pinned. Pure
    // column logic — parseOrDeadLetter behaves identically on a batch
    // frame and inside a micro-batch, so the batch path is the spec.
    val v1 = StructType(Seq(
      StructField("event_id", LongType),
      StructField("value", DoubleType)))
    def raw(rows: (Long, String)*) = rows.toSeq
      .map { case (seq, body) =>
        (seq, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
          "orders", body)
      }
      .toDF("seq", "ingest_ts", "topic", "body")
    val frame = raw(
      1L -> """{"event_id":1,"value":1.5}""", // exact v1
      2L -> """{"event_id":2,"value":2.5,"campaign":"x"}""", // producer added a field
      3L -> """{"event_id":3}""", // producer dropped / predates `value`
      4L -> """{"event_id":"not-a-number","value":5.0}""") // retyped key field
    val (good, dead) = WebhookIngest.parseOrDeadLetter(frame, v1)
    val g = good.collect()
      .map(r => r.getAs[Long]("seq") ->
        (Option(r.getAs[java.lang.Long]("event_id")).map(_.toLong),
          Option(r.getAs[java.lang.Double]("value")).map(_.toDouble)))
      .toMap
    // added field: ignored, row parses on the declared schema
    assert(g(2L) == ((Some(2L), Some(2.5))))
    // dropped field: null, NOT a dead-letter (required-ness is a
    // downstream Quality.NotNull contract)
    assert(g(3L) == ((Some(3L), None)))
    assert(g(1L) == ((Some(1L), Some(1.5))))
    // retyped field: loud failure — the whole delivery dead-letters with
    // the raw payload, never a silent null in an aggregate column
    val d = dead.collect().map(r =>
      r.getAs[Long]("seq") -> r.getAs[String]("reason")).toMap
    assert(d == Map(4L -> "malformed_json"), s"got $d")
    // additive consumer upgrade: v2 = v1 + nullable `campaign`; new
    // payloads carry it, old payloads read it as null — both versions
    // flow through one declared schema
    val v2 = v1.add(StructField("campaign", StringType))
    val (good2, dead2) = WebhookIngest.parseOrDeadLetter(
      raw(1L -> """{"event_id":1,"value":1.5}""",
        2L -> """{"event_id":2,"value":2.5,"campaign":"x"}"""), v2)
    val g2 = good2.collect()
      .map(r => r.getAs[Long]("seq") ->
        Option(r.getAs[String]("campaign"))).toMap
    assert(g2 == Map(1L -> None, 2L -> Some("x")))
    assert(dead2.isEmpty)
  }

  test("queue retention waits for the slowest registered consumer") {
    // broker consumer-group semantics: several streaming queries read
    // the one queue, each committing its own offset; truncation follows
    // the MINIMUM — a fast reader's commit must never drop entries a
    // slow reader has not read yet (the domain-loop composition relies
    // on this: processor + wire-tap + receiver share the queue)
    WebhookQueue.clear()
    val base = WebhookQueue.latest
    WebhookQueue.registerConsumer("fast")
    WebhookQueue.registerConsumer("slow")
    (1 to 5).foreach(i => WebhookQueue.post("t", s"""{"i":$i}"""))
    assert(WebhookQueue.slice(base, base + 5).length == 5)
    // the fast reader commits everything — nothing may truncate while
    // the slow reader still sits at its registration floor
    WebhookQueue.commitConsumer("fast", base + 5)
    assert(WebhookQueue.slice(base, base + 5).length == 5,
      "fast commit truncated entries the slow consumer has not read")
    WebhookQueue.commitConsumer("slow", base + 3)
    assert(WebhookQueue.slice(base, base + 5).map(_._1).toSeq ==
      Seq(base + 4, base + 5), "truncation must follow the minimum commit")
    // a consumer that deregisters stops holding the queue back
    WebhookQueue.unregisterConsumer("slow")
    WebhookQueue.commitConsumer("fast", base + 5)
    assert(WebhookQueue.slice(base, base + 5).isEmpty)
    // commits are monotonic per consumer: a replayed (older) commit
    // cannot resurrect a lower floor
    WebhookQueue.unregisterConsumer("fast")
    WebhookQueue.registerConsumer("fast2")
    (6 to 8).foreach(i => WebhookQueue.post("t", s"""{"i":$i}"""))
    WebhookQueue.commitConsumer("fast2", base + 8)
    WebhookQueue.commitConsumer("fast2", base + 6) // replay of an old commit
    assert(WebhookQueue.slice(base, base + 8).isEmpty,
      "an older replayed commit moved the floor backwards")
    WebhookQueue.clear()
  }

  test("the front door answers sequential POSTs on one keep-alive " +
    "connection without waiting on delayed ACKs") {
    // with Nagle's algorithm on the server socket, each response's body
    // segment waits for the client's delayed ACK: ~40-45 ms per request,
    // ~9 s for 200. With TCP_NODELAY they take a few ms each
    val port = WebhookQueue.startServer(0)
    try {
      WebhookQueue.clear()
      val client = HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_1_1).build()
      val uri = URI.create(s"http://localhost:$port/webhook/t")
      def post(i: Int): Int = client.send(
        HttpRequest.newBuilder(uri)
          .POST(HttpRequest.BodyPublishers.ofString(s"""{"i":$i}""")).build(),
        HttpResponse.BodyHandlers.discarding()).statusCode()
      (1 to 20).foreach(i => assert(post(i) == 200)) // connect, warm up
      val t0 = System.nanoTime()
      (1 to 200).foreach(i => assert(post(i) == 200))
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 3000, f"200 sequential POSTs took $ms%.0f ms")
    } finally {
      WebhookQueue.stopServer()
      WebhookQueue.clear()
    }
  }

  test("a fresh query starts at the retained floor: after a truncation " +
    "its first micro-batch holds rows") {
    WebhookQueue.clear()
    try {
      (1 to 300).foreach(i => WebhookQueue.post("t", s"""{"i":$i}"""))
      WebhookQueue.truncate(WebhookQueue.latest) // an earlier reader's commit
      assert(WebhookQueue.floor == WebhookQueue.latest)
      val first = WebhookQueue.post("t", """{"i":301}""")
      (302 to 310).foreach(i => WebhookQueue.post("t", s"""{"i":$i}"""))
      assert(WebhookQueue.floor == first - 1)
      val batches = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
      val q = spark.readStream
        .format("graft.sources.WebhookSourceProvider")
        .option("maxRowsPerBatch", "50")
        .load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val s = df.select("seq").collect().map(_.getLong(0)).toSeq.sorted
          batches.synchronized { batches += id -> s }
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      val got = batches.sortBy(_._1).toSeq
      assert(got.head == ((0L, first.to(first + 9).toSeq)),
        s"first batch: ${got.head}")
      assert(got.forall(_._2.nonEmpty), s"empty micro-batches: $got")
    } finally WebhookQueue.clear()
  }

  // ---- front-door dedup --------------------------------------------------

  /** Every row a query over `df` writes, per batch id (empty batches too). */
  private def runToEnd(df: DataFrame, checkpoint: String = null)
  : (Seq[(Long, Seq[org.apache.spark.sql.Row])],
    org.apache.spark.sql.streaming.StreamingQuery) = {
    val batches = scala.collection.mutable.ArrayBuffer[
      (Long, Seq[org.apache.spark.sql.Row])]()
    val w = df.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      val rows = b.collect().toSeq
      batches.synchronized { batches += id -> rows }
      ()
    }
    val q = Option(checkpoint)
      .fold(w)(c => w.option("checkpointLocation", c)).start()
    q.processAllAvailable()
    q.stop()
    (batches.synchronized(batches.sortBy(_._1).toSeq), q)
  }

  private def raw(): DataFrame =
    spark.readStream.format("graft.sources.WebhookSourceProvider").load()

  private def marks(): Seq[(String, Boolean)] =
    WebhookQueue.slice(0L, Long.MaxValue).map(e => (e._5, e._6)).toSeq

  test("front-door dedup: a duplicate inside one batch is dropped") {
    WebhookQueue.clear()
    try {
      WebhookQueue.post("t", """{"i":1}""", "k1")
      WebhookQueue.post("t", """{"i":2}""", "k2")
      WebhookQueue.post("t", """{"i":1}""", "k1") // sender retry
      // the duplicate is queued (a wire view sees it), marked not-first
      assert(marks() == Seq(("k1", true), ("k2", true), ("k1", false)))
      val (batches, _) = runToEnd(StreamOps.dedupDeliveries(raw()))
      assert(batches.map(_._2.length) == Seq(3 - 1),
        s"one batch of the 2 first copies: $batches")
      assert(batches.head._2.map(_.getAs[String]("delivery_key")).sorted ==
        Seq("k1", "k2"))
      assert(!batches.head._2.head.schema.fieldNames.contains("first_delivery"))
    } finally WebhookQueue.clear()
  }

  test("front-door dedup: two keyless posts both survive") {
    WebhookQueue.clear()
    try {
      WebhookQueue.post("t", """{"same":1}""")
      WebhookQueue.post("t", """{"same":1}""")
      assert(marks() == Seq(("", true), ("", true)))
      val (batches, _) = runToEnd(StreamOps.dedupDeliveries(raw()))
      val rows = batches.flatMap(_._2)
      assert(rows.length == 2 &&
        rows.forall(_.isNullAt(rows.head.fieldIndex("delivery_key"))))
    } finally WebhookQueue.clear()
  }

  test("front-door dedup: a duplicate after truncation, compaction and a " +
    "WAL restart, still inside the horizon, is dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wal_dedup")
    WebhookQueue.clear()
    try {
      WebhookQueue.enableDurability(dir.toString)
      WebhookQueue.post("t", """{"i":0}""", "early")
      (1 to 1100).foreach(i => WebhookQueue.post("t", s"""{"i":$i}""", s"k$i"))
      // commit everything: past the compaction threshold, so the WAL is
      // rewritten empty and the keys move to a key segment
      WebhookQueue.truncate(WebhookQueue.latest)
      val wal = dir.resolve("webhook.wal")
      assert(java.nio.file.Files.size(wal) == 0L, "no compaction happened")
      val segs = java.nio.file.Files.list(dir).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("keys-")).toSeq
      assert(segs.nonEmpty, "no key segment written")
      // an uncommitted first copy and its duplicate stay in the WAL tail
      WebhookQueue.post("t", """{"i":2000}""", "tail")
      WebhookQueue.post("t", """{"i":2000}""", "tail")
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
      assert(WebhookQueue.enableDurability(dir.toString) == 2)
      // recovery recomputed the tail's marks
      assert(marks() == Seq(("tail", true), ("tail", false)))
      // and the compacted-away keys are still known
      WebhookQueue.post("t", """{"i":0}""", "early")
      WebhookQueue.post("t", """{"i":700}""", "k700")
      WebhookQueue.post("t", """{"i":3000}""", "fresh")
      assert(marks().drop(2) ==
        Seq(("early", false), ("k700", false), ("fresh", true)))
      val (batches, _) = runToEnd(StreamOps.dedupDeliveries(raw()))
      assert(batches.flatMap(_._2).map(_.getAs[String]("delivery_key"))
        .sorted == Seq("fresh", "tail"))
    } finally {
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
    }
  }

  test("front-door dedup: a torn key-segment line costs that line only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wal_seg")
    WebhookQueue.clear()
    def restart(): Unit = {
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
      WebhookQueue.enableDurability(dir.toString)
    }
    def segment(): java.nio.file.Path = java.nio.file.Files.list(dir)
      .iterator().asScala.filter(_.getFileName.toString.startsWith("keys-"))
      .toSeq.maxBy(_.getFileName.toString)
    try {
      WebhookQueue.enableDurability(dir.toString)
      (1 to 1100).foreach(i => WebhookQueue.post("t", "{}", s"a$i"))
      WebhookQueue.truncate(WebhookQueue.latest)
      // a crash mid-append leaves a partial last line without a newline
      java.nio.file.Files.writeString(segment(), "99999\t17",
        java.nio.file.StandardOpenOption.APPEND)
      restart()
      // later appends start on a fresh line, so they load too
      (1 to 1100).foreach(i => WebhookQueue.post("t", "{}", s"b$i"))
      WebhookQueue.truncate(WebhookQueue.latest)
      restart()
      // the lines on either side of the torn one
      WebhookQueue.post("t", "{}", "a1100")
      WebhookQueue.post("t", "{}", "b1")
      WebhookQueue.post("t", "{}", "c1")
      assert(marks() == Seq(("a1100", false), ("b1", false), ("c1", true)))
    } finally {
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
    }
  }

  test("front-door dedup: a key whose first copy is a recovered WAL record " +
    "3 h old counts as first again") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wal_expiry")
    WebhookQueue.clear()
    try {
      // a WAL written earlier: one record 3 h old, one 1 h old
      val enc = java.util.Base64.getEncoder
      def b64(x: String) = enc.encodeToString(x.getBytes("UTF-8"))
      def rec(id: Long, ts: Long, key: String): String = {
        val payload = s"$id\t$ts\t${b64("t")}\t${b64("{}")}\t${b64(key)}"
        val crc = new java.util.zip.CRC32
        crc.update(payload.getBytes("UTF-8"))
        s"$payload\t${crc.getValue}\n"
      }
      val hourUs = 3600L * 1000 * 1000
      val now = System.currentTimeMillis() * 1000L
      java.nio.file.Files.writeString(dir.resolve("webhook.wal"),
        rec(1, now - 3 * hourUs, "old") + rec(2, now - hourUs, "recent"))
      // and a key segment from 1970, long past the horizon
      java.nio.file.Files.writeString(dir.resolve("keys-0.seg"), "")
      assert(WebhookQueue.enableDurability(dir.toString) == 2)
      assert(!java.nio.file.Files.exists(dir.resolve("keys-0.seg")),
        "a segment past the horizon was kept")
      WebhookQueue.post("t", "{}", "old")
      WebhookQueue.post("t", "{}", "recent")
      assert(marks() == Seq(("old", true), ("recent", true),
        ("old", true), ("recent", false)))
    } finally {
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
    }
  }

  test("dedupDeliveries over the raw source plans no stateful operator and " +
    "runs no no-data batch") {
    WebhookQueue.clear()
    try {
      val src = raw()
      assert(src.schema("first_delivery").metadata
        .getLong(WebhookSource.horizonKey) == WebhookQueue.dedupHorizonUs)
      (1 to 5).foreach(i => WebhookQueue.post("t", s"""{"i":$i}""", s"k$i"))
      WebhookQueue.post("t", """{"i":1}""", "k1")
      val (batches, q) = runToEnd(StreamOps.dedupDeliveries(src))
      assert(batches.map(_._2.length) == Seq(5), s"batches: $batches")
      assert(q.recentProgress.nonEmpty &&
        q.recentProgress.forall(_.stateOperators.isEmpty),
        "the marked source still planned a state store")
    } finally WebhookQueue.clear()
  }

  test("dedupDeliveries over a projection without the mark keeps the " +
    "stateful operator") {
    WebhookQueue.clear()
    try {
      (1 to 5).foreach(i => WebhookQueue.post("t", s"""{"i":$i}""", s"k$i"))
      WebhookQueue.post("t", """{"i":1}""", "k1")
      val (batches, q) = runToEnd(StreamOps.dedupDeliveries(
        raw().select("ingest_ts", "delivery_key", "body")))
      assert(batches.flatMap(_._2).length == 5, s"batches: $batches")
      assert(q.recentProgress.exists(_.stateOperators.nonEmpty),
        "the unmarked projection lost its state store")
      // a longer horizon than the marks cover is stateful too
      assert(!WebhookSource.marksCover(raw().schema, "3 hours"))
      assert(WebhookSource.marksCover(raw().schema, "2 hours"))
    } finally WebhookQueue.clear()
  }

  test("a stateless query that caught up and stopped leaves nothing for a " +
    "fresh query to re-read") {
    WebhookQueue.clear()
    try {
      (1 to 5).foreach(i => WebhookQueue.post("t", s"""{"i":$i}"""))
      val (first, _) = runToEnd(raw().select("seq"))
      assert(first.flatMap(_._2).length == 5)
      // Spark commits a batch only when it builds the next one; the
      // reader commits a caught-up query's last batch itself
      assert(WebhookQueue.slice(0L, Long.MaxValue).isEmpty,
        "the last batch stayed queued")
      val (second, _) = runToEnd(raw().select("seq"))
      assert(second.flatMap(_._2).isEmpty, s"re-read: $second")
    } finally WebhookQueue.clear()
  }

  test("a batch whose sink fails is re-read in full from the same " +
    "checkpoint") {
    WebhookQueue.clear()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fail").toString
    try {
      val base = WebhookQueue.latest
      (1 to 30).foreach(i => WebhookQueue.post("t", s"""{"i":$i}"""))
      def capped() = spark.readStream
        .format("graft.sources.WebhookSourceProvider")
        .option("maxRowsPerBatch", "10").load().select("seq")
      val attempted = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
      val failing = capped().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          val seqs = b.collect().map(_.getLong(0)).toSeq.sorted
          attempted.synchronized { attempted += id -> seqs }
          if (id == 1L) throw new IllegalStateException("injected sink failure")
          ()
        }.start()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        failing.processAllAvailable()
      }
      failing.stop()
      assert(attempted.map(_._1).toSeq == Seq(0L, 1L))
      // batch 0 is committed and gone; batch 1 is still queued
      assert(WebhookQueue.slice(0L, Long.MaxValue).map(_._1).toSeq ==
        (base + 11).to(base + 30))
      val (resumed, _) = runToEnd(capped(), ckpt)
      assert(resumed.head._1 == 1L, s"resumed at ${resumed.head._1}")
      assert(resumed.head._2.map(_.getLong(0)).sorted == attempted(1)._2,
        "the failed batch was not re-read in full")
      assert((attempted.head._2 ++ resumed.flatMap(_._2.map(_.getLong(0))))
        .sorted == (base + 1).to(base + 30), "lost or repeated rows")
    } finally WebhookQueue.clear()
  }
}
