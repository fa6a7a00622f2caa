package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

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
}
