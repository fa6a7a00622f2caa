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

  // ---- shard counts ------------------------------------------------------

  /** Registers `name` at one shard and, renamed, at four. Each run starts
    * on fresh shards and leaves the queue at one shard.
    */
  private def shardTest(name: String)(body: Int => Unit): Unit =
    Seq(1, 4).foreach { n =>
      test(if (n == 1) name else s"$name, at 4 shards") {
        WebhookQueue.init(n)
        try body(n) finally WebhookQueue.init(1)
      }
    }

  /** The k-th of the topics "topic0", "topic1", … that routes to shard i. */
  private def topicOn(i: Int, k: Int = 0): String =
    Iterator.from(0).map(j => s"topic$j")
      .filter(WebhookQueue.route(_) == i).drop(k).next()

  /** Post `body(k)` for k in `ks`, spreading the posts over every shard;
    * returns (shard, seq) per post.
    */
  private def spread(ks: Range)(body: Int => String): Seq[(Int, Long)] =
    ks.map { k =>
      val t = topicOn(k % WebhookQueue.nShards)
      (WebhookQueue.route(t), WebhookQueue.post(t, body(k)))
    }

  /** Every queued entry as (shard, seq), shard by shard. */
  private def queued(): Seq[(Int, Long)] =
    (0 until WebhookQueue.nShards).flatMap(i =>
      WebhookQueue.shard(i).slice(0L, Long.MaxValue).map(i -> _._1))

  private def shardSeqs(rows: Seq[org.apache.spark.sql.Row]): Seq[(Int, Long)] =
    rows.map(r => (r.getAs[Int]("shard"), r.getAs[Long]("seq"))).sorted

  shardTest("durable queue recovers uncommitted deliveries across a restart") { n =>
    val dir = java.nio.file.Files.createTempDirectory("graft_wal").toString
    assert(WebhookQueue.enableDurability(dir) == 0)
    // per shard: three posts on two of its topics; the engine commits the
    // first
    val posted = (0 until n).map { i =>
      val (orders, alerts) = (topicOn(i), topicOn(i, 1))
      val id1 = WebhookQueue.post(orders, """{"event_id":1}""")
      val id2 = WebhookQueue.post(orders, """{"event_id":2}""")
      val id3 = WebhookQueue.post(alerts, """{"event_id":3}""")
      WebhookQueue.shard(i).truncate(id1) // engine committed through id1
      (orders, alerts, id2, id3)
    }
    // crash: WALs closed, all in-memory state lost
    WebhookQueue.disableDurability()
    WebhookQueue.clear()
    assert(queued().isEmpty)
    // restart: only each shard's uncommitted tail comes back
    assert(WebhookQueue.enableDurability(dir) == 2 * n)
    posted.zipWithIndex.foreach { case ((orders, alerts, id2, id3), i) =>
      val back = WebhookQueue.shard(i).slice(0L, Long.MaxValue)
      assert(back.map(_._1).toSeq == Seq(id2, id3))
      assert(back.map(e => (e._3, e._4)).toSeq == Seq(
        (orders, """{"event_id":2}"""), (alerts, """{"event_id":3}""")))
      // sequence numbers continue monotonically past the recovered max
      val id4 = WebhookQueue.post(orders, """{"event_id":4}""")
      assert(id4 == id3 + 1)
      WebhookQueue.shard(i).truncate(id4)
    }
    // a second recovery after committing everything replays nothing
    WebhookQueue.disableDurability()
    WebhookQueue.clear()
    assert(WebhookQueue.enableDurability(dir) == 0)
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

  shardTest("maxRowsPerBatch caps every micro-batch and loses nothing") { n =>
    val posted = spread(1 to 250)(k => s"""{"i":$k}""")
    val batches = scala.collection.mutable.ArrayBuffer[Seq[(Int, Long)]]()
    val q = spark.readStream
      .format("graft.sources.WebhookSourceProvider")
      .option("maxRowsPerBatch", "40")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val s = shardSeqs(df.select("shard", "seq").collect().toSeq)
        batches.synchronized { batches += s }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val sizes = batches.map(_.length).filter(_ > 0)
    assert(sizes.forall(_ <= 40), s"batch over the cap: $sizes")
    assert(sizes.length >= 7, s"burst not split: $sizes") // ceil(250/40)
    assert(batches.flatten.sorted == posted.sorted,
      "every delivery exactly once")
    // no shard starves another: the first batch reads every shard
    assert(batches.head.map(_._1).distinct.length == n,
      s"first batch: ${batches.head}")
  }

  shardTest("a multi-row micro-batch spans more than one input partition") { n =>
    // a hot shard: ten rows on one topic, and three on every other shard
    (1 to 10).foreach(i => WebhookQueue.post(topicOn(0), s"""{"event_id":$i}"""))
    (1 until n).foreach(i =>
      (1 to 3).foreach(j => WebhookQueue.post(topicOn(i), s"""{"j":$j}""")))
    // make sure a session exists so planning can read the task width
    assert(spark.sparkContext.isLocal)
    val stream = new WebhookMicroBatchStream
    val parts = stream.planInputPartitions(
      WebhookOffset(Vector.fill(n)(0L)), stream.latestOffset())
      .map(_.asInstanceOf[WebhookInputPartition])
    stream.stop()
    assert(parts.count(_.shard == 0) > 1,
      s"expected >1 partition for the hot shard, got ${parts.length}")
    // every partition is one shard's contiguous ascending seq range
    parts.foreach { p =>
      val seqs = p.rows.map(_._1).toSeq
      assert(seqs == seqs.head.to(seqs.head + seqs.length - 1))
    }
    // and each shard's rows are read once, in order
    (0 until n).foreach { i =>
      assert(parts.filter(_.shard == i).flatMap(_.rows.map(_._1)).toSeq ==
        (1L to (if (i == 0) 10L else 3L)))
    }
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

  shardTest("queue retention waits for the slowest registered consumer") { n =>
    // broker consumer-group semantics: several streaming queries read
    // the one queue, each committing its own offset; truncation follows
    // the MINIMUM — a fast reader's commit must never drop entries a
    // slow reader has not read yet (the domain-loop composition relies
    // on this: processor + wire-tap + receiver share the queue). Every
    // shard keeps its own registry.
    val shards = (0 until n).map(WebhookQueue.shard)
    def post(k: Int): Unit =
      (0 until n).foreach(i => WebhookQueue.post(topicOn(i), s"""{"i":$k}"""))
    WebhookQueue.registerConsumer("fast")
    WebhookQueue.registerConsumer("slow")
    (1 to 5).foreach(post)
    shards.foreach(s => assert(s.slice(0L, 5L).length == 5))
    // the fast reader commits everything — nothing may truncate while
    // the slow reader still sits at its registration floor
    shards.foreach(_.commitConsumer("fast", 5L))
    shards.foreach(s => assert(s.slice(0L, 5L).length == 5,
      "fast commit truncated entries the slow consumer has not read"))
    // a commit on one shard truncates that shard only
    shards.head.commitConsumer("slow", 3L)
    assert(shards.head.slice(0L, 5L).map(_._1).toSeq == Seq(4L, 5L),
      "truncation must follow the minimum commit")
    shards.tail.foreach(s => assert(s.slice(0L, 5L).length == 5))
    shards.tail.foreach(_.commitConsumer("slow", 3L))
    shards.foreach(s => assert(s.slice(0L, 5L).map(_._1).toSeq == Seq(4L, 5L)))
    // a consumer that deregisters stops holding the queue back
    WebhookQueue.unregisterConsumer("slow")
    shards.foreach(_.commitConsumer("fast", 5L))
    shards.foreach(s => assert(s.slice(0L, 5L).isEmpty))
    // commits are monotonic per consumer: a replayed (older) commit
    // cannot resurrect a lower floor
    WebhookQueue.unregisterConsumer("fast")
    WebhookQueue.registerConsumer("fast2")
    (6 to 8).foreach(post)
    shards.foreach { s =>
      s.commitConsumer("fast2", 8L)
      s.commitConsumer("fast2", 6L) // replay of an old commit
      assert(s.slice(0L, 8L).isEmpty,
        "an older replayed commit moved the floor backwards")
    }
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

  shardTest("a fresh query starts at the retained floor: after a truncation " +
    "its first micro-batch holds rows") { n =>
    val shards = (0 until n).map(WebhookQueue.shard)
    spread(1 to 300)(k => s"""{"i":$k}""")
    shards.foreach(s => s.truncate(s.latest)) // an earlier reader's commit
    shards.foreach(s => assert(s.floor == s.latest))
    val fresh = spread(301 to 310)(k => s"""{"i":$k}""")
    shards.zipWithIndex.foreach { case (s, i) =>
      assert(s.floor == fresh.filter(_._1 == i).map(_._2).min - 1)
    }
    val batches = scala.collection.mutable.ArrayBuffer[(Long, Seq[(Int, Long)])]()
    val q = spark.readStream
      .format("graft.sources.WebhookSourceProvider")
      .option("maxRowsPerBatch", "50")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val s = shardSeqs(df.select("shard", "seq").collect().toSeq)
        batches.synchronized { batches += id -> s }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val got = batches.sortBy(_._1).toSeq
    assert(got.head == ((0L, fresh.sorted)), s"first batch: ${got.head}")
    assert(got.forall(_._2.nonEmpty), s"empty micro-batches: $got")
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

  shardTest("a stateless query that caught up and stopped leaves nothing for a " +
    "fresh query to re-read") { _ =>
    spread(1 to 5)(k => s"""{"i":$k}""")
    val (first, _) = runToEnd(raw().select("seq"))
    assert(first.flatMap(_._2).length == 5)
    // Spark commits a batch only when it builds the next one; the
    // reader commits a caught-up query's last batch itself
    assert(queued().isEmpty, "the last batch stayed queued")
    val (second, _) = runToEnd(raw().select("seq"))
    assert(second.flatMap(_._2).isEmpty, s"re-read: $second")
  }

  shardTest("a batch whose sink fails is re-read in full from the same " +
    "checkpoint") { _ =>
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fail").toString
    val posted = spread(1 to 30)(k => s"""{"i":$k}""")
    def capped() = spark.readStream
      .format("graft.sources.WebhookSourceProvider")
      .option("maxRowsPerBatch", "10").load().select("shard", "seq")
    val attempted = scala.collection.mutable.ArrayBuffer[(Long, Seq[(Int, Long)])]()
    val failing = capped().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val seqs = shardSeqs(b.collect().toSeq)
        attempted.synchronized { attempted += id -> seqs }
        if (id == 1L) throw new IllegalStateException("injected sink failure")
        ()
      }.start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      failing.processAllAvailable()
    }
    failing.stop()
    assert(attempted.map(_._1).toSeq == Seq(0L, 1L))
    // batch 0 read 10 rows, the head of each shard it read from
    assert(attempted.head._2.length == 10)
    attempted.head._2.groupBy(_._1).foreach { case (_, s) =>
      assert(s.map(_._2) == (1L to s.length))
    }
    // batch 0 is committed and gone; batch 1 is still queued
    assert(queued().sorted == posted.sorted.diff(attempted.head._2))
    val (resumed, _) = runToEnd(capped(), ckpt)
    assert(resumed.head._1 == 1L, s"resumed at ${resumed.head._1}")
    assert(shardSeqs(resumed.head._2) == attempted(1)._2,
      "the failed batch was not re-read in full")
    assert((attempted.head._2 ++ resumed.flatMap(b => shardSeqs(b._2))).sorted ==
      posted.sorted, "lost or repeated rows")
  }

  shardTest("a fresh query over a caught-up queue runs no empty micro-batch") { _ =>
    spread(1 to 5)(k => s"""{"i":$k}""")
    val (drained, _) = runToEnd(raw().select("seq"))
    assert(drained.flatMap(_._2).length == 5)
    // a fresh query over the drained queue runs no batch until a post
    // arrives: Spark would run batch 0 over no rows otherwise
    val batches = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = raw().select("seq").writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val rows = b.count()
        batches.synchronized { batches += id -> rows }
        ()
      }.start()
    q.processAllAvailable()
    assert(batches.isEmpty, s"batches over a caught-up queue: $batches")
    WebhookQueue.post(topicOn(0), """{"i":6}""")
    q.processAllAvailable()
    q.stop()
    assert(batches.toSeq == Seq(0L -> 1L))
    // progress of batches that ran (an idle trigger reports no addBatch)
    val ran = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
    assert(ran.count(_.numInputRows == 0) == 0,
      s"empty batches: ${ran.map(_.numInputRows).toSeq}")
  }

  // ---- shards: routing, offsets, back-pressure, WAL layout, dedup scope ---

  test("the front door routes topics to shards; per-shard FIFO holds") {
    WebhookQueue.init(2)
    val port = WebhookQueue.startServer(0)
    try {
      val client = HttpClient.newHttpClient()
      def post(topic: String, body: String): Int = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/webhook/$topic"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()

      // one front door; the topic picks the shard. Interleave two topics
      // that route to different shards to prove isolation
      val (orders, alerts) = (topicOn(0), topicOn(1))
      (1 to 25).foreach { i =>
        assert(post(orders, s"""{"i":$i}""") == 200)
        assert(post(alerts, s"""{"i":$i}""") == 200)
      }

      val q = raw().writeStream.format("memory").queryName("t_sharded")
        .outputMode("append").start()
      q.processAllAvailable()
      val rows = spark.table("t_sharded")
        .select(col("shard"), col("seq"), col("topic"), col("body"))
        .collect()
      q.stop()

      assert(rows.length == 50)
      // every topic lands wholly on its routed shard
      assert(rows.filter(_.getString(2) == orders).forall(_.getInt(0) == 0))
      assert(rows.filter(_.getString(2) == alerts).forall(_.getInt(0) == 1))
      // per-shard FIFO: shard seqs are gapless 1..25 and the i-th seq
      // carries the i-th posted body — arrival order, not just seq order
      Seq(0, 1).foreach { sh =>
        val inOrder = rows.filter(_.getInt(0) == sh).sortBy(_.getLong(1))
        assert(inOrder.map(_.getLong(1)).toSeq == (1L to 25L))
        inOrder.zipWithIndex.foreach { case (r, idx) =>
          assert(r.getString(3) == s"""{"i":${idx + 1}}""",
            s"shard $sh seq ${idx + 1} out of arrival order")
        }
      }
    } finally {
      WebhookQueue.stopServer()
      WebhookQueue.init(1)
    }
  }

  test("shard offsets round-trip through JSON and commit per shard") {
    WebhookQueue.init(2)
    try {
      // in-process producer path: routing must send a topic to one
      // stable shard
      val shA = WebhookQueue.route("orders")
      (1 to 5).foreach(i =>
        assert(WebhookQueue.post("orders", s"""{"i":$i}""") == i))
      assert(WebhookQueue.shard(shA).latest == 5L)
      val other = (1 to 3).map(i =>
        WebhookQueue.post(topicOn(1 - shA), s"""{"j":$i}"""))
      assert(other == (1L to 3L))

      val stream = new WebhookMicroBatchStream
      val parts = stream
        .planInputPartitions(stream.initialOffset(), stream.latestOffset())
        .map(_.asInstanceOf[WebhookInputPartition])
      assert(parts.map(_.shard).distinct.sorted.toSeq == Seq(0, 1))
      // partitions are contiguous ascending ranges of one shard's seqs
      Seq(0, 1).foreach { i =>
        assert(parts.filter(_.shard == i).flatMap(_.rows.map(_._1)).toSeq ==
          (1L to (if (i == shA) 5L else 3L)))
      }
      // offsets roundtrip through JSON (checkpoint shape)
      val off = stream.latestOffset().asInstanceOf[WebhookOffset]
      assert(stream.deserializeOffset(off.json()) == off)
      // commit truncates each shard independently
      stream.commit(WebhookOffset(if (shA == 0) Vector(2L, 1L) else Vector(1L, 2L)))
      assert(WebhookQueue.shard(shA).slice(0L, Long.MaxValue)
        .map(_._1).toSeq == (3L to 5L))
      assert(WebhookQueue.shard(1 - shA).slice(0L, Long.MaxValue)
        .map(_._1).toSeq == (2L to 3L))
      stream.stop()
    } finally WebhookQueue.init(1)
  }

  test("a checkpoint whose offset log holds {\"seq\":n} resumes at n") {
    WebhookQueue.init(1)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_seq").toString
    try {
      // a reader that holds the queue back, so the rows below the resumed
      // offset stay queued and a wrong resume would read them again
      WebhookQueue.registerConsumer("holder")
      (1 to 5).foreach(i => WebhookQueue.post("t", s"""{"i":$i}"""))
      val (first, _) = runToEnd(raw().select("seq"), ckpt)
      assert(first.flatMap(_._2).map(_.getLong(0)).sorted == (1L to 5L))
      // rewrite the offset log as a single-queue checkpoint wrote it
      val log = java.nio.file.Paths.get(ckpt, "offsets", "0")
      val lines = java.nio.file.Files.readAllLines(log).asScala.toSeq
      assert(lines.last == """{"seqs":[5]}""")
      java.nio.file.Files.write(log, (lines.init :+ """{"seq":5}""").asJava)
      java.nio.file.Files.deleteIfExists(log.resolveSibling(".0.crc"))
      (6 to 8).foreach(i => WebhookQueue.post("t", s"""{"i":$i}"""))
      val (resumed, _) = runToEnd(raw().select("seq"), ckpt)
      assert(resumed.flatMap(_._2).map(_.getLong(0)).sorted == (6L to 8L))
    } finally WebhookQueue.init(1)
  }

  test("a full shard answers 503 while another shard still accepts") {
    WebhookQueue.init(4)
    val port = WebhookQueue.startServer(0)
    try {
      val (full, open) = (topicOn(0), topicOn(1))
      (1 to WebhookQueue.maxRetained).foreach(_ =>
        assert(WebhookQueue.post(full, "{}") > 0))
      assert(WebhookQueue.post(full, "{}") == -1L)
      val client = HttpClient.newHttpClient()
      def post(topic: String): Int = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/webhook/$topic"))
          .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      assert(post(full) == 503)
      assert(post(open) == 200)
      // a commit on the full shard frees it
      WebhookQueue.shard(0).truncate(10L)
      assert(post(full) == 200)
    } finally {
      WebhookQueue.stopServer()
      WebhookQueue.init(1)
    }
  }

  test("at 4 shards a torn WAL tail in one shard costs only that shard's tail") {
    WebhookQueue.init(4)
    val dir = java.nio.file.Files.createTempDirectory("graft_wal_shards")
    try {
      WebhookQueue.enableDurability(dir.toString)
      (0 until 4).foreach(i =>
        (1 to 3).foreach(k => WebhookQueue.post(topicOn(i), s"""{"i":$k}""")))
      WebhookQueue.disableDurability()
      WebhookQueue.clear()
      // shard 0 logs in the directory itself, shard i in shard-i
      assert(java.nio.file.Files.exists(dir.resolve("webhook.wal")))
      (1 to 3).foreach(i => assert(
        java.nio.file.Files.exists(dir.resolve(s"shard-$i/webhook.wal"))))
      // a crash mid-append tears shard 2's last record
      val wal = dir.resolve("shard-2/webhook.wal")
      val lines = java.nio.file.Files.readString(wal).split("\n")
      java.nio.file.Files.writeString(wal, lines.init.map(_ + "\n").mkString +
        lines.last.take(lines.last.length / 2))
      assert(WebhookQueue.enableDurability(dir.toString) == 4 * 3 - 1)
      (0 until 4).foreach { i =>
        assert(WebhookQueue.shard(i).slice(0L, Long.MaxValue).map(_._1).toSeq ==
          (1L to (if (i == 2) 2L else 3L)), s"shard $i")
      }
    } finally WebhookQueue.init(1)
  }

  test("a WAL directory written at 4 shards is refused at 1") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wal_n4").toString
    val single = java.nio.file.Files.createTempDirectory("graft_wal_n1").toString
    WebhookQueue.init(4)
    try {
      WebhookQueue.enableDurability(dir)
      (0 until 4).foreach(i => WebhookQueue.post(topicOn(i), "{}"))
      WebhookQueue.init(1)
      val e = intercept[IllegalArgumentException](
        WebhookQueue.enableDurability(dir))
      assert(e.getMessage.contains("written with 4 shard(s)") &&
        e.getMessage.contains("queue has 1"), e.getMessage)
      // and a single-shard directory is refused at 4
      WebhookQueue.enableDurability(single)
      WebhookQueue.post("t", "{}")
      WebhookQueue.init(4)
      intercept[IllegalArgumentException](WebhookQueue.enableDurability(single))
      // at its own shard count the directory recovers every shard
      assert(WebhookQueue.enableDurability(dir) == 4)
    } finally WebhookQueue.init(1)
  }

  test("at 4 shards dedupDeliveries drops a key repeated across shards") {
    WebhookQueue.init(4)
    try {
      // one delivery posted on two topics that route to different shards:
      // each shard sees the key first, so the marks cannot decide
      WebhookQueue.post(topicOn(0), """{"i":1}""", "k")
      WebhookQueue.post(topicOn(1), """{"i":1}""", "k")
      WebhookQueue.post(topicOn(1), """{"i":2}""", "k2")
      assert((0 to 1).flatMap(i => WebhookQueue.shard(i)
        .slice(0L, Long.MaxValue).map(e => (i, e._5, e._6))) ==
        Seq((0, "k", true), (1, "k", true), (1, "k2", true)))
      assert(!WebhookSource.marksCover(raw().schema, "2 hours"))
      val (batches, q) = runToEnd(StreamOps.dedupDeliveries(raw()))
      assert(batches.flatMap(_._2).map(_.getAs[String]("delivery_key"))
        .sorted == Seq("k", "k2"), s"batches: $batches")
      assert(q.recentProgress.exists(_.stateOperators.nonEmpty),
        "the key-only dedup needs its state store above one shard")
    } finally WebhookQueue.init(1)
  }
}
