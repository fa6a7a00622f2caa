package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Open-loop webhook sender and the downstream receiver, in a process of
  * their own (JDK only; no Spark).
  *
  * Protocol with `run.py`: prints `@@RECEIVER <port>`, waits for
  * `GO <engine port>` on stdin, sends every slot of the input file at its
  * due time over at most `conns` connections, waits until the receiver
  * has seen every acknowledged well-formed event (or `wait-s` passes),
  * writes its records and prints `@@DONE`.
  *
  * Input lines: `slot \t key \t kind \t body`, kind ∈ {new, dup, bad}; a
  * `dup` re-sends the body its key was first sent with; `@DUE@` in a body
  * becomes the slot's due time in epoch microseconds.
  *
  * Run this JVM with `-Dsun.net.httpserver.nodelay=true`: the receiver
  * then answers without waiting on the engine's delayed ACK, so delivery
  * times measure the engine, not this process.
  */
object Generator {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val rate = opt("rate").toDouble
    val conns = opt("conns").toInt
    val waitS = opt("wait-s").toDouble
    val slots = Files.readAllLines(Paths.get(opt("inputs")), UTF_8).asScala
      .map(_.split("\t", 4)).toIndexedSeq
    val n = slots.length

    // ---- receiver: one record per delivery POST
    val received = new ConcurrentHashMap[String, java.lang.Long]()
    val receipts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val idRe = "\"event_id\":(\\d+)".r
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 64)
    val pool = Executors.newFixedThreadPool(4)
    server.createContext("/", (x: HttpExchange) => {
      val body = new String(x.getRequestBody.readAllBytes(), UTF_8)
      val at = Clock.nowUs
      val key = Option(x.getRequestHeaders.getFirst("X-Delivery-Key")).getOrElse("")
      val id = idRe.findFirstMatchIn(body).map(_.group(1)).getOrElse("")
      received.putIfAbsent(id, at)
      receipts.add(s"$id\t$key\t$at")
      x.sendResponseHeaders(200, -1)
      x.close()
    })
    server.setExecutor(pool)
    server.start()
    println(s"@@RECEIVER ${server.getAddress.getPort}")
    System.out.flush()

    val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    val go = Iterator.continually(stdin.readLine()).dropWhile(l => l != null && !l.startsWith("GO ")).next()
    val url = URI.create(s"http://127.0.0.1:${go.stripPrefix("GO ").trim}/webhook/events")

    // ---- sender: slot i is due at t0 + i / rate
    val bodies = new ConcurrentHashMap[String, String]()
    val status = new Array[Int](n)
    val sentUs, ackUs = new Array[Long](n)
    val periodUs = 1e6 / rate
    val t0 = Clock.nowUs + 300000L
    val due = Array.tabulate(n)(i => t0 + (i * periodUs).toLong)
    val next = new AtomicInteger(0)
    val workers = (0 until conns).map { _ =>
      new Thread(() => {
        val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
          .connectTimeout(java.time.Duration.ofSeconds(5)).build()
        var i = next.getAndIncrement()
        while (i < n) {
          val Array(_, key, kind, tmpl) = slots(i)
          // bodies are fixed when a slot is taken, so a later `dup` of
          // this key always finds the body it re-sends
          val body = kind match {
            case "new" =>
              val b = tmpl.replace("@DUE@", due(i).toString); bodies.put(key, b); b
            case "dup" => bodies.get(key)
            case _ => tmpl
          }
          val wait = due(i) - Clock.nowUs
          if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
          sentUs(i) = Clock.nowUs
          status(i) = try {
            client.send(HttpRequest.newBuilder(url)
              .timeout(java.time.Duration.ofSeconds(10))
              .header("X-Delivery-Key", key)
              .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
              HttpResponse.BodyHandlers.discarding()).statusCode()
          } catch { case _: Exception => -1 }
          ackUs(i) = Clock.nowUs
          i = next.getAndIncrement()
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())

    // ---- wait for the engine to deliver every acked well-formed event
    val expected = (0 until n).filter(i => status(i) == 200 && slots(i)(2) != "bad")
      .map(i => "\"event_id\":(\\d+)".r.findFirstMatchIn(bodies.get(slots(i)(1))).get.group(1))
      .toSet
    val deadline = System.nanoTime() + (waitS * 1e9).toLong
    while (!expected.forall(received.containsKey) && System.nanoTime() < deadline)
      Thread.sleep(20)
    server.stop(0)
    pool.shutdown()

    val rec = new java.lang.StringBuilder
    for (i <- 0 until n)
      rec.append(i).append('\t').append(status(i)).append('\t').append(due(i))
        .append('\t').append(sentUs(i)).append('\t').append(ackUs(i)).append('\n')
    Files.writeString(Paths.get(opt("out-posts")), rec.toString)
    Files.writeString(Paths.get(opt("out-receipts")),
      receipts.asScala.mkString("", "\n", "\n"))
    println("@@DONE")
    System.out.flush()
  }
}

object Clock {
  /** Wall clock in epoch microseconds: shared by the engine and generator
    * processes, so due, ack, lake and delivery times compare directly.
    */
  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}
