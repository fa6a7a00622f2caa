package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Traced-run listeners: Spark job/stage/task counters per job group (one
  * group per query call) and every streaming progress event. Registered
  * only with `--trace 1`; untraced runs carry no listener of the
  * benchmark's.
  */
final class Probe(spark: SparkSession) {

  final class Cost {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val costs = new ConcurrentHashMap[String, Cost]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def cost(g: String): Cost = costs.computeIfAbsent(g, _ => new Cost)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      e.stageIds.foreach(s => stageGroup.put(s, g))
      val c = cost(g)
      c.synchronized { c.jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = cost(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = cost(stageGroup.getOrDefault(e.stageId, ""))
        c.synchronized {
          c.tasks += 1
          c.taskNs += m.executorRunTime * 1000000L
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** One row per executed micro-batch (idle progress events are skipped). */
  final case class Batch(rows: Long, durations: Map[String, Long],
                         stateRows: Long, stateCommitMs: Long,
                         backlog: Long)

  val batches = new mutable.ArrayBuffer[Batch]()
  @volatile var emptyBatches = 0L

  private val progress = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      if (d.containsKey("addBatch")) {
        val dur = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit",
          "commitOffsets", "triggerExecution", "addBatch")
          .map(k => k -> Option(d.get(k)).map(_.longValue).getOrElse(0L)).toMap
        val end = p.sources.headOption
          .flatMap(s => "\\d+".r.findFirstIn(Option(s.endOffset).getOrElse("")))
          .map(_.toLong).getOrElse(0L)
        val backlog = graft.sources.WebhookQueue.latest - end
        val ops = p.stateOperators
        val b = Batch(p.numInputRows, dur,
          ops.map(_.numRowsTotal).sum,
          ops.map(_.commitTimeMs).sum, backlog)
        batches.synchronized { batches += b }
        if (p.numInputRows == 0) emptyBatches += 1
      }
    }
  }

  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(progress)

  /** Settle the listener bus, then read the counters of job group `g`. */
  def costOf(g: String): Cost = {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    cost(g)
  }

  def settle(): Unit = org.apache.spark.graftbench.BusDrain(spark.sparkContext)
}
