package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One clock for everything the benchmark records: epoch microseconds,
  * read from `nanoTime` against a fixed epoch anchor so spans have
  * sub-millisecond resolution and still line up with Spark's epoch-ms
  * event times.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def us(): Long = anchorMs * 1000L + (System.nanoTime() - anchorNs) / 1000L
}

final case class Span(id: Int, name: String, layer: String, parent: Int,
                      pass: Int, startUs: Long, endUs: Long)

/** In-memory span and event record; written out once, when the run ends. */
final class Trace {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)

  def span[T](name: String, layer: String, parent: Int, pass: Int)(
      body: Int => T): T = {
    val id = ids.incrementAndGet()
    val t0 = Clock.us()
    try body(id)
    finally spans.add(Span(id, name, layer, parent, pass, t0, Clock.us()))
  }

  // Raw engine events, kept as flat JSON objects (strings) so recording
  // stays cheap on the listener bus thread.
  val jobs = new ConcurrentLinkedQueue[String]()
  val tasks = new ConcurrentLinkedQueue[String]()
  val stages = new ConcurrentLinkedQueue[String]()
  val sqlExecs = new ConcurrentLinkedQueue[String]()
  val blocks = new ConcurrentLinkedQueue[String]()
  val streams = new ConcurrentLinkedQueue[String]()
  val lastEventMs = new AtomicLong(System.currentTimeMillis())
  val openJobs = new AtomicInteger(0)

  def toJson: String = {
    def arr(q: java.util.Collection[String]) = q.asScala.mkString("[", ",\n", "]")
    val sp = spans.asScala.toSeq.sortBy(_.id).map(s =>
      Json.obj("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "pass" -> s.pass,
        "start_us" -> s.startUs, "end_us" -> s.endUs))
    "{\"spans\": " + sp.mkString("[", ",\n", "]") +
      ",\n\"jobs\": " + arr(jobs) + ",\n\"stages\": " + arr(stages) +
      ",\n\"tasks\": " + arr(tasks) + ",\n\"sql\": " + arr(sqlExecs) +
      ",\n\"blocks\": " + arr(blocks) + ",\n\"streams\": " + arr(streams) + "}"
  }
}

/** Engine listener, registered by the benchmark around traced passes. */
final class EngineListener(t: Trace) extends SparkListener {
  private val rddBytes = mutable.HashMap.empty[String, Long]
  private var rddTotal = 0L

  private def seen(): Unit = t.lastEventMs.set(System.currentTimeMillis())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    t.openJobs.incrementAndGet()
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")
    t.jobs.add(Json.obj("job" -> e.jobId, "start_ms" -> e.time,
      "stages" -> Json.raw(e.stageInfos.map(_.stageId).mkString("[", ",", "]")),
      "exec" -> exec.map(_.toLong).getOrElse(-1L), "site" -> site))
    seen()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    t.jobs.add(Json.obj("job_end" -> e.jobId, "end_ms" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded)))
    t.openJobs.decrementAndGet()
    seen()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    t.stages.add(Json.obj("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "tasks" -> s.numTasks, "submit_ms" -> s.submissionTime.getOrElse(0L),
      "end_ms" -> s.completionTime.getOrElse(0L), "failed" -> s.failureReason.isDefined))
    seen()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    t.tasks.add(Json.obj("stage" -> e.stageId, "launch_ms" -> i.launchTime,
      "finish_ms" -> i.finishTime, "failed" -> !i.successful,
      "run_ms" -> g(_.executorRunTime), "cpu_ns" -> g(_.executorCpuTime),
      "gc_ms" -> g(_.jvmGCTime),
      "sw_bytes" -> g(_.shuffleWriteMetrics.bytesWritten),
      "sr_bytes" -> g(_.shuffleReadMetrics.totalBytesRead),
      "fetch_wait_ms" -> g(_.shuffleReadMetrics.fetchWaitTime),
      "spill_disk" -> g(_.diskBytesSpilled), "spill_mem" -> g(_.memoryBytesSpilled),
      "in_bytes" -> g(_.inputMetrics.bytesRead),
      "out_bytes" -> g(_.outputMetrics.bytesWritten)))
    seen()
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val key = b.blockId.name + "@" + b.blockManagerId.executorId
      val now = b.memSize + b.diskSize
      rddTotal += now - rddBytes.getOrElse(key, 0L)
      if (now == 0L) rddBytes.remove(key) else rddBytes(key) = now
      t.blocks.add(Json.obj("ms" -> System.currentTimeMillis(), "rdd_bytes" -> rddTotal))
    }
    seen()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      t.sqlExecs.add(Json.obj("exec" -> s.executionId, "site" -> s.details))
      seen()
    case _ =>
  }
}

final class StreamListener(t: Trace) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    t.streams.add(Json.obj("query" -> e.runId.toString, "started_ms" -> System.currentTimeMillis()))
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    t.streams.add(Json.obj("query" -> p.runId.toString, "batch" -> p.batchId,
      "progress_ms" -> System.currentTimeMillis(), "duration_ms" -> d,
      "rows" -> p.numInputRows))
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    t.streams.add(Json.obj("query" -> e.runId.toString, "ended_ms" -> System.currentTimeMillis()))
}

/** Minimal JSON writer for the benchmark's flat records. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
