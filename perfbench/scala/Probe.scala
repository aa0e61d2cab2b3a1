package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch milliseconds with sub-millisecond resolution: one monotonic
  * clock for spans, item stamps and commits, anchored to the wall
  * clock that Spark's listener events use. */
object Clock {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), mapper.writeValueAsString(v))
  def read(path: String): Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[Map[String, Any]])
}

/** Layer spans: name, start, end and parent, kept in memory while
  * tracing is on and written with the run's result. */
object Spans {
  @volatile var on = false
  private val buf = new ConcurrentLinkedQueue[Map[String, Any]]
  private val ids = new AtomicLong

  /** Time `body` as span `name` under `parent`; the body gets the span's id. */
  def timed[A](name: String, parent: Long = 0L)(body: Long => A): A = {
    val id = ids.incrementAndGet()
    val t0 = Clock.nowMs
    try body(id)
    finally if (on) buf.add(Map("id" -> id, "name" -> name, "parent" -> parent,
      "start_ms" -> t0, "end_ms" -> Clock.nowMs))
  }

  def drain(): Seq[Map[String, Any]] = {
    val out = buf.asScala.toSeq
    buf.clear()
    out
  }
}

/** Raw job and task records from the Spark listener bus. Attached
  * in-process with `addSparkListener`, or to a child JVM through
  * `spark.extraListeners`; a child writes its records to
  * `spark.perfbench.listener.out` when its application ends. */
class TaskLog(conf: SparkConf) extends SparkListener {
  def this() = this(new SparkConf(false))

  private val jobs = new ConcurrentHashMap[Int, Array[Double]]
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]
  @volatile private var appStartMs = -1.0
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    appStartMs = e.time.toDouble

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Array(e.time.toDouble, -1.0))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_(1) = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def mv(f: org.apache.spark.executor.TaskMetrics => Double): Double = m.map(f).getOrElse(0.0)
    tasks.add(Map(
      "stage" -> s"${e.stageId}.${e.stageAttemptId}",
      "launch_ms" -> i.launchTime, "finish_ms" -> i.finishTime,
      "ok" -> (e.reason == org.apache.spark.Success),
      "run_ms" -> mv(_.executorRunTime.toDouble),
      "cpu_ns" -> mv(_.executorCpuTime.toDouble),
      "gc_ms" -> mv(_.jvmGCTime.toDouble),
      "deser_ms" -> mv(_.executorDeserializeTime.toDouble),
      "result_ser_ms" -> mv(_.resultSerializationTime.toDouble),
      "getting_result_ms" -> (if (i.gettingResultTime > 0) (i.finishTime - i.gettingResultTime).toDouble else 0.0),
      "result_bytes" -> mv(_.resultSize.toDouble),
      "spill_bytes" -> mv(t => (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble),
      "input_bytes" -> mv(_.inputMetrics.bytesRead.toDouble),
      "shuffle_read_bytes" -> mv(_.shuffleReadMetrics.totalBytesRead.toDouble),
      "fetch_wait_ms" -> mv(_.shuffleReadMetrics.fetchWaitTime.toDouble),
      "shuffle_write_bytes" -> mv(_.shuffleWriteMetrics.bytesWritten.toDouble)))
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    conf.getOption("spark.perfbench.listener.out").foreach(p => Json.write(p, snapshot()))

  def snapshot(): Map[String, Any] = Map(
    "jvm_start_ms" -> jvmStartMs,
    "app_start_ms" -> appStartMs,
    "jobs" -> jobs.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
      Map("id" -> id, "start_ms" -> a(0), "end_ms" -> a(1)) },
    "tasks" -> tasks.asScala.toSeq)
}

/** Structured Streaming progress, one record per trigger. */
class StreamLog extends StreamingQueryListener {
  private val rows = new ConcurrentLinkedQueue[Map[String, Any]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    rows.add(Map(
      "batch_id" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap))
  }
  def snapshot(): Seq[Map[String, Any]] = rows.asScala.toSeq
}

/** Heap the program retains: in use after a full collection, so it
  * counts live objects only, whatever heap size the collector chose
  * to commit and whenever it last ran. The first collection lets
  * Spark's ContextCleaner drop the broadcast and shuffle blocks that
  * nothing references any more; the second one counts what is left. */
object Heap {
  def retainedMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** [[Heap]] inside a child JVM, attached through `spark.extraListeners`;
  * writes the retained heap to `spark.perfbench.heap.out` when the
  * application ends. */
class HeapLog(conf: SparkConf) extends SparkListener {
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    conf.getOption("spark.perfbench.heap.out").foreach(p =>
      Json.write(p, Map("retained_heap_mb" -> Heap.retainedMb())))
}

/** Contention record around a measured window (graft.EnvTelemetry). */
object Env {
  def around[A](body: => A): (A, Map[String, Any]) = {
    val (r, e) = graft.EnvTelemetry.measured(body)
    (r, Map("load" -> e.load, "our_cpu_s" -> e.ourCpuSec,
      "other_cpu_s" -> e.otherCpuSec, "steal_s" -> e.stealSec))
  }
}
