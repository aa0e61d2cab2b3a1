package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run, as `perfbench/run.py` configures it. */
final case class Ctx(workload: String, in: String, work: String, seconds: Double,
                     cores: Int, trace: Boolean, seed: Long,
                     params: Map[String, Any]) {
  def num(k: String): Double = params(k) match {
    case n: java.lang.Number => n.doubleValue()
    case s: String => s.toDouble
    case other => throw new IllegalArgumentException(s"$k: $other")
  }
  def str(k: String): String = params(k).toString
  def strs(k: String): Seq[String] = params(k).asInstanceOf[Seq[Any]].map(_.toString)
}

/** Measurement side of the benchmark: runs one workload against the
  * program's entry points and writes raw timings, listener records and
  * check results as JSON. All metric math happens in perfbench/run.py.
  *
  *   java -cp <classes> graft.perfbench.Main <params.json> <result.json>
  */
object Main {
  val jvmStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  def main(args: Array[String]): Unit = {
    val p = Json.read(args(0))
    def g(k: String): Any = p(k)
    val c = Ctx(g("workload").toString, g("in").toString, g("work").toString,
      g("seconds").toString.toDouble, g("cores").toString.toInt,
      g("trace").toString.toInt == 1, g("seed").toString.toLong, p)
    val body = c.workload match {
      case "dedup_stream" => Streams.run(c, new DedupStreamSpec(c))
      case "ferret_stream" => Streams.run(c, new FerretStreamSpec(c))
      case "olap_mix" => OlapMix.run(c)
      case "dedup_archive" => Archive.run(c)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val env = Map(
      "cores" -> c.cores,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "jvm_start_ms" -> jvmStartMs)
    Json.write(args(1), body ++ Map("env" -> env))
  }

  /** The program's contract session at local[cores], with Spark's local
    * dirs inside the run's work directory. */
  def session(c: Ctx, cores: Int): SparkSession =
    graft.Sessions.contract(s"local[$cores]", cores.toString, s"perfbench-${c.workload}",
      Map("spark.local.dir" -> s"${c.work}/spark-local"))

  final class Probes(val tasks: TaskLog, val streams: StreamLog,
                     val plans: PlanLog)

  /** Attach the listeners a traced window reads. */
  def attach(s: SparkSession): Probes = {
    val p = new Probes(new TaskLog, new StreamLog, new PlanLog)
    s.sparkContext.addSparkListener(p.tasks)
    s.streams.addListener(p.streams)
    s.listenerManager.register(p.plans)
    p
  }

  /** Detach them once the listener bus has delivered every event. */
  def detach(s: SparkSession, p: Probes): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    Thread.sleep(300)
    s.sparkContext.removeSparkListener(p.tasks)
    s.streams.removeListener(p.streams)
    s.listenerManager.unregister(p.plans)
    Map("listener" -> p.tasks.snapshot(), "progress" -> p.streams.snapshot(),
      "candidates" -> p.plans.candidates.get(), "action_ms" -> p.plans.collectMs.asScala.toSeq,
      "spans" -> Spans.drain())
  }
}

/** Candidate rows the ferret search scored: the output of the
  * (query_id, vec_id) distinct aggregate in each executed plan; and
  * Spark's own duration of every `collect` action. */
final class PlanLog extends org.apache.spark.sql.util.QueryExecutionListener
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.aggregate.HashAggregateExec
  val candidates = new java.util.concurrent.atomic.AtomicLong
  val collectMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]
  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = {
    if (funcName == "collect") collectMs.add(durationNs / 1e6)
    val n = collectWithSubqueries(qe.executedPlan) {
      case h: HashAggregateExec if h.aggregateExpressions.isEmpty &&
          h.requiredChildDistributionExpressions.isDefined &&
          h.groupingExpressions.map(_.name).toSet == Set("query_id", "vec_id") =>
        h.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    candidates.addAndGet(n)
    ()
  }
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()
}
