package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}

/** olap_mix: one client in a closed loop over the oracled relational keys
  * of `SparkEntry.queries`, in a seed-permuted order each round, whole
  * rounds only. Each query is built, planned (`executedPlan` forced on
  * its own) and collected; the collect is the sink. */
object OlapMix {
  /** The relational keys that carry a DuckDB oracle. */
  def keys(c: Ctx): Seq[String] = graft.operators.Relational.queries.keys.toSeq.sorted
    .filter(graft.SparkEntry.oracleSql.contains)

  /** Run `f` over `xs` from `n` driver threads (Spark takes concurrent jobs). */
  private def parallel[A](n: Int, xs: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }

  def run(c: Ctx): Map[String, Any] = {
    // set-up: session start, then the cold pass: every key once,
    // `cores` queries at a time, so the measured rounds run warm code
    var s = Spans.timed("sessions.start") { _ => Main.session(c, c.cores) }
    val sessionS = (Clock.nowMs - Main.jvmStartMs) / 1000
    parallel(c.cores, keys(c)) { k => graft.SparkEntry.queries(k)(s, c.in).collect(); () }
    val setup = Map("setup_s" -> (Clock.nowMs - Main.jvmStartMs) / 1000, "session_start_s" -> sessionS)
    val rnd = new scala.util.Random(c.seed)
    val last = scala.collection.mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

    def window(sess: SparkSession, seconds: Double, traced: Boolean): Map[String, Any] = {
      val probes = if (traced) Some(Main.attach(sess)) else None
      Spans.on = traced
      val units = ArrayBuffer.empty[Map[String, Any]]
      val t0 = Clock.nowMs
      val (_, env) = Env.around {
        // whole rounds only, so every key weighs the same in a run
        while (Clock.nowMs - t0 < seconds * 1000) {
          for (k <- rnd.shuffle(keys(c))) {
            val q0 = Clock.nowMs
            Spans.timed("olap.query") { id =>
              val df = Spans.timed("operators.build", id) { _ => graft.SparkEntry.queries(k)(sess, c.in) }
              Spans.timed("operators.plan", id) { _ => df.queryExecution.executedPlan }
              val rows = Spans.timed("operators.exec", id) { _ => df.collect() }
              last(k) = (rows, df.schema)
            }
            units += Map("key" -> k, "start_ms" -> q0, "end_ms" -> Clock.nowMs)
          }
        }
      }
      Spans.on = false
      val ph = Map[String, Any]("t0_ms" -> t0, "t1_ms" -> Clock.nowMs, "units" -> units.toSeq,
        "cores" -> sess.sparkContext.defaultParallelism, "env" -> env)
      ph ++ probes.map(p => Main.detach(sess, p)).getOrElse(Map.empty)
    }

    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    phases("main") = window(s, c.seconds, c.trace)
    val retained = Heap.retainedMb()
    if (c.trace) phases("untraced") = window(s, c.seconds / 2, traced = false)
    // each key's last result, written for the DuckDB oracle (outside every window)
    val checkDir = s"${c.work}/check"
    parallel(c.cores, last.toSeq) { case (k, (rows, schema)) =>
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$checkDir/$k")
    }
    val oracle = keys(c).map(k => k -> graft.SparkEntry.oracleSql(k)).toMap
    // bytes of the parquet files each key's plan reads
    val inputBytes = keys(c).map(k => k -> graft.SparkEntry.queries(k)(s, c.in).inputFiles
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum).toMap
    if (c.trace) {
      s.stop()
      s = Main.session(c, 1)
      phases("local1") = window(s, c.seconds / 2, traced = true)
    }
    s.stop()
    Map("setup" -> setup, "phases" -> phases.toMap, "check_dir" -> checkDir, "retained_heap_mb" -> retained,
      "oracle_sql" -> oracle, "key_input_bytes" -> inputBytes)
  }
}

/** dedup_archive: `graft.RefCompare` (global scope, deflate, restore
  * proof) as a child JVM over the generated corpus: one cold pass, then
  * warm passes back to back. Pass laps come from the child's stderr;
  * the child carries [[HeapLog]], and when traced [[TaskLog]], through
  * `SPARK_GRAFT_CONF`. */
object Archive {
  private val Lap = """\[(cold|warm)\] (\S+)\s+([0-9.]+) s""".r
  private val EnvLine =
    """\[(cold|warm)\] env: load=([-0-9.]+) our_cpu=([-0-9.]+) other_cpu=([-0-9.]+) steal=([-0-9.]+)""".r

  def child(c: Ctx, tag: String, cores: Int, warm: Int, traced: Boolean): Map[String, Any] = {
    val out = s"${c.work}/$tag"
    val listenerOut = s"${c.work}/$tag-listener.json"
    val heapOut = s"${c.work}/$tag-heap.json"
    val listeners = "graft.perfbench.HeapLog" + (if (traced) ",graft.perfbench.TaskLog" else "")
    val conf = Seq(s"spark.local.dir=${c.work}/spark-local", s"spark.extraListeners=$listeners",
      s"spark.perfbench.heap.out=$heapOut") ++
      (if (traced) Seq(s"spark.perfbench.listener.out=$listenerOut") else Nil)
    val cmd = c.strs("child_java") ++ Seq("graft.RefCompare", c.in, out, "*.bin", "global",
      warm.toString, "buzhash", "deflate")
    import scala.jdk.CollectionConverters._
    val env = System.getenv().asScala.toMap ++ Map(
      "SPARK_GRAFT_CPUS" -> cores.toString, "SPARK_GRAFT_CONF" -> conf.mkString(";"))
    val spawn = Clock.nowMs
    val proc = Runtime.getRuntime.exec(cmd.toArray, env.map { case (k, v) => s"$k=$v" }.toArray)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[(Double, String)]
    val errReader = new Thread(() => {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getErrorStream))
      Iterator.continually(r.readLine()).takeWhile(_ != null).foreach(l => lines.add((Clock.nowMs, l)))
    })
    errReader.start()
    val stdout = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toVector
    proc.waitFor()
    errReader.join()
    val log = lines.asScala.toVector
    require(proc.exitValue() == 0,
      s"RefCompare exited ${proc.exitValue()}: ${log.takeRight(20).map(_._2).mkString("\n")}")
    // one pass = its laps, closed by its env line
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var laps = Map.empty[String, Double]
    var prevEnd = spawn
    var lapsEnd = spawn
    log.foreach {
      case (at, Lap(t, stage, sec)) => laps += stage -> sec.toDouble; lapsEnd = at
      case (at, EnvLine(t, load, ours, other, steal)) =>
        passes += Map("tag" -> t, "laps" -> laps, "start_ms" -> prevEnd,
          "laps_end_ms" -> lapsEnd, "end_ms" -> at,
          "env" -> Map("load" -> load.toDouble, "our_cpu_s" -> ours.toDouble,
            "other_cpu_s" -> other.toDouble, "steal_s" -> steal.toDouble))
        laps = Map.empty; prevEnd = at
      case _ =>
    }
    val result = stdout.filter(_.startsWith("{\"harness\":\"ref_compare\"")).lastOption
      .getOrElse(sys.error(s"RefCompare printed no result: ${stdout.takeRight(5)}"))
    Map("spawn_ms" -> spawn, "passes" -> passes.toSeq, "result" -> result,
      "retained_heap_mb" -> Json.read(heapOut)("retained_heap_mb")) ++
      (if (traced) Map("listener" -> Json.read(listenerOut)) else Map.empty)
  }

  def run(c: Ctx): Map[String, Any] = {
    val warm = c.num("warm_passes").toInt
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    phases("main") = child(c, "main", c.cores, warm, c.trace)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    out("retained_heap_mb") = Heap.retainedMb()
    if (c.trace) {
      // as many passes as the traced child, so both carry the same warm-up
      phases("untraced") = child(c, "untraced", c.cores, warm, traced = false)
      phases("local1") = child(c, "local1", 1, 1, traced = true)
      val file = graft.sources.BinaryFiles.listDir(c.in, "*.bin").head
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
      val mb = bytes.length / 1048576.0
      import graft.functions.Chunker
      val cuts = Chunker.boundaries(bytes, 2048, 65536, 12)
      val cdc = Kernels.mbPerS(mb) {
        var start = 0
        Chunker.boundaries(bytes, 2048, 65536, 12).foreach { e =>
          Chunker.digest(bytes, start, e - start, "SHA-1"); start = e }
      }
      val dfl = Kernels.mbPerS(mb) {
        var start = 0
        cuts.foreach { e => Chunker.deflate(bytes, start, e - start); start = e }
      }
      out("kernels") = Map("cdc_sha_mb_s" -> cdc, "deflate_mb_s" -> dfl)
    }
    out("phases") = phases.toMap
    out("input_bytes") = graft.sources.BinaryFiles.listDir(c.in, "*.bin")
      .map(p => java.nio.file.Files.size(java.nio.file.Paths.get(p))).sum
    out("child_retained_heap_mb") = phases("main")("retained_heap_mb")
    out.toMap
  }
}
