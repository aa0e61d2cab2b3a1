package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Open-loop generator: drops one slice of `perSlice` pool items into
  * `dir` every `intervalMs` on a fixed schedule, whatever the stream
  * is doing. A slice is written beside the feed and moved in
  * atomically; its drop time is the creation stamp of its items. */
final class OpenLoopFeed(dir: String, intervalMs: Double, perSlice: Int,
                         poolSize: Int, line: Int => String) {
  private val staging = dir + "_staging"
  Files.createDirectories(Paths.get(dir))
  Files.createDirectories(Paths.get(staging))
  private var seq = 0
  /** (first item, item count, scheduled ms, dropped ms) per slice */
  val slices = ArrayBuffer.empty[(Int, Int, Double, Double)]

  private def drop(from: Int, n: Int, schedMs: Double): Unit = {
    val name = f"slice-$seq%06d.json"
    seq += 1
    val tmp = Paths.get(staging, name)
    val sb = new java.lang.StringBuilder
    (from until from + n).foreach(i => sb.append(line(i)).append('\n'))
    Files.writeString(tmp, sb)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    slices += ((from, n, schedMs, Clock.nowMs))
  }

  /** Drop slices from item `from` on for `seconds`, or until `done`;
    * returns the next free item. */
  def run(from: Int, seconds: Double, done: () => Boolean = () => false): Int = {
    val t0 = Clock.nowMs
    var next = from
    var k = 0
    while (k * intervalMs < seconds * 1000 && next + perSlice <= poolSize && !done()) {
      val sched = t0 + k * intervalMs
      val wait = sched - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      drop(next, perSlice, sched)
      next += perSlice
      k += 1
    }
    next
  }
}

/** One open-loop stream workload: the item pool, the slice format, and
  * the query the benchmark runs over the feed. */
trait StreamSpec {
  def name: String
  def poolSize: Int
  def line(i: Int): String
  def schema: StructType
  def idCol: String
  /** Pool index of the item whose id the sink carries. */
  def item(id: Long): Int = id.toInt
  /** Session-scoped conf for the stream's life (default none). */
  def scoped[A](s: SparkSession)(body: => A): A = body
  /** Build whatever the query needs (index, store) before it starts. */
  def build(s: SparkSession, dirs: Dirs): Unit = ()
  /** Checks on the sink after the measured windows, given the
    * (first item, count) of every dropped slice. */
  def check(s: SparkSession, dirs: Dirs, ranges: Seq[(Int, Int)]): Map[String, Any] = Map.empty
  /** Single-thread kernel throughput on the workload's own items. */
  def kernels(ranges: Seq[(Int, Int)]): Map[String, Any] = Map.empty
  /** Start the query over `dirs.feed`; each trigger writes its output,
    * tagged with `batch_id`, to `dirs.sink` inside [[Streams.unit]]. */
  def startQuery(s: SparkSession, dirs: Dirs, commits: Commits): StreamingQuery
}

final class Commits extends java.util.concurrent.ConcurrentHashMap[Long, (Double, Double)]

final case class Dirs(root: String) {
  val feed = s"$root/feed"; val sink = s"$root/sink"; val store = s"$root/store"
}

object Streams {
  /** One trigger's sink-side work as a unit: `commits` gets
    * (batch id -> (start ms, end ms)) once the sink write is done. */
  def unit(name: String, id: Long, commits: Commits)(body: Long => Unit): Unit = {
    val t0 = Clock.nowMs
    Spans.timed(s"$name.trigger")(body)
    commits.put(id, (t0, Clock.nowMs))
    ()
  }

  def feed(s: SparkSession, spec: StreamSpec, dirs: Dirs): DataFrame =
    s.readStream.schema(spec.schema).json(dirs.feed)

  /** Run one stream workload: set-up, the measured window and, in a
    * traced run, an untraced window and a local[1] window. */
  def run(c: Ctx, spec: StreamSpec): Map[String, Any] = {
    val rate = c.num("items_per_s")
    val intervalMs = c.num("slice_ms")
    val perSlice = math.max(1, math.round(rate * intervalMs / 1000).toInt)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    out("items_per_slice") = perSlice

    // ---- set-up: start a session, build, start the stream, then the cold
    // pass: open-loop slices until `warm_triggers` triggers have committed
    final class Live(val s: SparkSession, val dirs: Dirs, val q: StreamingQuery,
                     val feed: OpenLoopFeed,
                     val commits: Commits)
    def setUp(tag: String, cores: Int, t0: Double): (Live, Map[String, Any], Int) = {
      val s = Spans.timed("sessions.start") { _ => Main.session(c, cores) }
      val sessionS = (Clock.nowMs - t0) / 1000
      val dirs = Dirs(s"${c.work}/$tag")
      val commits = new Commits
      val live = spec.scoped(s) {
        Spans.timed(s"${spec.name}.build") { _ => spec.build(s, dirs) }
        val feed = new OpenLoopFeed(dirs.feed, intervalMs, perSlice, spec.poolSize, spec.line)
        val q = spec.startQuery(s, dirs, commits)
        val warm = c.num("warm_triggers").toInt
        val next = feed.run(0, 120, () => commits.size >= warm || !q.isActive)
        q.processAllAvailable()
        (new Live(s, dirs, q, feed, commits), next)
      }
      (live._1, Map("setup_s" -> (Clock.nowMs - t0) / 1000, "session_start_s" -> sessionS), live._2)
    }
    def tearDown(l: Live): Unit = { l.q.stop(); l.s.stop() }

    val (live, setup, first) = setUp("main", c.cores, Main.jvmStartMs)
    out("setup") = setup

    // ---- measured windows over the live stream
    def window(l: Live, from: Int, seconds: Double, traced: Boolean): (Int, Map[String, Any]) = {
      val probes = if (traced) Some(Main.attach(l.s)) else None
      Spans.on = traced
      val t0 = Clock.nowMs
      val (next, env) = spec.scoped(l.s) { Env.around { val n = l.feed.run(from, seconds); l.q.processAllAvailable(); n } }
      val t1 = Clock.nowMs
      Spans.on = false
      val ph = scala.collection.mutable.LinkedHashMap[String, Any](
        "t0_ms" -> t0, "t1_ms" -> t1, "first_item" -> from, "end_item" -> next,
        "cores" -> l.s.sparkContext.defaultParallelism, "env" -> env,
        "slices" -> l.feed.slices.filter(x => x._1 >= from && x._1 < next).map { case (f, n, sc, d) =>
          Map("first" -> f, "n" -> n, "sched_ms" -> sc, "drop_ms" -> d) }.toSeq)
      probes.foreach(p => ph ++= Main.detach(l.s, p))
      (next, ph.toMap)
    }

    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val (n1, main) = window(live, first, c.seconds, c.trace)
    phases("main") = main
    out("retained_heap_mb") = Heap.retainedMb()
    if (c.trace) {
      val (_, untraced) = window(live, n1, c.seconds / 2, traced = false)
      phases("untraced") = untraced
    }
    out("commits") = commitsOf(live.commits)
    out("sink") = live.dirs.sink
    out("sink_rows") = live.s.read.parquet(live.dirs.sink).count()
    out("store") = live.dirs.store
    // item -> batch map and the workload's own checks, outside every window
    out("item_batch") = itemBatches(live.s, live.dirs.sink, spec)
    val ranges = live.feed.slices.map(x => (x._1, x._2)).toSeq
    out("checks") = spec.check(live.s, live.dirs, ranges)
    if (c.trace) {
      out("kernels") = spec.kernels(ranges)
      // single-core run: fresh session, store and stream
      tearDown(live)
      val (l1, l1setup, first1) = setUp("local1", 1, Clock.nowMs)
      val (_, one) = window(l1, first1, c.seconds / 2, traced = true)
      phases("local1") = one ++ Map("commits" -> commitsOf(l1.commits),
        "item_batch" -> itemBatches(l1.s, l1.dirs.sink, spec), "setup" -> l1setup)
      tearDown(l1)
    } else tearDown(live)
    out("phases") = phases.toMap
    out.toMap
  }

  private def commitsOf(commits: Commits): Seq[Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    commits.asScala.toSeq.sortBy(_._1).map { case (id, (a, b)) =>
      Map("batch_id" -> id, "start_ms" -> a, "end_ms" -> b) }
  }

  /** (item, first batch that emitted it) for every item in the sink. */
  private def itemBatches(s: SparkSession, sink: String, spec: StreamSpec): Seq[Seq[Long]] =
    s.read.parquet(sink).groupBy(spec.idCol).agg(min("batch_id"))
      .collect().map(r => Seq(spec.item(r.getLong(0)).toLong, r.getLong(1))).toSeq
}

// ---- dedup_stream -------------------------------------------------------
/** BenSP Dedup as a stream: `StreamingPipelines.fiveStageBatch` under the
  * benchmark's foreachBatch; the emitted chunk rows are the sink. */
final class DedupStreamSpec(c: Ctx) extends StreamSpec {
  val name = "streaming"
  private val texts: Array[String] = {
    val src = scala.io.Source.fromFile(s"${c.in}/docs.tsv", "UTF-8")
    try src.getLines().map(l => l.substring(l.indexOf('\t') + 1)).toArray finally src.close()
  }
  val poolSize: Int = texts.length
  def line(i: Int): String = s"""{"doc_id":$i,"text":"${texts(i)}"}"""
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val idCol = "doc_id"

  def startQuery(s: SparkSession, dirs: Dirs, commits: Commits): StreamingQuery =
    Streams.feed(s, this, dirs).writeStream
      .option("checkpointLocation", s"${dirs.root}/checkpoint")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        Streams.unit(name, id, commits) { unit =>
          val out = Spans.timed("streaming.five_stage_call", unit) { _ =>
            graft.streaming.StreamingPipelines.fiveStageBatch(s, dirs.store)(b.toDF(), id)
          }
          Spans.timed("streaming.emit", unit) { _ =>
            out.select("emit_seq", "doc_id", "chunk_idx", "chunk_sha", "is_first", "comp_len")
              .withColumn("batch_id", lit(id))
              .write.mode("append").parquet(dirs.sink)
          }
        }
      }
      .start()

  private def items(ranges: Seq[(Int, Int)]): Seq[Int] = ranges.flatMap { case (f, n) => f until f + n }

  /** Dense emit_seq over every chunk of every dropped document, and the
    * firsts equal the distinct chunk digests (reference: Chunker on the
    * driver). Returns per-document failures and the archive size. */
  override def check(s: SparkSession, dirs: Dirs, ranges: Seq[(Int, Int)]): Map[String, Any] = {
    val sink = s.read.parquet(dirs.sink)
    val r = sink.agg(count(lit(1)), countDistinct(col("emit_seq")), min("emit_seq"), max("emit_seq"),
      sum(when(col("is_first"), col("comp_len")).otherwise(0)),
      sum(when(col("is_first"), 0).otherwise(1))).collect().head
    val (rows, distinctSeq, minSeq, maxSeq) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val dense = rows == distinctSeq && minSeq == 0 && maxSeq == rows - 1
    val perDoc = sink.groupBy("doc_id").count().collect().map(x => x.getLong(0).toInt -> x.getLong(1)).toMap
    val firsts = sink.filter(col("is_first")).select("chunk_sha").collect().map(_.getString(0))
    val ids = items(ranges)
    val ref = ids.map(i => i -> graft.functions.Chunker.chunk(texts(i).getBytes("UTF-8"))).toMap
    val refDistinct = ref.values.flatMap(_.map(_.chunk_sha)).toSet
    val firstSet = firsts.toSet
    val firstsOk = firsts.length == firstSet.size && firstSet == refDistinct
    val badDocs = ids.count(i => perDoc.getOrElse(i, 0L) != ref(i).size)
    val inBytes = ids.map(i => texts(i).getBytes("UTF-8").length.toLong).sum
    Map("rows" -> rows, "dense" -> dense, "firsts_ok" -> firstsOk, "bad_items" -> badDocs,
      "items" -> ids.size, "firsts" -> firsts.length, "input_bytes" -> inBytes,
      "first_recall" -> refDistinct.count(firstSet.contains).toDouble / math.max(1, refDistinct.size),
      // archive: deflated bytes of every first plus a 32-byte digest
      // reference for every duplicate (encoder.c's data-or-fingerprint framing)
      "archive_bytes" -> (r.getLong(4) + 32L * r.getLong(5)))
  }

  /** Single-thread Chunker throughput on the stream's own documents:
    * CDC + digest with the pipeline's parameters, and deflate. */
  override def kernels(ranges: Seq[(Int, Int)]): Map[String, Any] = {
    val docs = items(ranges).map(i => texts(i).getBytes("UTF-8"))
    val mb = docs.map(_.length).sum / 1048576.0
    val cdc = Kernels.mbPerS(mb) { docs.foreach(d => graft.functions.Chunker.chunk(d)) }
    val chunks = docs.flatMap(d => graft.functions.Chunker.chunk(d).map(ch => (d, ch.offset, ch.length)))
    val dfl = Kernels.mbPerS(mb) { chunks.foreach { case (d, o, l) => graft.functions.Chunker.deflatedLen(d, o, l) } }
    Map("cdc_sha_mb_s" -> cdc, "deflate_mb_s" -> dfl)
  }
}

// ---- ferret_stream ------------------------------------------------------
/** BenSP Ferret as a stream: `StreamingPipelines.ferretStream` over query
  * slices, each trigger probing the resident multiprobe index. */
final class FerretStreamSpec(c: Ctx) extends StreamSpec {
  val name = "ferret"
  private val dim = 64
  private def buf(f: String) = java.nio.ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"${c.in}/$f")))
    .order(java.nio.ByteOrder.LITTLE_ENDIAN)
  private val pool: Array[Float] = {
    val fb = buf("queries.f32").asFloatBuffer(); val a = new Array[Float](fb.remaining()); fb.get(a); a
  }
  /** query i of the stream is corpus vector ids(i) */
  private val ids: Array[Long] = {
    val lb = buf("query_ids.i64").asLongBuffer(); val a = new Array[Long](lb.remaining()); lb.get(a); a
  }
  private val itemOfId: Map[Long, Int] = ids.zipWithIndex.toMap
  override def item(id: Long): Int = itemOfId(id)
  val poolSize: Int = ids.length
  def line(i: Int): String = {
    val sb = new StringBuilder(s"""{"query_id":${ids(i)},"qv":[""")
    var k = 0
    while (k < dim) { if (k > 0) sb.append(','); sb.append(pool(i * dim + k)); k += 1 }
    sb.append("]}").toString
  }
  val schema: StructType = StructType(Seq(
    StructField("query_id", LongType), StructField("qv", ArrayType(FloatType, containsNull = false))))
  val idCol = "query_id"
  private var index: graft.operators.FerretAccess.Index = _
  private var conf: Map[String, String] = Map.empty

  override def build(s: SparkSession, dirs: Dirs): Unit = {
    index = graft.operators.FerretAccess.build(s, c.in)
    conf = graft.operators.FerretAccess.innerConf(s, index,
      math.max(1L, c.num("items_per_s").toLong))
  }
  override def scoped[A](s: SparkSession)(body: => A): A =
    if (conf.isEmpty) body
    else graft.streaming.StreamingPipelines.withScopedConf(s, conf)(body)

  /** The search runs in the sink callback, on the trigger batch
    * `ferretStream` cached, so one span holds both the search call
    * (which does eager work of its own) and the write that executes
    * the rest of it. */
  def startQuery(s: SparkSession, dirs: Dirs, commits: Commits): StreamingQuery =
    graft.streaming.StreamingPipelines.ferretStream(Streams.feed(s, this, dirs), identity,
      (batch, id) => Streams.unit(name, id, commits) { unit =>
        Spans.timed("operators.ferret_search", unit) { _ =>
          graft.operators.FerretAccess.search(index, batch)
            .withColumn("batch_id", lit(id)).write.mode("append").parquet(dirs.sink)
        }
      })
}

object Kernels {
  /** MB/s of `body` over `mb` megabytes, repeated for at least 0.3 s. */
  def mbPerS(mb: Double)(body: => Unit): Double = {
    body // warm
    var n = 0
    val t0 = System.nanoTime()
    while (n == 0 || System.nanoTime() - t0 < 300000000L) { body; n += 1 }
    mb * n / ((System.nanoTime() - t0) / 1e9)
  }
}
