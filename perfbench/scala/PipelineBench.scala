package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.sources.{SnapshotStore, SqlDml}
import graft.streaming.{EnrichmentPipeline, HttpIngestSource, SnapshotMergeSink}

/** One run of one benchmark workload against the engine's public entry
  * points. Prints a single JSON result line on stdout (end-to-end metrics
  * untraced, per-layer metrics traced) and writes `report.json` (every
  * metric, check and note) plus, traced, `spans.json` into `--out`.
  *
  * Usage: PipelineBench --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out DIR --python CMD --loadgen PATH [--stub URL]
  */
object PipelineBench {
  val TableRows = 15000
  /** enrich_batch's table: at 15,000 rows one job (about 14 s, nearly all
    * of it remote calls) would leave a run one sample; at 2,000 rows a job
    * takes about 2.3 s, still mostly remote calls, and a run gets five.
    */
  val EnrichRows = 2000
  /** Table set-ups per run; `setup_s` counts their median. */
  val SetupRounds = 3
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** End-to-end metrics: every workload reports each one for its own
    * headline operation (see perfbench/README.md for the mapping).
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms",
    "write_p50_ms" -> "ms", "ops_per_s" -> "1/s")

  /** Per-layer metrics, reported by every traced run; a layer the workload
    * never calls reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "HttpIngestSource.ack_ms.p50" -> "ms", "HttpIngestSource.ack_ms.p99" -> "ms",
    "HttpIngestSource.refused" -> "count", "ingest.ack_due_ms.p50" -> "ms",
    "microbatch.count" -> "count", "microbatch.rows.p50" -> "rows",
    "microbatch.trigger_ms.p50" -> "ms", "microbatch.trigger_ms.p90" -> "ms",
    "microbatch.offsets_planning_ms.mean" -> "ms",
    "SnapshotMergeSink.upsert_ms.p50" -> "ms", "SnapshotMergeSink.upsert_ms.p90" -> "ms",
    "SnapshotMergeSink.self_ms.p50" -> "ms",
    "SnapshotMergeSink.jobs_per_call" -> "count", "SnapshotMergeSink.tasks_per_call" -> "count",
    "SnapshotStore.versions" -> "count", "SnapshotStore.write_amp" -> "ratio",
    "SnapshotStore.files_latest" -> "count",
    "SnapshotStore.transact_ms.p50" -> "ms", "SnapshotStore.transact_jobs" -> "count",
    "EnrichmentPipeline.enrich_ms.p50" -> "ms", "EnrichmentPipeline.calls_per_row" -> "ratio",
    "EnrichmentPipeline.inflight_mean" -> "count", "stub.service_ms.p50" -> "ms",
    "GraftCatalog.lookup_plan_ms.p50" -> "ms", "SnapshotStore.lookup_exec_ms.p50" -> "ms",
    "SnapshotStore.lookup_files_read.p50" -> "count", "lookup.jobs_per_call" -> "count",
    "scan.plan_ms.p50" -> "ms", "scan.exec_ms.p50" -> "ms",
    "serve.scan_ms.p50" -> "ms", "serve.scan_ms.p90" -> "ms", "serve.update_ms.p90" -> "ms",
    "SqlDml.update_jobs_per_call" -> "count",
    "jvm.cpu_s" -> "s", "jvm.gc_ms" -> "ms", "jvm.peak_rss_mb" -> "MB",
    "generator.late_ms.p99" -> "ms",
    "ingest.superseded" -> "count", "failed_ratio" -> "ratio", "host.load1" -> "load")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path, python: String, loadgen: String, stub: String)

  /** What a workload run hands back: counts, checks and every metric. */
  final class Outcome {
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val notes = mutable.LinkedHashMap.empty[String, Any]
    def check(ok: Boolean, msg: => String): Unit = if (!ok) problems += msg
    def put(name: String, v: Double): Unit = metrics(name) = v
  }

  // ---- small helpers ------------------------------------------------------

  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Data files of a snapshot: parquet files outside `_`-prefixed dirs. */
  def dataFiles(dir: String): Int = {
    val base = Paths.get(dir)
    val s = Files.walk(base)
    try s.iterator().asScala.count { f =>
      f.getFileName.toString.endsWith(".parquet") &&
        !base.relativize(f).iterator().asScala.exists(_.toString.startsWith("_"))
    } finally s.close()
  }

  def procStatusKb(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  def load1: Double =
    Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = osBean.getProcessCpuTime / 1e9
  def gcMs: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.toDouble).sum

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  private lazy val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  def httpGet(url: String): String =
    http.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  /** Flat JSON object of numbers → map (the stub's stats reply). */
  def numbers(json: String): Map[String, Double] =
    "\"([^\"]+)\"\\s*:\\s*(-?[0-9.eE+-]+)".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  def toJson(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => toJson(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(toJson).mkString("[", ",", "]")
    case other => toJson(other.toString)
  }

  /** The employee table every workload starts from, generated from the
    * seed with Spark expressions (so a check can recompute any column):
    * the reference's `{id, name, age, yearsofexp, salary, segment}` row.
    */
  def employees(spark: SparkSession, seed: Long, rows: Int = TableRows): DataFrame =
    spark.range(1, rows + 1).select(
      col("id"),
      format_string("Customer#%09d", col("id")).as("name"),
      (lit(20) + col("id") % 40).cast("int").as("age"),
      pmod(xxhash64(col("id"), lit(seed)), lit(30L)).cast("int").as("yearsofexp"),
      salary0(col("id"), seed).as("salary"),
      element_at(array(Segments.map(lit): _*),
        (pmod(xxhash64(col("id"), lit(seed + 2)), lit(5L)) + 1).cast("int")).as("segment"))

  /** Starting salary in cents, −1,000.00 … 9,999.99 like TPC-H acctbal. */
  def salary0(id: org.apache.spark.sql.Column, seed: Long): org.apache.spark.sql.Column =
    pmod(xxhash64(id, lit(seed + 1)), lit(1100000L)) - 100000L

  // ---- main ---------------------------------------------------------------

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")), need("python"), need("loadgen"),
      m.getOrElse("stub", ""))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val cpus = Runtime.getRuntime.availableProcessors
    // the session Bench uses, at this box's core count
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (Clock.nowUs - jvmStartUs) / 1e6
    val tr = new Tracer(o.trace, spark.sparkContext)
    val out = new Outcome
    val w = o.workload match {
      case "ingest_stream" => new IngestStream(spark, o, tr, out)
      case "enrich_batch" => new EnrichBatch(spark, o, tr, out)
      case "serve_mixed" => new ServeMixed(spark, o, tr, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupMs = w.setUp()
    val warmMs = timeMs(w.warmUp())._2
    out.put("setup_s", sessionS + pct(setupMs, 0.5) / 1000 + warmMs / 1000)
    val (cpu0, gc0) = (cpuS, gcMs)
    w.measure()
    out.put("jvm.cpu_s", cpuS - cpu0)
    out.put("jvm.gc_ms", gcMs - gc0)
    out.put("host.load1", load1)
    w.verify()
    out.put("jvm.peak_rss_mb", procStatusKb("VmHWM") / 1024)
    out.put("failed_ratio", out.failed.toDouble / math.max(1L, out.attempted))
    out.notes("session_s") = sessionS
    out.notes("table_setup_ms") = setupMs
    out.notes("warmup_ms") = warmMs

    val spans = tr.all
    if (o.trace) {
      val stats = Layers.summarize(spans)
      Files.writeString(o.out.resolve("spans.json"), toJson(spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "key" -> s.key,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "jobs" -> s.jobs, "tasks" -> s.tasks))))
      out.notes("layers") = stats.map(s => Map("name" -> s.name, "calls" -> s.calls,
        "dur_ms_p50" -> pct(s.durMs, 0.5), "dur_ms_sum" -> s.durMs.sum,
        "self_ms_p50" -> pct(s.selfMs, 0.5), "self_ms_sum" -> s.selfMs.sum,
        "jobs_per_call" -> mean(s.jobs.map(_.toDouble)),
        "tasks_per_call" -> mean(s.tasks.map(_.toDouble))))
      System.err.println(f"${"span"}%-34s ${"calls"}%6s ${"p50 ms"}%9s ${"self p50"}%9s ${"self sum"}%10s ${"jobs/call"}%9s ${"tasks/call"}%10s")
      stats.foreach { s =>
        System.err.println(f"${s.name}%-34s ${s.calls}%6d ${pct(s.durMs, 0.5)}%9.2f ${pct(s.selfMs, 0.5)}%9.2f ${s.selfMs.sum}%10.1f ${mean(s.jobs.map(_.toDouble))}%9.2f ${mean(s.tasks.map(_.toDouble))}%10.2f")
      }
    }
    val correct = out.problems.isEmpty
    val names = if (o.trace) PerLayer else EndToEnd
    val metrics = names.map { case (n, u) =>
      n -> Map("value" -> out.metrics.getOrElse(n, 0.0), "unit" -> u) }.to(mutable.LinkedHashMap)
    val line = toJson(mutable.LinkedHashMap("correct" -> correct,
      "attempted" -> out.attempted, "failed" -> out.failed, "metrics" -> metrics))
    Files.writeString(o.out.resolve("report.json"), toJson(mutable.LinkedHashMap(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "correct" -> correct, "problems" -> out.problems, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> out.metrics, "notes" -> out.notes)))
    out.problems.foreach(p => System.err.println(s"CHECK FAILED: $p"))
    println(line)
    System.out.flush()
    HttpIngestSource.stopAll()
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }

  /** A workload: table set-up (repeated [[SetupRounds]] times, the last
    * table is the one measured), an untimed warm-up, the timed phase, and
    * the output checks.
    */
  trait Workload {
    def setUp(): Seq[Double]
    def warmUp(): Unit
    def measure(): Unit
    def verify(): Unit
  }

  // ---- ingest_stream ------------------------------------------------------

  final case class GenEvent(n: Int, id: Long, name: String, salary: Long,
      segment: String, dueMs: Long, sendUs: Long, ackUs: Long, status: Int,
      refused: Int, bytes: Int)

  /** POSTed JSON rows → HttpIngestSource → dedupe per batch →
    * SnapshotMergeSink.upsertBatch, driven by a separate open-loop
    * generator process.
    */
  final class IngestStream(spark: SparkSession, o: Opts, tr: Tracer, out: Outcome)
      extends Workload {
    val Rate = 40
    /** The commit path keeps getting faster (JIT) for about its first
      * twenty commits: 4 s, then 1.7 s falling to about 0.7 s. With six
      * seconds of warm-up the timed commits still fell from about 1.1 s to
      * 0.7 s; twelve seconds (about ten commits) leave less of that curve
      * in the timed phase while keeping a run under a minute.
      */
    val WarmUpS = 12
    val root: String = o.work.resolve("emp").toString
    val port: Int = freePort()
    val commitUs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val upsertMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val endOffset = new AtomicLong(0L)
    val events = mutable.ArrayBuffer.empty[GenEvent]
    var query: org.apache.spark.sql.streaming.StreamingQuery = _
    var timedFromVersion = 0L
    var timedFromBatch = 0L
    var bytesBefore = 0L
    val eventSchema: StructType = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("salary", LongType),
      StructField("segment", StringType), StructField("due_ms", LongType)))
    def mbSpanId(batchId: Long): Long = 1000000000000L + batchId

    def setUp(): Seq[Double] = (0 until SetupRounds).map { r =>
      val rt = if (r == SetupRounds - 1) root else s"$root-setup$r"
      timeMs(SnapshotStore.init(spark, rt, employees(spark, o.seed)
        .select(col("id"), col("name"), col("salary"), col("segment"),
          lit(0L).as("due_ms")), cdcKeys = Seq("id")))._2
    }

    def startQuery(): Unit = {
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          if (p.numInputRows > 0) {
            progress.add(p)
            val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
            tr.record(Span(mbSpanId(p.batchId), 0L, "microbatch", p.batchId.toString,
              startUs, startUs + p.durationMs.get("triggerExecution") * 1000L))
          }
          val end = p.sources.head.endOffset
          if (end != null && end.forall(_.isDigit)) endOffset.accumulateAndGet(end.toLong, math.max)
        }
      })
      query = spark.readStream.format("graft.streaming.HttpIngestSource")
        .option("port", port.toString).load()
        .writeStream
        .option("checkpointLocation", o.work.resolve("checkpoint").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val (_, ms) = timeMs(tr.span("SnapshotMergeSink.upsertBatch", batchId.toString,
              parent = mbSpanId(batchId)) {
            val ev = batch.select(from_json(col("value"), eventSchema).as("e")).select("e.*")
            val last = ev.groupBy("id")
              .agg(max_by(struct(col("name"), col("salary"), col("segment"), col("due_ms")),
                col("due_ms")).as("r"))
              .select(col("id"), col("r.*"))
            SnapshotMergeSink.upsertBatch(root, "id", "perfbench-ingest")(last, batchId)
          })
          val t = Clock.nowUs
          upsertMs.put(batchId, ms)
          commitUs.put(SnapshotStore.latest(root).version, t)
          ()
        }
        .start()
    }

    /** Runs the generator for one phase and waits until every row it got
      * acked has been committed (the query's endOffset reaches the source's
      * sequence number — `buffered` never drains while input is idle).
      */
    def phase(name: String, seconds: Int): Seq[GenEvent] = {
      val existing = (TableRows.toLong +: events.map(_.id).toSeq).max
      val file = o.work.resolve(s"gen-$name.tsv")
      val pb = new ProcessBuilder(o.python, o.loadgen, "--port", port.toString,
        "--seed", o.seed.toString, "--phase", name, "--rate", Rate.toString,
        "--seconds", seconds.toString, "--existing", existing.toString,
        "--out", file.toString)
        .redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      if (!p.waitFor(seconds + 60L, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly().waitFor()
        throw new IllegalStateException(s"generator phase $name did not finish")
      }
      require(p.exitValue() == 0, s"generator phase $name exited ${p.exitValue()}")
      val evs = Files.readAllLines(file).asScala.toSeq.map(_.split("\t")).map(f =>
        GenEvent(f(0).toInt, f(1).toLong, f(2), f(3).toLong, f(4), f(5).toLong,
          f(6).toLong, f(7).toLong, f(8).toInt, f(9).toInt, f(10).toInt))
      events ++= evs
      evs.foreach(e => tr.record(Span(tr.newId(), 0L, "generator.post", s"$name-${e.n}",
        e.sendUs, e.ackUs)))
      val target = HttpIngestSource.stateFor(port).seq.get()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (endOffset.get() < target && System.nanoTime() < deadline) Thread.sleep(5)
      out.check(endOffset.get() >= target,
        s"$name: stream reached offset ${endOffset.get()} of $target within 60 s")
      evs
    }

    def warmUp(): Unit = {
      startQuery()
      phase("warmup", WarmUpS)
    }

    var timed: Seq[GenEvent] = Nil
    def measure(): Unit = {
      timedFromVersion = SnapshotStore.latest(root).version
      timedFromBatch = upsertMs.keySet.asScala.max
      bytesBefore = dirBytes(Paths.get(root))
      timed = phase("timed", o.seconds)
      query.stop()
    }

    def verify(): Unit = {
      val vEnd = SnapshotStore.latest(root).version
      // every acked event of the timed phase, looked up in the change feed
      val feed = SnapshotStore.changes(spark, root, timedFromVersion + 1, vEnd)
        .filter(col(SnapshotStore.ChangeTypeCol).isin("insert", "update_postimage"))
        .select(col("id"), col("due_ms"), col(SnapshotStore.CommitVersionCol))
        .collect().map(r => r.getLong(1) -> (r.getLong(0), r.getLong(2))).toMap
      val acked = timed.filter(_.status == 200)
      val lastDue = acked.groupBy(_.id).view.mapValues(_.map(_.dueMs).max).toMap
      val visibleMs = mutable.ArrayBuffer.empty[Double]
      var superseded = 0L
      var invisible = 0L
      acked.foreach { e =>
        feed.get(e.dueMs) match {
          case Some((id, v)) if id == e.id && commitUs.containsKey(v) =>
            visibleMs += commitUs.get(v) / 1000.0 - e.dueMs
          case _ if lastDue(e.id) > e.dueMs && feed.contains(lastDue(e.id)) => superseded += 1
          case _ => invisible += 1
        }
      }
      out.check(invisible == 0, s"$invisible acked events never became visible")
      // the table holds each key's last acked event, and every new key once
      val expect = events.filter(_.status == 200).groupBy(_.id).view
        .mapValues(_.maxBy(_.dueMs)).toMap
      val got = SnapshotStore.read(spark, root).filter(col("due_ms") > 0)
        .select("id", "name", "salary", "segment", "due_ms").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getString(3), r.getLong(4))).toMap
      val wrong = expect.count { case (id, e) =>
        !got.get(id).contains((e.name, e.salary, e.segment, e.dueMs)) }
      out.check(wrong == 0 && got.size == expect.size,
        s"$wrong of ${expect.size} keys do not hold their last event (table has ${got.size})")
      val rows = SnapshotStore.read(spark, root).count()
      val newKeys = expect.keys.count(_ > TableRows)
      out.check(rows == TableRows + newKeys, s"table has $rows rows, expected ${TableRows + newKeys}")

      out.attempted = timed.size
      out.failed = timed.count(_.status != 200) + invisible
      out.put("latency_p50_ms", pct(visibleMs.toSeq, 0.5))
      out.put("latency_p90_ms", pct(visibleMs.toSeq, 0.9))
      out.put("write_p50_ms", pct(upsertMs.asScala.toSeq.collect {
        case (b, ms) if b > timedFromBatch => ms }, 0.5))
      out.put("ingest.ack_due_ms.p50", pct(acked.map(e => e.ackUs / 1000.0 - e.dueMs), 0.5))
      val windowS = (commitUs.asScala.values.max / 1000.0 - timed.map(_.dueMs).min) / 1000
      out.put("ops_per_s", visibleMs.size / windowS)
      val ackMs = acked.map(e => (e.ackUs - e.sendUs) / 1000.0)
      out.put("HttpIngestSource.ack_ms.p50", pct(ackMs, 0.5))
      out.put("HttpIngestSource.ack_ms.p99", pct(ackMs, 0.99))
      out.put("HttpIngestSource.refused", timed.map(_.refused).sum.toDouble)
      out.put("generator.late_ms.p99", pct(timed.map(e => e.sendUs / 1000.0 - e.dueMs), 0.99))
      out.put("ingest.superseded", superseded.toDouble)
      val batches = progress.asScala.toSeq.filter(_.batchId > timedFromBatch)
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      out.put("microbatch.count", batches.size.toDouble)
      out.put("microbatch.rows.p50", pct(batches.map(_.numInputRows.toDouble), 0.5))
      out.put("microbatch.trigger_ms.p50", pct(batches.map(dur(_, "triggerExecution")), 0.5))
      out.put("microbatch.trigger_ms.p90", pct(batches.map(dur(_, "triggerExecution")), 0.9))
      // whole milliseconds per batch: a mean, not a median, so that the
      // figure is not one integer on every run
      out.put("microbatch.offsets_planning_ms.mean",
        mean(batches.map(p => dur(p, "latestOffset") + dur(p, "queryPlanning"))))
      val timedBatches = batches.map(_.batchId.toString).toSet
      layerCalls(tr, "SnapshotMergeSink.upsertBatch", s => timedBatches(s.key)).foreach { s =>
        out.put("SnapshotMergeSink.upsert_ms.p50", pct(s.durMs, 0.5))
        out.put("SnapshotMergeSink.upsert_ms.p90", pct(s.durMs, 0.9))
        out.put("SnapshotMergeSink.self_ms.p50", pct(s.selfMs, 0.5))
        out.put("SnapshotMergeSink.jobs_per_call", mean(s.jobs.map(_.toDouble)))
        out.put("SnapshotMergeSink.tasks_per_call", mean(s.tasks.map(_.toDouble)))
      }
      storeMetrics(out, root, timedFromVersion, bytesBefore, acked.map(_.bytes.toLong).sum)
      out.notes("generator_valid") = pct(timed.map(e => e.sendUs / 1000.0 - e.dueMs), 0.99) < 100
      out.notes("visible_samples") = visibleMs.size
      out.notes("upsert_ms") = upsertMs.asScala.toSeq.sortBy(_._1).map(_._2)
    }
  }

  /** Layer stats of the traced calls named `name` that `keep` accepts;
    * None untraced.
    */
  def layerCalls(tr: Tracer, name: String, keep: Span => Boolean): Option[Layers.Stat] =
    if (!tr.enabled) None
    else Layers.summarize(tr.all, s => s.name == name && keep(s)).headOption

  /** Table-format counters over the timed phase: versions committed, disk
    * growth per accepted payload byte, data files in the latest snapshot.
    */
  def storeMetrics(out: Outcome, root: String, fromVersion: Long, bytesBefore: Long,
      payloadBytes: Long): Unit = {
    val latest = SnapshotStore.latest(root)
    out.put("SnapshotStore.versions", (latest.version - fromVersion).toDouble)
    out.put("SnapshotStore.write_amp",
      (dirBytes(Paths.get(root)) - bytesBefore).toDouble / math.max(1L, payloadBytes))
    out.put("SnapshotStore.files_latest", dataFiles(latest.dataDir).toDouble)
  }

  // ---- enrich_batch -------------------------------------------------------

  /** Closed loop of back-to-back salary jobs: SnapshotStore.read →
    * EnrichmentPipeline.enrich over the remote transform stub → keyed
    * write-back in one SnapshotStore.transact.
    */
  final class EnrichBatch(spark: SparkSession, o: Opts, tr: Tracer, out: Outcome)
      extends Workload {
    import spark.implicits._
    val root: String = o.work.resolve("emp").toString
    var jobs = 0
    val jobMs = mutable.ArrayBuffer.empty[Double]
    val enrichMs = mutable.ArrayBuffer.empty[Double]
    val transactMs = mutable.ArrayBuffer.empty[Double]
    val stubStats = mutable.ArrayBuffer.empty[Map[String, Double]]
    var fromVersion = 0L
    var bytesBefore = 0L
    val WarmUpJobs = 8
    var failedJobs = 0
    val jobErrors = mutable.ArrayBuffer.empty[String]
    require(o.stub.nonEmpty, "enrich_batch needs --stub")

    def setUp(): Seq[Double] = (0 until SetupRounds).map { r =>
      val rt = if (r == SetupRounds - 1) root else s"$root-setup$r"
      timeMs(SnapshotStore.init(spark, rt, employees(spark, o.seed, EnrichRows)))._2
    }

    /** One job. A transform call that throws fails its Spark job before
      * the write-back starts, so a failed job leaves the table as it was:
      * it is logged and counted as failed, and the next job starts over.
      */
    def job(): Unit = {
      httpGet(s"${o.stub}/stats?reset=1")
      val enrichSpan = tr.newId()
      val ok = try {
        val (_, ms) = timeMs(tr.span("enrich.job", jobs.toString) {
          val emps = SnapshotStore.read(spark, root)
            .select(col("id"), col("yearsofexp"), col("salary")).as[EnrichmentPipeline.Emp]
          val (upd, eMs) = timeMs(tr.span("EnrichmentPipeline.enrich", jobs.toString, enrichSpan) {
            val u = EnrichmentPipeline.enrich(emps,
              EnrichmentPipeline.httpTransform(s"${o.stub}/transform"), 4).toDF().persist()
            try u.count() catch { case e: Exception => u.unpersist(); throw e }
            u
          })
          val (_, tMs) = timeMs(tr.span("SnapshotStore.transact", jobs.toString) {
            try SnapshotStore.transact(spark, root) { base =>
              base.join(upd, base("id") === upd("u_id"), "left")
                .select(base.columns.toIndexedSeq.map(c =>
                  if (c == "salary") coalesce(upd("new_salary"), base("salary")).as("salary")
                  else base(c)): _*)
            } finally upd.unpersist()
          })
          enrichMs += eMs
          transactMs += tMs
        })
        jobMs += ms
        jobs += 1
        true
      } catch {
        case e: Exception =>
          // a Spark job failure's message carries the task's stack trace
          val msg = e.toString.linesIterator.next()
          failedJobs += 1
          jobErrors += msg
          System.err.println(s"enrich job failed: $msg")
          false
      }
      val reply = httpGet(s"${o.stub}/stats?reset=1&calls=${if (tr.enabled) 1 else 0}")
      if (ok) {
        stubStats += numbers(reply.takeWhile(_ != '['))
        "\\[(\\d+), (\\d+)\\]".r.findAllMatchIn(reply).foreach(m => tr.record(Span(
          tr.newId(), enrichSpan, "stub.call", "", m.group(1).toLong, m.group(2).toLong)))
      }
    }

    /** The HTTP client's per-call path and the write-back keep speeding
      * up (JIT) for about ten jobs: with three warm-up jobs, job time
      * still fell by about 20% across the timed phase; with eight to ten,
      * the timed jobs stay within a few percent.
      */
    def warmUp(): Unit = (0 until WarmUpJobs).foreach(_ => job())

    def measure(): Unit = {
      jobMs.clear(); enrichMs.clear(); transactMs.clear(); stubStats.clear()
      failedJobs = 0
      fromVersion = SnapshotStore.latest(root).version
      bytesBefore = dirBytes(Paths.get(root))
      val deadline = System.nanoTime() + o.seconds * 1000000000L
      do job() while (System.nanoTime() < deadline)
    }

    def verify(): Unit = {
      // after j jobs every salary is s0 + j·1000·yearsofexp: one aggregate
      val r = SnapshotStore.read(spark, root).agg(count(lit(1)),
        sum(when(col("salary") =!= salary0(col("id"), o.seed) +
          lit(jobs * 1000L) * col("yearsofexp"), 1).otherwise(0))).head()
      out.check(r.getLong(0) == EnrichRows, s"table has ${r.getLong(0)} rows")
      out.check(r.getLong(1) == 0L, s"${r.getLong(1)} rows have a wrong salary after $jobs jobs")
      out.check(jobMs.size >= 3, s"only ${jobMs.size} timed jobs succeeded ($failedJobs failed)")
      val calls = stubStats.map(_.getOrElse("calls", 0.0)).sum
      out.check(calls >= EnrichRows.toDouble * jobMs.size,
        s"stub saw $calls calls for ${jobMs.size} jobs of $EnrichRows rows")
      out.attempted = jobMs.size + failedJobs
      out.failed = failedJobs
      out.put("latency_p50_ms", pct(jobMs.toSeq, 0.5))
      out.put("latency_p90_ms", pct(jobMs.toSeq, 0.9))
      out.put("write_p50_ms", pct(transactMs.toSeq, 0.5))
      out.put("ops_per_s", EnrichRows / (pct(jobMs.toSeq, 0.5) / 1000))
      out.put("SnapshotStore.transact_ms.p50", pct(transactMs.toSeq, 0.5))
      out.put("EnrichmentPipeline.enrich_ms.p50", pct(enrichMs.toSeq, 0.5))
      out.put("EnrichmentPipeline.calls_per_row", calls / (EnrichRows.toDouble * jobMs.size))
      out.put("EnrichmentPipeline.inflight_mean",
        mean(stubStats.map(_.getOrElse("inflight_mean", 0.0)).toSeq))
      out.put("stub.service_ms.p50", pct(stubStats.map(_.getOrElse("service_ms_p50", 0.0)).toSeq, 0.5))
      val timedKeys = (jobs - jobMs.size until jobs).map(_.toString).toSet
      layerCalls(tr, "SnapshotStore.transact", s => timedKeys(s.key)).foreach { s =>
        out.put("SnapshotStore.transact_jobs", mean(s.jobs.map(_.toDouble))) }
      storeMetrics(out, root, fromVersion, bytesBefore, 16L * EnrichRows * jobMs.size)
      out.notes("jobs_timed") = jobMs.size
      out.notes("job_errors") = jobErrors.toSeq
      out.notes("stub_connections") = stubStats.map(_.getOrElse("connections", 0.0)).sum
      out.notes("job_ms") = jobMs.toSeq
      out.notes("transact_ms") = transactMs.toSeq
    }
  }

  // ---- serve_mixed --------------------------------------------------------

  /** Reads beside writes on a CDC table created through GraftCatalog:
    * two closed-loop readers (4 point lookups, then one full scan to
    * JSON rows) and one open-loop writer issuing a SqlDml UPDATE every 2 s.
    */
  final class ServeMixed(spark: SparkSession, o: Opts, tr: Tracer, out: Outcome)
      extends Workload {
    /** Three readers, the writer and the task slots over-subscribed a
      * 4-vCPU host: back-to-back runs' lookup medians swung by ±15% and ten
      * runs spread 31%. Two readers swung by ±5% under the same host.
      */
    val Readers = 2
    val UpdateEveryMs = 2000L
    /** Catalyst and the scan keep getting faster for several seconds of
      * this mix (JIT); with only a few warm-up queries the trend showed
      * inside the timed phase, and with 4 s the lookup median still
      * spread 19% over ten runs.
      */
    val WarmUpS = 8
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", o.work.resolve("warehouse").toString)
    val root: String = o.work.resolve("warehouse").resolve("emp").toString
    val baseSum: Long = employees(spark, o.seed).agg(sum("salary")).head().getLong(0)
    val lookupMs = new ConcurrentLinkedQueue[Double]()
    val lookupPlanMs = new ConcurrentLinkedQueue[Double]()
    val lookupExecMs = new ConcurrentLinkedQueue[Double]()
    val lookupFiles = new ConcurrentLinkedQueue[Double]()
    val scanMs = new ConcurrentLinkedQueue[Double]()
    val scanPlanMs = new ConcurrentLinkedQueue[Double]()
    val scanExecMs = new ConcurrentLinkedQueue[Double]()
    val updateMs = new ConcurrentLinkedQueue[Double]()
    val updatesDone = new AtomicLong(0L)
    val errors = new ConcurrentLinkedQueue[String]()
    var fromVersion = 0L
    var bytesBefore = 0L
    var readsEndUs = 0L
    var startUs = 0L

    def setUp(): Seq[Double] = {
      employees(spark, o.seed).createOrReplaceTempView("perfbench_employees")
      (0 until SetupRounds).map { r =>
        val t = if (r == SetupRounds - 1) "emp" else s"emp_setup$r"
        timeMs {
          spark.sql(s"CREATE TABLE graft.$t (id BIGINT, name STRING, age INT, " +
            "yearsofexp INT, salary BIGINT, segment STRING) TBLPROPERTIES ('cdc.keys' = 'id')")
          spark.sql(s"INSERT INTO graft.$t SELECT * FROM perfbench_employees")
        }._2
      }
    }

    /** Files the plan's scans read: file splits of every V2 file scan. */
    def filesRead(plan: SparkPlan): Double = plan.collectLeaves().map {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.map {
          case f: org.apache.spark.sql.execution.datasources.FilePartition => f.files.length
          case _ => 1
        }.sum.toDouble
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
      case _ => 0.0
    }.sum

    def lookup(k: Long): Unit = tr.span("serve.lookup", k.toString) {
      val t0 = System.nanoTime()
      val (df, planMs) = timeMs(tr.span("serve.lookup.plan") {
        val d = spark.sql(s"SELECT * FROM graft.emp WHERE id = $k")
        d.queryExecution.executedPlan
        d
      })
      val (rows, execMs) = timeMs(tr.span("serve.lookup.exec")(df.collect()))
      lookupMs.add((System.nanoTime() - t0) / 1e6)
      lookupPlanMs.add(planMs)
      lookupExecMs.add(execMs)
      if (tr.enabled) lookupFiles.add(filesRead(df.queryExecution.executedPlan))
      if (rows.length != 1 || rows(0).getLong(0) != k)
        errors.add(s"lookup $k returned ids ${rows.map(_.getLong(0)).mkString(",")}")
    }

    def scan(): Unit = tr.span("serve.scan") {
      val t0 = System.nanoTime()
      val (ds, planMs) = timeMs(tr.span("serve.scan.plan") {
        val d = spark.sql("SELECT * FROM graft.emp").toJSON
        d.queryExecution.executedPlan
        d
      })
      val (rows, execMs) = timeMs(tr.span("serve.scan.exec")(ds.collect()))
      scanMs.add((System.nanoTime() - t0) / 1e6)
      scanPlanMs.add(planMs)
      scanExecMs.add(execMs)
      val ids = rows.iterator.map(r => "\"id\":(\\d+)".r.findFirstMatchIn(r).get.group(1).toLong).toSet
      if (rows.length != TableRows || ids.size != TableRows)
        errors.add(s"scan returned ${rows.length} rows, ${ids.size} distinct ids")
    }

    def update(k: Long): Unit = tr.span("SqlDml.update", k.toString) {
      SqlDml.execute(spark, s"UPDATE graft.emp SET salary = salary + 1 WHERE id = $k")
      updatesDone.incrementAndGet()
    }

    /** Runs the read/write mix for `seconds`; returns (start, end of the
      * last read) in epoch microseconds.
      */
    def runMix(seconds: Int, salt: Long): (Long, Long) = {
      val start = Clock.nowUs
      val deadlineUs = start + seconds * 1000000L
      def guarded(what: String)(f: => Unit): Unit =
        try f catch { case e: Exception => errors.add(s"$what: $e") }
      val readers = (0 until Readers).map { t =>
        new Thread(() => {
          val rnd = new scala.util.Random(o.seed * 31 + t + salt)
          var i = 0
          while (Clock.nowUs < deadlineUs) {
            if (i % 5 == 4) guarded("scan")(scan())
            else { val k = 1L + rnd.nextInt(TableRows); guarded(s"lookup $k")(lookup(k)) }
            i += 1
          }
        }, s"perfbench-reader-$t")
      }
      val writer = new Thread(() => {
        val rnd = new scala.util.Random(o.seed * 31 + 97 + salt)
        var i = 0L
        while (start + i * UpdateEveryMs * 1000 < deadlineUs) {
          val dueUs = start + i * UpdateEveryMs * 1000
          val wait = dueUs - Clock.nowUs
          if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
          val k = 1L + rnd.nextInt(TableRows)
          guarded(s"update $k") {
            update(k)
            updateMs.add((Clock.nowUs - dueUs) / 1000.0)
          }
          i += 1
        }
      }, "perfbench-writer")
      (readers :+ writer).foreach(_.start())
      readers.foreach(_.join())
      val readsEnd = Clock.nowUs
      writer.join()
      (start, readsEnd)
    }

    def warmUp(): Unit = {
      runMix(WarmUpS, 1000)
      Seq(lookupMs, lookupPlanMs, lookupExecMs, lookupFiles, scanMs, scanPlanMs,
        scanExecMs, updateMs).foreach(_.clear())
    }

    def measure(): Unit = {
      fromVersion = SnapshotStore.latest(root).version
      bytesBefore = dirBytes(Paths.get(root))
      val (s, e) = runMix(o.seconds, 0)
      startUs = s
      readsEndUs = e
    }

    def verify(): Unit = {
      val r = spark.sql("SELECT count(*), count(DISTINCT id), sum(salary) FROM graft.emp").head()
      out.check(r.getLong(0) == TableRows && r.getLong(1) == TableRows,
        s"table has ${r.getLong(0)} rows, ${r.getLong(1)} distinct ids")
      out.check(r.getLong(2) == baseSum + updatesDone.get(),
        s"salary sum ${r.getLong(2)} != base $baseSum + ${updatesDone.get()} updates")
      out.check(errors.isEmpty, errors.asScala.take(5).mkString("; "))
      val reads = lookupMs.size + scanMs.size
      out.attempted = reads + updateMs.size + errors.size
      out.failed = errors.size
      val lk = lookupMs.asScala.toSeq
      out.put("latency_p50_ms", pct(lk, 0.5))
      out.put("latency_p90_ms", pct(lk, 0.9))
      out.put("write_p50_ms", pct(updateMs.asScala.toSeq, 0.5))
      out.put("ops_per_s", reads / ((readsEndUs - startUs) / 1e6))
      out.put("serve.scan_ms.p50", pct(scanMs.asScala.toSeq, 0.5))
      out.put("serve.scan_ms.p90", pct(scanMs.asScala.toSeq, 0.9))
      out.put("serve.update_ms.p90", pct(updateMs.asScala.toSeq, 0.9))
      out.put("GraftCatalog.lookup_plan_ms.p50", pct(lookupPlanMs.asScala.toSeq, 0.5))
      out.put("SnapshotStore.lookup_exec_ms.p50", pct(lookupExecMs.asScala.toSeq, 0.5))
      out.put("SnapshotStore.lookup_files_read.p50", pct(lookupFiles.asScala.toSeq, 0.5))
      out.put("scan.plan_ms.p50", pct(scanPlanMs.asScala.toSeq, 0.5))
      out.put("scan.exec_ms.p50", pct(scanExecMs.asScala.toSeq, 0.5))
      def jobsPerCall(name: String): Unit =
        layerCalls(tr, name, _.startUs >= startUs).foreach(s => out.put(
          if (name == "serve.lookup") "lookup.jobs_per_call" else "SqlDml.update_jobs_per_call",
          mean(s.jobs.map(_.toDouble))))
      jobsPerCall("serve.lookup")
      jobsPerCall("SqlDml.update")
      storeMetrics(out, root, fromVersion, bytesBefore, 16L * updateMs.size)
      out.notes("lookups") = lk.size
      out.notes("scans") = scanMs.size
      out.notes("updates") = updateMs.size
    }
  }
}
