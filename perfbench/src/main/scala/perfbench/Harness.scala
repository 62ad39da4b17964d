package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import graft.ingest.{IngestPipeline, SyntheticData}
import graft.queries.QueryRegistry
import graft.streaming.StreamingIngest

/** JVM side of the benchmark: drives the engine only through its public
  * functions, times full materializations (noop sink or a collecting
  * stream sink, never `count()`), and writes one JSON record with the
  * measured metrics, the observed outputs the checks need, the foreign-CPU
  * record of each window and, when tracing, the spans.
  *
  * Arguments are `key=value` pairs; `perfbench/run.py` builds them from
  * the workload table and judges correctness against its own oracle. */
object Harness {
  private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private var args: Map[String, String] = Map.empty
  private def arg(k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
  private def argInt(k: String): Int = arg(k).toInt

  private val out = mutable.LinkedHashMap.empty[String, Any]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def metric(name: String, v: Double, unit: String): Unit =
    metrics(name) = (v, unit)

  def main(argv: Array[String]): Unit = {
    args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.chunkBase64String.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", arg("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", arg("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = arg("trace") == "1"
    val tracer = new Tracer(spark, trace)
    try arg("workload") match {
      case "ingest" => ingest(spark, tracer)
      case "query_floor" => Queries(spark, tracer, cores).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      metric("rss_peak_mb", procStatusKb("VmHWM") / 1024.0, "MB")
      out("metrics") = metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }
      if (trace) out("spans") = tracer.spans.toSeq
      Files.write(Paths.get(arg("out")),
        new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(out))
      spark.stop()
    }
  }

  // ---------------------------------------------------------------- clocks

  private def nowS: Double = System.nanoTime / 1e9

  /** Wall seconds since the JVM started: the start of the set-up clock. */
  private def sinceStartS: Double = (System.currentTimeMillis - startMs) / 1e3

  /** Heap in use right after a full collection, kept as its maximum
    * over the calls: the memory the program holds at the end of a phase,
    * free of the collector's heap sizing. Called only between timed
    * windows. */
  private def liveHeapCheckpoint(): Unit = {
    System.gc()
    val mb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val prev = metrics.get("heap_live_mb").map(_._1).getOrElse(0.0)
    metric("heap_live_mb", math.max(prev, mb), "MB")
  }

  private def procStatusKb(field: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Busy jiffies of the whole machine and of this process, so a window's
    * CPU use by other processes can be told apart from a regression. */
  private final case class CpuSnap(wall: Double, busy: Long, self: Long)
  private def cpuSnap(): CpuSnap = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal
    val busy = f(0) + f(1) + f(2) + f(5) + f(6) + f(7)
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), UTF_8)
    val tail = s.substring(s.lastIndexOf(')') + 2).split(" ")
    // fields 14 and 15 of /proc/self/stat; tail starts at field 3
    CpuSnap(nowS, busy, tail(11).toLong + tail(12).toLong)
  }
  private val windows = mutable.LinkedHashMap.empty[String, Map[String, Double]]
  private def window[A](name: String)(body: => A): A = {
    val a = cpuSnap()
    try body finally {
      val b = cpuSnap()
      val hz = 100.0
      val foreign = ((b.busy - a.busy) - (b.self - a.self)) / hz
      windows(name) = Map("wall_s" -> (b.wall - a.wall),
        "self_cpu_s" -> (b.self - a.self) / hz,
        "foreign_cpu_s" -> foreign,
        "foreign_cores" -> foreign / math.max(b.wall - a.wall, 1e-9))
      out("cpu_windows") = windows
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" rule of Python's
    * statistics.quantiles). */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  // --------------------------------------------------------------- tracing

  final case class Span(id: Int, name: String, start: Double, end: Double,
      parent: Int, run: String)

  /** Per-span scheduler counters, attributed through the job-local
    * property the span sets, so late listener events land on the right
    * span. */
  final class Counters {
    var jobs, stages, tasks, emptyTasks = 0L
    var runMs, cpuNs, shuffleWrite, spill, gcMs, input = 0L
  }

  final class Tracer(spark: SparkSession, val on: Boolean) {
    val spans = ArrayBuffer.empty[Span]
    private val stack = mutable.Stack[Int]()
    private val runId = java.util.UUID.randomUUID.toString.take(8)
    private val stageSpan = new ConcurrentHashMap[Int, Int]
    val counters = new ConcurrentHashMap[Int, Counters]
    private def c(span: Int) = counters.computeIfAbsent(span, _ => new Counters)

    // planning time of each finished noop write, in order
    private val commandPlanMs = ArrayBuffer.empty[Double]
    def commands: Int = commandPlanMs.synchronized(commandPlanMs.size)

    if (on) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          val tag = Option(j.properties).flatMap(p =>
            Option(p.getProperty("perfbench.span")))
          tag.foreach { t =>
            val id = t.toInt
            c(id).synchronized(c(id).jobs += 1)
            j.stageIds.foreach(stageSpan.put(_, id))
          }
        }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
          Option(stageSpan.get(s.stageInfo.stageId)).foreach { id =>
            c(id).synchronized(c(id).stages += 1) }
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          Option(stageSpan.get(t.stageId)).foreach { id =>
            val m = t.taskMetrics
            if (m != null) { val k = c(id); k.synchronized {
              k.tasks += 1
              if (m.inputMetrics.recordsRead +
                  m.shuffleReadMetrics.recordsRead == 0) k.emptyTasks += 1
              k.runMs += m.executorRunTime
              k.cpuNs += m.executorCpuTime
              k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
              k.gcMs += m.jvmGCTime
              k.input += m.inputMetrics.bytesRead
            } }
          }
      })
      spark.listenerManager.register(new QueryExecutionListener {
        // the write shares the tracker of the frame it writes, whose
        // analysis ran while the frame was built: count optimization and
        // physical planning only
        private def phases(qe: QueryExecution): Double =
          Seq("optimization", "planning").flatMap(qe.tracker.phases.get)
            .map(_.durationMs.toDouble).sum
        private def add(f: String, qe: QueryExecution): Unit =
          if (f == "overwrite") commandPlanMs.synchronized {
            commandPlanMs += phases(qe); commandPlanMs.notifyAll() }
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
          add(f, qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
          add(f, qe)
      })
    }

    /** Runs `body` inside a span; untraced, it only runs `body`. */
    def span[A](name: String)(body: => A): A =
      if (!on) body
      else {
        val id = spans.size
        val parent = stack.headOption.getOrElse(-1)
        spans += Span(id, name, nowS, Double.NaN, parent, runId)
        stack.push(id)
        val sc = spark.sparkContext
        val prev = sc.getLocalProperty("perfbench.span")
        sc.setLocalProperty("perfbench.span", id.toString)
        try body finally {
          sc.setLocalProperty("perfbench.span", prev)
          stack.pop()
          spans(id) = spans(id).copy(end = nowS)
        }
      }

    /** Planning time of the first command that finished after `seen`
      * commands (listener events are asynchronous; waits briefly). */
    def planSAfter(seen: Int): Double = commandPlanMs.synchronized {
      val deadline = nowS + 5
      while (commandPlanMs.size <= seen && nowS < deadline)
        commandPlanMs.wait(100)
      commandPlanMs.lift(seen).getOrElse(0.0) / 1e3
    }

    /** Lets the asynchronous listener bus deliver the last events. */
    def settle(): Unit = Thread.sleep(1000)

    /** Sum of counters over every span whose name, or an ancestor's,
      * satisfies `p`; call [[settle]] first. */
    def total(p: String => Boolean): Counters = {
      def under(s: Span): Boolean =
        p(s.name) || s.parent >= 0 && under(spans(s.parent))
      val t = new Counters
      spans.filter(under).foreach { s =>
        Option(counters.get(s.id)).foreach { k => k.synchronized {
          t.jobs += k.jobs; t.stages += k.stages; t.tasks += k.tasks
          t.emptyTasks += k.emptyTasks; t.runMs += k.runMs
          t.cpuNs += k.cpuNs; t.shuffleWrite += k.shuffleWrite
          t.spill += k.spill; t.gcMs += k.gcMs; t.input += k.input
        } }
      }
      t
    }

    def dur(p: String => Boolean): Seq[Double] =
      spans.toSeq.filter(s => p(s.name)).map(s => s.end - s.start)
  }

  // ---------------------------------------------------------------- ingest

  /** Seeded input: the generator's envelopes (with its built-in 1%
    * invalid_json and 1% missing_fields rows) plus a 10% slice of
    * redeliveries chosen by a seeded multiplicative hash of the row id. */
  private def envelopesWithRedeliveries(spark: SparkSession, n: Long,
      seed: Long): DataFrame = {
    val base = SyntheticData.envelopes(spark, n, seed)
    val redelivered = base.filter(expr(
      s"pmod(pmod(cast(substr(message_id, 5) as bigint) * 2654435761 + $seed, 4294967296), 10) = 0"))
    base.unionAll(redelivered)
  }

  /** Order-independent digest of a frame: row count and the sum of a
    * 60-bit SHA-256 prefix of each row's JSON, summed exactly. */
  private def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(conv(substr(sha2(to_json(struct(cols: _*)), 256),
        lit(1), lit(15)), 16, 10).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")).cast("string")).collect()(0)
    (r.getLong(0), Option(r.getString(1)).getOrElse("0"))
  }

  /** Writes one `id<TAB>hash` line per row, for the per-envelope checks. */
  private def dumpIds(df: DataFrame, idExpr: String, hashExpr: String,
      file: String): Unit = {
    val rows = df.select(expr(idExpr).cast("long"), expr(hashExpr))
      .collect()
    val sb = new java.lang.StringBuilder(rows.length * 24)
    rows.foreach { r => sb.append(r.getLong(0)).append('\t')
      .append(r.getString(1)).append('\n') }
    Files.write(Paths.get(file), sb.toString.getBytes(UTF_8))
  }

  /** The ingest workload: batch passes, then the stream ladder, in one
    * session, over inputs generated from one seed. The batch warm passes
    * also warm the JIT for the stream, which runs the same pipeline code.
    * The batch passes take three quarters of `seconds`, the stream the rest. */
  private def ingest(spark: SparkSession, tr: Tracer): Unit = {
    val batch = IngestBatch(spark, tr)
    val stream = IngestStream(spark, tr)
    val raw = window("setup") {
      val raw = batch.setup()
      val streamGenS = stream.setup()
      metric("ingest.gen_s", metrics("ingest.gen_s")._1 + streamGenS, "s")
      // with the inputs loaded; the warm passes come last, right before
      // the timed ones, which otherwise start slow after the collection
      liveHeapCheckpoint()
      batch.warm(raw, argInt("warm_passes"))
      raw
    }
    metric("setup_s", sinceStartS, "s")
    window("timed_batch")(batch.timed(raw, argInt("seconds") * 3.0 / 4))
    liveHeapCheckpoint()
    window("timed_stream")(tr.span("stream.run")(stream.run()))
    batch.finish(raw)
    stream.finish()
  }

  final case class IngestBatch(spark: SparkSession, tr: Tracer) {
    val cfg = IngestPipeline.Config(auditRate = 0.9,
      receivedAt = Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))

    def writeAll(r: IngestPipeline.IngestResult): Unit = {
      tr.span("ingest.sink.events")(noop(r.events))
      tr.span("ingest.sink.dlq")(noop(r.dlq))
      tr.span("ingest.sink.sampled_out")(noop(r.sampledOut))
    }

    // the executed plan of every noop write, in order, to check what the
    // timed events write really ran
    private val plans = ArrayBuffer.empty[String]
    private var setupWrites = 0
    private val passes = ArrayBuffer.empty[Double]

    /** The cached seeded input. */
    def setup(): DataFrame = {
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
          if (f == "overwrite")
            plans.synchronized(plans += qe.executedPlan.toString)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      val g0 = nowS
      val raw = tr.span("ingest.gen") {
        val r = envelopesWithRedeliveries(spark, arg("envelopes").toLong,
          arg("seed").toLong).cache()
        noop(r); r
      }
      metric("ingest.gen_s", nowS - g0, "s")
      setupWrites = 1
      raw
    }

    /** Untimed passes that bring the JIT close to its steady state. */
    def warm(raw: DataFrame, passes: Int): Unit = {
      for (_ <- 1 to passes)
        tr.span("warm")(writeAll(IngestPipeline.run(raw, cfg)))
      setupWrites += 3 * passes
    }

    def timed(raw: DataFrame, seconds: Double): Unit = {
      val until = nowS + seconds
      while (passes.size < 3 || nowS < until) {
        val t0 = nowS
        tr.span("ingest.pass")(writeAll(IngestPipeline.run(raw, cfg)))
        passes += nowS - t0
      }
    }

    def finish(raw: DataFrame): Unit = {
      // the listener bus is asynchronous: wait for the first timed write
      val deadline = nowS + 5
      while (plans.synchronized(plans.size) <= setupWrites && nowS < deadline)
        Thread.sleep(50)
      val eventsPlan = plans.synchronized(plans.lift(setupWrites)).getOrElse("")
      out("events_plan_has_normalize") =
        eventsPlan.contains("from_json") && eventsPlan.contains("regexp_replace")
      val rows = raw.count()
      val med = median(passes.toSeq)
      metric("ingest_env_per_s", rows / med, "env/s")
      metric("ingest_pass_s", med, "s")
      metric("throughput_per_s", rows / med, "1/s")
      out("passes") = passes.toSeq
      out("input_rows") = rows

      // correctness: the routes of one more run, dumped per envelope
      val r = IngestPipeline.run(raw, cfg)
      val dir = arg("work")
      dumpIds(r.events, "cast(substr(idempotency_key, 6) as bigint)",
        "substr(sha2(payload, 256), 1, 15)", s"$dir/events.tsv")
      dumpIds(r.dlq, "cast(substr(message_id, 5) as bigint)",
        "concat(error_type, ':', http_status)", s"$dir/dlq.tsv")
      dumpIds(r.sampledOut, "cast(substr(idempotency_key, 6) as bigint)",
        "event_type", s"$dir/sampled_out.tsv")

      if (tr.on) traceLayers(raw, r)
    }

    /** Self times from differences between cumulative prefixes of the
      * pipeline, each materialized with the noop sink. */
    def traceLayers(raw: DataFrame, r: IngestPipeline.IngestResult): Unit = {
      val valid = () => IngestPipeline.prepare(raw, cfg)
        .filter(col("is_valid") && col("sampled"))
      val prefixes: Seq[(String, () => DataFrame)] = Seq(
        "scan" -> (() => raw),
        "decode" -> (() => IngestPipeline.decoded(raw)),
        "validate" -> (() => IngestPipeline.validated(IngestPipeline.decoded(raw))),
        "sample" -> (() => IngestPipeline.prepare(raw, cfg)),
        "normalize" -> (() => IngestPipeline.projected(
          IngestPipeline.phoneNormalized(valid(), cfg.defaultRegion), cfg)),
        "dedup" -> (() => IngestPipeline.run(raw, cfg).events))
      val t = prefixes.map { case (name, f) =>
        name -> median((1 to 3).map { _ =>
          val t0 = nowS
          tr.span(s"ingest.prefix.$name")(noop(f()))
          nowS - t0
        })
      }.toMap
      def self(a: String, b: String) = math.max(t(a) - t(b), 0.0)
      metric("ingest.decode_s", self("decode", "scan"), "s")
      metric("ingest.validate_s", self("validate", "decode"), "s")
      metric("ingest.sample_s", self("sample", "validate"), "s")
      metric("ingest.normalize_s", self("normalize", "sample"), "s")
      metric("ingest.dedup_s", self("dedup", "normalize"), "s")
      tr.settle()
      val pass = tr.total(_ == "ingest.pass")
      val nPass = tr.dur(_ == "ingest.pass").size.max(1)
      metric("ingest.shuffle_mb", pass.shuffleWrite / 1e6 / nPass, "MB")
      metric("ingest.jobs", pass.jobs.toDouble / nPass, "count")
      // scans of the cached input per pass, counted in the executed plans
      // of the three route writes
      val scans = Seq(r.events, r.dlq, r.sampledOut).map { df =>
        noop(df)
        "InMemoryTableScan".r.findAllIn(
          df.queryExecution.executedPlan.toString).length
      }.sum
      metric("ingest.input_scans", scans, "count")
    }
  }

  final case class Batch(endS: Double, keys: Array[Long])
  final case class Progress(atS: Double, inputRows: Long, triggerMs: Double,
      addBatchMs: Double, planningMs: Double, commitMs: Double,
      stateRows: Long, stateBytes: Long)

  /** One stream fed open-loop by one generator thread on a fixed 50 ms
    * schedule: a one-second warm segment at the lowest rate (not measured),
    * then one rung per rate, back to back. Envelope ids are laid out in
    * send order, so an emitted key tells when its envelope was due. */
  final case class IngestStream(spark: SparkSession, tr: Tracer) {
    private val seed = arg("seed").toLong
    private val rates = arg("rates").split(",").map(_.toInt).toSeq
    private val tickS = 0.05
    private val cfg = IngestPipeline.Config()
    private val rungS = argInt("seconds") / 4.0 / rates.size
    // segment 0 is the warm segment; segment r + 1 is rung r
    private val segRates = rates.head +: rates
    private val segTicks = (1.0 +: Seq.fill(rates.size)(rungS))
      .map(d => math.max(1, (d / tickS).round.toInt))
    private val perTick = segRates.map(r => math.max(1, (r * tickS).round.toInt))
    private val sizes = segTicks.zip(perTick).map { case (t, p) => t.toLong * p }
    private val offsets = sizes.scanLeft(0L)(_ + _)
    private val firstTick = segTicks.scanLeft(0)(_ + _)
    private var all: Array[(String, String)] = Array.empty
    private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]
    private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]
    private val offeredAt = new Array[Long](firstTick.last + 1)
    private var t0 = 0.0
    private var genLate = 0.0
    implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    /** Redeliveries: one envelope in ten is sent again 2 to 20 ticks later. */
    private def redeliveryDelay(id: Long): Int = {
      val h = Math.floorMod(id * 2654435761L + seed, 4294967296L)
      if (h % 10 == 0) 2 + (h / 10 % 19).toInt else -1
    }

    /** Pre-generates the envelopes; returns the generator's time. */
    def setup(): Double = {
      val g0 = nowS
      all = tr.span("ingest.gen")(
        SyntheticData.envelopes(spark, offsets.last, seed)
          .select("message_id", "data").as[(String, String)].collect())
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          def d(k: String) = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
          val st = p.stateOperators
          progress.add(Progress(nowS, p.numInputRows, d("triggerExecution"),
            d("addBatch"), d("queryPlanning"), d("commitOffsets") + d("walCommit"),
            st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum))
        }
      })
      nowS - g0
    }

    def run(): Unit = {
      val input = MemoryStream[(String, String)]
      val q = StreamingIngest.start(StreamingIngest.eventsStream(
          input.toDF().toDF("message_id", "data"), cfg), s"${arg("work")}/checkpoint") {
        (df, _) =>
          val keys = df.collect().map(_.getAs[String]("idempotency_key").drop(5).toLong)
          batches.add(Batch(nowS, keys))
      }
      val redeliver = Array.fill(firstTick.last + 21)(ArrayBuffer.empty[(String, String)])
      t0 = nowS + 0.2
      var offered = 0L
      for (seg <- segTicks.indices; k <- 0 until segTicks(seg)) {
        val tick = firstTick(seg) + k
        val due = t0 + tick * tickS
        val wait = due - nowS
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        if (seg > 0) genLate = math.max(genLate, nowS - due)
        val lo = offsets(seg) + k.toLong * perTick(seg)
        val rows = ArrayBuffer.empty[(String, String)]
        for (i <- lo until lo + perTick(seg)) {
          rows += all(i.toInt)
          val dly = redeliveryDelay(i)
          if (dly > 0) redeliver(tick + dly) += all(i.toInt)
        }
        rows ++= redeliver(tick)
        input.addData(rows.toSeq)
        offered += rows.size
        offeredAt(tick + 1) = offered
      }
      q.processAllAvailable()
      // every batch has been emitted; the state store is still loaded
      liveHeapCheckpoint()
      q.stop()
    }

    def finish(): Unit = {
      tr.settle()
      val bs = batches.asScala.toSeq
      val ps = progress.asScala.toSeq.sortBy(_.atS)
      def start(seg: Int) = t0 + firstTick(seg) * tickS
      // per-key latency: the key's scheduled first send to the end of the
      // sink batch that emitted it
      val lat = Array.fill(segTicks.size)(ArrayBuffer.empty[Double])
      for (b <- bs; id <- b.keys) {
        val seg = offsets.lastIndexWhere(_ <= id)
        val tick = firstTick(seg) + ((id - offsets(seg)) / perTick(seg)).toInt
        lat(seg) += (b.endS - (t0 + tick * tickS)) * 1e3
      }
      // backlog: rows offered but not yet taken by a trigger, at each
      // progress event
      var taken = 0L
      val backlog = ps.map { p =>
        taken += p.inputRows
        val tick = math.min(((p.atS - t0) / tickS).floor.toInt + 1, offeredAt.length - 1)
        p.atS -> math.max(offeredAt(math.max(tick, 0)) - taken, 0L).toDouble
      }
      val rungs = rates.indices.map { r =>
        val seg = r + 1
        val l = lat(seg).toSeq
        val b = backlog.filter { case (at, _) => at >= start(seg) && at < start(seg + 1) }
          .map(_._2)
        // the backlog grows when, at the rung's end, more than a second of
        // offered rows still waits for a trigger
        (l, b, b.lastOption.exists(_ > rates(r) * 1.0))
      }
      val lo = rungs.head._1; val hi = rungs.last._1
      metric("stream_p50_ms_low", quantile(lo, 0.5), "ms")
      metric("stream_p99_ms_low", quantile(lo, 0.99), "ms")
      metric("stream_p50_ms_high", quantile(hi, 0.5), "ms")
      metric("stream_p99_ms_high", quantile(hi, 0.99), "ms")
      val atSlo = rates.zip(rungs).collect {
        case (rate, (l, _, growing)) if quantile(l, 0.99) <= 1000.0 && !growing => rate }
      metric("stream_rate_at_slo", atSlo.maxOption.getOrElse(0).toDouble, "env/s")
      out("rungs") = rates.zip(rungs).map { case (rate, (l, b, g)) =>
        Map("rate" -> rate, "samples" -> l.size, "p50_ms" -> quantile(l, 0.5),
          "p99_ms" -> quantile(l, 0.99), "backlog_rows_max" -> b.maxOption.getOrElse(0.0),
          "backlog_growing" -> g)
      }
      out("stream_envelopes") = offsets.last

      // emitted keys, one line each, for the exactly-once check
      val sb = new java.lang.StringBuilder
      bs.foreach(_.keys.foreach(k => sb.append(k).append('\n')))
      Files.write(Paths.get(s"${arg("work")}/stream_keys.txt"), sb.toString.getBytes(UTF_8))

      // scheduler-side metrics over the rungs only
      val rp = ps.filter(_.atS >= start(1))
      metric("stream.trigger_ms_p50", median(rp.map(_.triggerMs)), "ms")
      metric("stream.add_batch_ms_p50", median(rp.map(_.addBatchMs)), "ms")
      metric("stream.planning_ms_p50", median(rp.map(_.planningMs)), "ms")
      metric("stream.commit_ms_p50", median(rp.map(_.commitMs)), "ms")
      metric("stream.empty_batch_ratio",
        rp.count(_.inputRows == 0).toDouble / math.max(rp.size, 1), "ratio")
      metric("stream.rows_per_batch_p50",
        median(rp.filter(_.inputRows > 0).map(_.inputRows.toDouble)), "count")
      metric("stream.backlog_rows_max", rungs.flatMap(_._2).maxOption.getOrElse(0.0), "count")
      metric("stream.state_rows_max", rp.map(_.stateRows.toDouble).maxOption.getOrElse(0.0), "count")
      metric("stream.state_mb_max", rp.map(_.stateBytes / 1e6).maxOption.getOrElse(0.0), "MB")
      metric("stream.gen_late_ms_max", genLate * 1e3, "ms")
    }
  }

  // --------------------------------------------------------------- queries

  final case class Queries(spark: SparkSession, tr: Tracer, cores: Int) {
    def run(): Unit = {
      val dir = arg("data")
      val names = arg("entries") match {
        case "*" => QueryRegistry.all.map(_.name).sorted
        case list => list.split(",").toSeq.filter(_.nonEmpty)
      }
      out("entries") = names
      val entries = names.map(n => n -> QueryRegistry.byName(n).run)
      val failed = mutable.LinkedHashMap.empty[String, String]
      val digests = mutable.LinkedHashMap.empty[String, String]
      val cold = mutable.LinkedHashMap.empty[String, Double]
      // isolate=1 runs each entry's warm executions in a session of its
      // own, so its cold time includes every shared frame it needs
      val isolate = args.get("isolate").contains("1")

      // the per-session reader cache: file listing and footer schemas
      def readers(s: SparkSession): Unit = {
        for (t <- graft.Tables.starTables) graft.Tables.table(s, dir, t)
        graft.Tables.events(s, dir)
      }
      window("setup") {
        tr.span("cache.readers")(readers(spark))
        // warm passes: shared frames and codegen; an entry's first
        // execution is its cold time
        val w0 = nowS
        for (pass <- 1 to argInt("warm_passes"); (name, fn) <- entries
             if !failed.contains(name)) {
          val s = if (isolate) { val s = spark.newSession(); readers(s); s } else spark
          val t0 = nowS
          tr.span(s"warm.$name") {
            try noop(fn(s, dir))
            catch { case e: Throwable => failed(name) = s"warm: $e" }
          }
          if (pass == 1) cold(name) = nowS - t0
          if (isolate) spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
        }
        metric("cache.warm_pass_s", nowS - w0, "s")
      }
      metric("setup_s", sinceStartS, "s")
      liveHeapCheckpoint()
      if (tr.on) tr.settle() // planning times are matched to writes in order
      val storage = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
      metric("cache.rdds", storage.length, "count")
      metric("cache.persist_mb",
        storage.map(s => s.memSize + s.diskSize).sum / 1e6, "MB")

      val times = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
      val build = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
      val plan = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
      val live = entries.filterNot(e => failed.contains(e._1))
      var passes = 0
      window("timed") {
        val until = nowS + argInt("seconds")
        while (passes < argInt("min_passes") || (nowS < until && passes < 50)) {
          for ((name, fn) <- live if !failed.contains(name)) {
            val t0 = nowS
            try tr.span(s"query.$name") {
              val df = tr.span(s"build.$name")(fn(spark, dir))
              val t1 = nowS
              build.getOrElseUpdate(name, ArrayBuffer.empty) += t1 - t0
              val seen = tr.commands
              tr.span(s"exec.$name")(noop(df))
              times.getOrElseUpdate(name, ArrayBuffer.empty) += nowS - t0
              if (tr.on) plan.getOrElseUpdate(name, ArrayBuffer.empty) += tr.planSAfter(seen)
            } catch { case e: Throwable => failed(name) = s"timed: $e" }
          }
          passes += 1
        }
      }
      liveHeapCheckpoint()
      // correctness: one more execution of each entry after the timed
      // window, so a result reused across executions is checked too
      if (passes > 0) window("check") {
        for ((name, fn) <- live if !failed.contains(name)) tr.span(s"check.$name") {
          try { val (n, d) = digest(fn(spark, dir)); digests(name) = s"$n:$d" }
          catch { case e: Throwable => failed(name) = s"check: $e" }
        }
      }
      val med = times.collect { case (n, ts) if !failed.contains(n) => median(ts.toSeq) }.toSeq
      val all = times.collect { case (n, ts) if !failed.contains(n) => ts.toSeq }.flatten.toSeq
      val total = med.sum
      metric("query_total_s", total, "s")
      metric("throughput_per_s", med.size / math.max(total, 1e-9), "1/s")
      metric("query_p50_s", quantile(all, 0.5), "s")
      // p75 has nine samples beyond it at the least (12 entries, 3
      // passes); p90 is reported only where at least ten lie beyond it
      metric("query_p75_s", quantile(all, 0.75), "s")
      if (all.size >= 100) metric("query_p90_s", quantile(all, 0.9), "s")
      out("samples") = all.size
      out("passes") = passes
      out("digests") = digests
      out("failed_entries") = failed
      out("entry_median_s") = times.map { case (n, ts) => n -> median(ts.toSeq) }
      out("entry_cold_s") = cold

      if (tr.on) {
        tr.settle()
        // per entry: median build, and shuffle written per execution
        out("entry_layers") = live.map { case (n, _) =>
          val k = tr.total(s => s == s"query.$n")
          n -> Map("build_s" -> median(build.getOrElse(n, ArrayBuffer.empty[Double]).toSeq),
            "shuffle_mb" -> k.shuffleWrite / 1e6 / math.max(passes, 1))
        }.toMap
        val ex = tr.total(_.startsWith("exec."))
        val bd = tr.total(_.startsWith("build."))
        val execS = tr.dur(_.startsWith("exec.")).sum
        val planS = plan.values.flatten.sum
        val nP = passes.max(1).toDouble
        metric("query.build_s", build.values.flatten.sum / nP, "s")
        metric("query.plan_s", planS / nP, "s")
        metric("query.exec_s", (execS - planS) / nP, "s")
        metric("query.jobs", (ex.jobs + bd.jobs) / nP, "count")
        metric("query.stages", (ex.stages + bd.stages) / nP, "count")
        metric("query.tasks", (ex.tasks + bd.tasks) / nP, "count")
        metric("query.empty_task_ratio",
          (ex.emptyTasks + bd.emptyTasks).toDouble / math.max(ex.tasks + bd.tasks, 1), "ratio")
        val runS = (ex.runMs + bd.runMs) / 1e3
        metric("query.executor_run_s", runS / nP, "s")
        metric("query.executor_cpu_s", (ex.cpuNs + bd.cpuNs) / 1e9 / nP, "s")
        metric("query.idle_core_s",
          (cores * tr.dur(_.startsWith("query.")).sum - runS) / nP, "s")
        metric("query.shuffle_write_mb", (ex.shuffleWrite + bd.shuffleWrite) / 1e6 / nP, "MB")
        metric("query.spill_mb", (ex.spill + bd.spill) / 1e6 / nP, "MB")
        metric("query.gc_s", (ex.gcMs + bd.gcMs) / 1e3 / nP, "s")
        metric("query.input_mb", (ex.input + bd.input) / 1e6 / nP, "MB")
      }
    }
  }
}
