package cdcbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.cdc._
import graft.sinks.MockKafkaBroker
import graft.sources.EventSource
import graft.streaming.Pipeline

/** JVM side of one benchmark run over a feed that `gen.py` publishes into
  * the run directory. Phases, on one stream and one checkpoint:
  *
  *   set-up    SparkSession, dictionary, sink, stream start and the warm-up
  *             batch, repeated once per set-up feed the generator made
  *             (fresh session each time); the last one carries on
  *   drain     the generator publishes the backlog at once; the events the
  *             stream completes per second, over the drain batches but the
  *             first two and the last
  *   replay    `Pipeline.batch` over a copy of the whole feed into the same
  *             kind of sink, once: the timed pass is also the reference
  *             output
  *   nominal   the generator publishes at the nominal rate; commit-to-emit
  *             latency is measured from each commit's due time to the sink
  *             confirm of its messages
  *
  * The per-batch cost keeps falling for the first ~45 s of a JVM's life
  * (JIT warm-up). The nominal phase, whose small batches are the most
  * sensitive to it, comes last, after the drain and the replay.
  *
  * Micro-batch progress comes from the query's `recentProgress` in both
  * modes. With `--trace 1` a SparkListener is attached, spans are kept, a
  * staged replay times each layer on a localCheckpointed input, and the same
  * drain and staged replay run again on local[1]. Results go to
  * `result.json` in the run directory.
  */
object Main {

  final case class Opts(workload: String, runDir: String, trace: Boolean,
      cores: Int)

  /** Share of the nominal phase before latency is sampled: the stream
    * starts the phase idle, and the batches after the first carry what
    * arrived meanwhile; they settle within ~5 s, so only the steady rest
    * is sampled. */
  val LeadIn = 0.3

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("run-dir"), m.getOrElse("trace", "0") == "1",
      m("cores").toInt)
  }

  /** One delivered batch as the benchmark's sink function saw it: when
    * its write started (rows collected) and ended (confirmed). */
  final case class SinkRec(batchId: Long, writeStart: Long, end: Long,
      c: Confirmed)

  /** A live set-up: session, stream, sink and what the sink recorded. */
  final class Ctx(val spark: SparkSession, val query: StreamingQuery,
      val out: Out, val broker: Option[MockKafkaBroker],
      val sinkRecs: ArrayBuffer[SinkRec], val jobs: Option[JobListener]) {
    def stop(): Unit = {
      query.stop()
      out.close()
      broker.foreach(_.close())
      spark.stop()
    }
  }

  /** Phase log line (stderr goes to the run's jvm.log). */
  def log(msg: String): Unit =
    System.err.println(s"cdcbench ${java.time.Instant.now()} $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def waitFor(path: String, timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!Files.exists(Paths.get(path))) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"timed out waiting for $path")
      Thread.sleep(5)
    }
  }

  private def readJson(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))

  /** The generator's table shapes as a dictionary (pk-tagged tables). */
  def dictionary(path: String): Dictionary = {
    val tabs = readJson(path).elements().asScala.map { t =>
      val cols = t.get("columns").elements().asScala.map { c =>
        DbColumn(c.get("name").asText, c.get("type").asInt,
          numPk = c.get("pk").asInt)
      }.toSeq
      DbTable(t.get("obj").asLong, t.get("obj").asLong, t.get("owner").asText,
        t.get("name").asText, cols, tagType = "pk")
    }.toSeq
    Dictionary(tabs)
  }

  def session(cores: Int, rd: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$rd/warehouse")
      .config("spark.local.dir", s"$rd/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def config(feed: String, dict: Dictionary, proto: Boolean): Pipeline.Config =
    Pipeline.Config(Pipeline.SourceConfig(feed), dict,
      wireFormat = if (proto) "proto" else "json")

  /** Set up a session, sink and stream over `feed`, and process the files
    * already there (the warm-up batch). */
  def start(o: Opts, cores: Int, tag: String, feed: String, dict: Dictionary,
      proto: Boolean): Ctx = {
    val rd = o.runDir
    val spark = session(cores, rd)
    val jobs = if (o.trace) Some(new JobListener) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val broker = if (proto) Some(new MockKafkaBroker()) else None
    val out: Out = broker match {
      case Some(b) => new Out.Kafka(b, s"cdc-$tag")
      case None => new Out.File(s"$rd/out-$tag")
    }
    val recs = ArrayBuffer.empty[SinkRec]
    val q = Pipeline.streamWithEvolution(spark, config(feed, dict, proto),
        s"$rd/dict-$tag", s"$rd/ckpt-$tag") { (df: DataFrame, batchId: Long) =>
      val rows = Out.sorted(df.collect())
      val t1 = Out.nowNs()
      val c = out.write(rows)
      recs.synchronized { recs += SinkRec(batchId, t1, Out.nowNs(), c) }
    }
    q.processAllAvailable()
    new Ctx(spark, q, out, broker, recs, jobs)
  }

  /** (lost, duplicated, mismatched) of `got` against `expected`. */
  def compare(expected: Seq[Delivered], got: Seq[Delivered]): (Long, Long, Long) = {
    def byPos(xs: Seq[Delivered]) = xs.groupBy(d => (d.cScn, d.cIdx))
    val e = byPos(expected)
    val g = byPos(got)
    var lost, dup, mis = 0L
    (e.keySet ++ g.keySet).foreach { k =>
      val es = e.getOrElse(k, Nil)
      val gs = g.getOrElse(k, Nil)
      if (gs.length < es.length) lost += es.length - gs.length
      if (gs.length > es.length) dup += gs.length - es.length
      val ed = es.map(d => (d.d0, d.d1)).sorted
      val gd = gs.map(d => (d.d0, d.d1)).sorted
      mis += ed.zip(gd).count { case (a, b) => a != b }
    }
    (lost, dup, mis)
  }

  final case class Batch(id: Long, start: Long, end: Long, rows: Long,
      p: StreamingQueryProgress)

  def batches(q: StreamingQuery): Vector[Batch] =
    q.recentProgress.toVector.filter(_.numInputRows > 0).map { p =>
      val st = java.time.Instant.parse(p.timestamp)
      val s = st.getEpochSecond * 1000000000L + st.getNano
      val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      Batch(p.batchId, s, s + d * 1000000L, p.numInputRows, p)
    }.sortBy(_.id)

  /** Events completed per second while the backlog stands: over the drain
    * batches but the first two and the last. The first starts while the
    * backlog is still being published, the second is the first full batch
    * after set-up and the slowest while the JIT warms up, and the last
    * drains what is left. Time runs from the end of the second to the end
    * of the last counted batch. `skip` sets how many leading batches are
    * left out. */
  def sustained(drain: Vector[Batch], skip: Int = 2): Double =
    if (drain.length < skip + 2) Double.NaN
    else drain.slice(skip, drain.length - 1).map(_.rows).sum /
      ((drain(drain.length - 2).end - drain(skip - 1).end) / 1e9)

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  /** Replay through `Pipeline.batch` into `out`; returns seconds. */
  def replay(spark: SparkSession, cfg: Pipeline.Config, out: Out): Double = {
    val t = Out.nowNs()
    out.write(Out.sorted(Pipeline.batch(spark, cfg).collect()))
    (Out.nowNs() - t) / 1e9
  }

  /** Staged replay: each layer on a localCheckpointed input, one span per
    * layer; returns per-layer busy seconds and counts. */
  def staged(spark: SparkSession, cfg: Pipeline.Config, out: Out,
      trace: Trace, parent: Long): (Map[String, Double], Map[String, Long], Long) = {
    implicit val s: SparkSession = spark
    val busy = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def stage[T](name: String)(f: => T): T = {
      val (r, id) = trace.span(s"stage.$name", parent)(_ => f)
      busy(name) = trace.spans.asScala.find(_.id == id).get.dur / 1e9
      r
    }
    val src = stage("source") {
      EventSource.batchJson(spark, cfg.source.path).localCheckpoint(true)
    }
    val asm = stage("assembly") {
      TxnAssembly.assembleBatch(src, cfg.assembly).localCheckpoint(true)
    }
    val mat = stage("materialize") {
      Materialize(asm, cfg.dict, cfg.materialize).localCheckpoint(true)
    }
    val env = stage("envelope") {
      (if (cfg.wireFormat == "proto")
        ProtoEnvelope.toMessages(mat).select(col("key"),
          col("value_bin").as("value"), col("cScn").as("c_scn"),
          col("cIdx").as("c_idx"))
      else Envelope.forSink(Envelope.toMessages(mat, cfg.envelope)))
        .localCheckpoint(true)
    }
    val c = stage("sink") { out.write(Out.sorted(env.collect())) }
    val counts = Map("source" -> src.count(), "assembly" -> asm.count(),
      "materialize" -> mat.count(), "envelope" -> env.count())
    (busy.toMap, counts, c.bytes)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val rd = o.runDir
    val proto = o.workload == "cdc_straddle"
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime * 1000000L
    val trace = new Trace(Paths.get(rd).getFileName.toString)
    val runSpan = trace.nextId()
    // the first set-up's session starts while the generator builds the
    // feed; only the time spent waiting for the feed leaves set-up time
    session(o.cores, rd)
    val w0 = Out.nowNs()
    waitFor(s"$rd/gen_ready", 120)
    val genWait = Out.nowNs() - w0
    val genReady = readJson(s"$rd/gen_ready")
    val setups = genReady.get("setups").asInt
    val nominalS = genReady.get("nominal_s").asDouble
    val dict = dictionary(s"$rd/dict.json")

    // ---- set-up, repeated; the last set-up carries on into the run ----
    val setupS = ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    (0 until setups).foreach { i =>
      if (ctx != null) ctx.stop()
      val st = if (i == 0) jvmStart + genWait else Out.nowNs()
      ctx = start(o, o.cores, s"s$i", s"$rd/feed$i", dict, proto)
      val en = Out.nowNs()
      trace.add("setup", st, en, runSpan)
      setupS += (en - st) / 1e9
      log(s"setup $i ${setupS.last} s")
    }
    val feed = s"$rd/feed${setups - 1}"
    val cfg = config(feed, dict, proto)
    val spark = ctx.spark
    val warmBatches = batches(ctx.query).map(_.id).toSet
    val warmRecs = ctx.sinkRecs.length

    // ---- drain: the generator publishes the backlog at once ----
    val drainStart = Out.nowNs()
    Files.writeString(Paths.get(s"$rd/drain"), "")
    waitFor(s"$rd/backlog_done", 60)
    ctx.query.processAllAvailable()
    log("backlog drained")

    // ---- replay of the whole feed (the generator wrote a copy of it to
    // replay/ before the run): one timed pass, also the reference for the
    // output check ----
    val replayCfg = config(s"$rd/replay", dict, proto)
    // its own broker, so clearing it between passes leaves the stream's
    // output alone
    val replayBroker = ctx.broker.map(_ => new MockKafkaBroker())
    val feedEvents = genReady.get("events").asLong
    val replayS = ArrayBuffer.empty[Double]
    var expected: Seq[Delivered] = Nil
    var attempted = 0L
    var lost, dup, mis = 0L
    def check(got: Seq[Delivered]): Unit = {
      val (l, d, m) = compare(expected, got)
      attempted += expected.length; lost += l; dup += d; mis += m
    }
    // one replay pass, checked against the reference; returns seconds
    def replayPass(tag: String): Double = {
      val out: Out = replayBroker match {
        case Some(b) => new Out.Kafka(b, tag)
        case None => new Out.File(s"$rd/$tag")
      }
      val (secs, _) = trace.span("replay", runSpan)(_ => replay(spark, replayCfg, out))
      log(s"$tag $secs s")
      out.close()
      val got = out.delivered()
      if (replayS.isEmpty) expected = got // the reference pass
      else check(got)
      replayBroker.foreach(_.log.clear())
      replayS += secs
      secs
    }
    val replayEps = feedEvents / replayPass("replay")

    // ---- nominal: the generator runs its schedule from t0 ----
    val t0 = Out.nowNs() + 100000000L
    Files.writeString(Paths.get(s"$rd/go.tmp"), t0.toString)
    Files.move(Paths.get(s"$rd/go.tmp"), Paths.get(s"$rd/go"))
    waitFor(s"$rd/gen_done.json", nominalS + 60)
    val gen = readJson(s"$rd/gen_done.json")
    log("generator done")
    ctx.query.processAllAvailable()
    val streamEnd = Out.nowNs()
    log("nominal phase through")
    ctx.query.stop()
    val streamSpan = trace.add("stream", drainStart, streamEnd, runSpan)

    val all = batches(ctx.query).filterNot(b => warmBatches.contains(b.id))
    val backlogStart = gen.get("backlog_start_ns").asLong
    val drain = all.filter(b => b.start >= backlogStart && b.start < t0)
    val sustainedEps = sustained(drain)

    // commit-to-emit latency over the commits due in the nominal phase
    // after its lead-in (see LeadIn)
    val nominalNs = (nominalS * 1e9).toLong
    val due = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    scala.io.Source.fromFile(s"$rd/due.tsv").getLines().foreach { l =>
      val a = l.split('\t')
      val off = a(1).toLong
      if (off >= (nominalNs * LeadIn).toLong && off < nominalNs) due.put(a(0).toLong, off)
    }
    // one sample per commit: due time to the confirm of its last message
    val recs = ctx.sinkRecs.drop(warmRecs).toVector
    val confirmedAt = scala.collection.mutable.HashMap.empty[Long, Long]
    var msgs = 0L
    recs.foreach(_.c.chunks.foreach { case (conf, scns) =>
      scns.foreach { s =>
        if (due.containsKey(s)) {
          msgs += 1
          confirmedAt(s) = confirmedAt.getOrElse(s, conf) max conf
        }
      }
    })
    val lat = confirmedAt.toVector.map { case (s, conf) =>
      (conf - (t0 + due.get(s))) / 1e6 }
    val streamDelivered = ctx.out.delivered()
    check(streamDelivered)

    val overheadPct = if (!o.trace) None else {
      // tracing overhead: after the reference pass, replays with the
      // SparkListener detached and attached in the order bare, traced,
      // traced, bare, so that warm-up over the passes favours neither side
      def pass(tag: String, traced: Boolean): Double = {
        if (!traced) ctx.jobs.foreach(spark.sparkContext.removeSparkListener)
        val eps = feedEvents / replayPass(tag)
        if (!traced) ctx.jobs.foreach(spark.sparkContext.addSparkListener)
        eps
      }
      val b0 = pass("bare0", traced = false)
      val traced = Seq(pass("traced0", traced = true), pass("traced1", traced = true))
      val bare = Seq(b0, pass("bare1", traced = false))
      log("untraced replays done")
      Some(100.0 * (median(bare) - median(traced)) / median(bare))
    }

    val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    m("sustained_eps") = sustainedEps
    val p99 = quantile(lat.toSeq, 0.99)
    m("latency_p50_ms") = quantile(lat.toSeq, 0.5)
    m("latency_p99_ms") = p99
    m("replay_eps") = replayEps
    m("setup_s") = median(setupS.toSeq)
    overheadPct.foreach(v => m("trace.overhead_replay_pct") = v)
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    info("latency_samples") = lat.length
    info("latency_msgs") = msgs
    info("latency_samples_beyond_p99") = lat.count(_ > p99)
    info("drain_batches") = drain.length
    info("nominal_end_s") = (streamEnd - t0) / 1e9
    // per batch: id, start (s after t0), triggerExecution ms, addBatch ms, rows
    info("batches") = all.map(b => Seq(b.id, (b.start - t0) / 1e9,
      (b.end - b.start) / 1e6,
      Option(b.p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L), b.rows))
    info("stream_batches") = all.length
    info("setup_runs_s") = setupS.toSeq
    info("setup_cold_s") = setupS.head
    info("replay_runs_s") = replayS.toSeq
    info("expected_msgs") = expected.length
    info("stream_msgs") = streamDelivered.length
    info("lost") = lost; info("duplicated") = dup; info("mismatched") = mis
    info("error_rate") = if (attempted == 0) Double.NaN
      else (lost + dup + mis).toDouble / attempted
    info("confirmed_position") = ctx.out.tracker.confirmed.map(_.toString).orNull

    log("checked")
    if (o.trace) {
      // set-up: the first from JVM start (cold), the rest in the warm JVM
      m("setup.cold_s") = setupS.head
      m("setup.warm_s") = median(setupS.drop(1).toSeq)
      traced(o, ctx, cfg, trace, runSpan, streamSpan, t0, gen, due, all, recs,
        m, info)
    }
    ctx.broker.foreach(_.close())
    replayBroker.foreach(_.close())
    spark.stop()
    m("peak_rss_mb") = peakRssMb()
    trace.spans.add(Span(runSpan, "run", jvmStart, Out.nowNs(), 0L))
    if (o.trace) trace.write(s"$rd/spans.jsonl")

    val contractErrors = genReady.get("n_contract_errors").asLong
    val failed = lost + dup + mis + contractErrors
    val correct = failed == 0 && attempted > 0 && expected.nonEmpty &&
      !sustainedEps.isNaN && lat.nonEmpty
    val res = Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> math.max(attempted, 1L),
      "failed" -> failed,
      "metrics" -> m.toMap,
      "info" -> info.toMap))
    Files.writeString(Paths.get(s"$rd/result.json"), res)
    println(res)
  }

  /** Per-layer numbers for the traced run. */
  def traced(o: Opts, ctx: Ctx, cfg: Pipeline.Config, trace: Trace,
      runSpan: Long, streamSpan: Long, t0: Long,
      gen: com.fasterxml.jackson.databind.JsonNode,
      due: java.util.HashMap[java.lang.Long, java.lang.Long], all: Vector[Batch],
      recs: Vector[SinkRec],
      m: scala.collection.mutable.LinkedHashMap[String, Any],
      info: scala.collection.mutable.LinkedHashMap[String, Any]): Unit = {
    val spark = ctx.spark
    def p50(xs: Seq[Double]) = quantile(xs, 0.5)
    def p99(xs: Seq[Double]) = quantile(xs, 0.99)
    val batchIds = all.map(_.id).toSet
    val streamJobs = ctx.jobs.get.snapshot.filter(_.batchId.exists(batchIds))
    // micro-batch spans, with their jobs and sink writes as children
    val batchSpan = all.map { b =>
      b.id -> trace.add("batch", b.start, b.end, streamSpan,
        Map("batch_id" -> b.id, "rows" -> b.rows))
    }.toMap
    streamJobs.foreach { j =>
      trace.add("job", j.start, j.end, batchSpan(j.batchId.get),
        Map("job_id" -> j.jobId, "task_s" -> j.taskS))
    }
    recs.filter(r => batchSpan.contains(r.batchId)).foreach { r =>
      trace.add("sink.write", r.writeStart, r.end, batchSpan(r.batchId),
        Map("msgs" -> r.c.msgs))
    }
    val byBatch = all.map(b => b.id -> b).toMap

    m("gen.events") = gen.get("events").asLong
    m("gen.late_ms_max") = gen.get("late_ms_max").asDouble

    // source: staged read below; lag = batch start - commit due, nominal
    val lag = for {
      r <- recs if byBatch.contains(r.batchId)
      (_, scns) <- r.c.chunks
      s <- scns.distinct.toSeq if due.containsKey(s)
    } yield (byBatch(r.batchId).start - (t0 + due.get(s).longValue)) / 1e6
    m("source.records_in") = all.map(_.rows).sum
    m("source.backlog_files") = gen.get("backlog_files").asLong
    m("source.lag_ms") = p50(lag)

    // micro-batch loop
    def dur(b: Batch, k: String): Double =
      Option(b.p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    m("batch.count") = all.length
    m("batch.duration_ms_p50") = p50(all.map(b => dur(b, "triggerExecution")))
    m("batch.duration_ms_p99") = p99(all.map(b => dur(b, "triggerExecution")))
    m("batch.overhead_ms") =
      p50(all.map(b => dur(b, "triggerExecution") - dur(b, "addBatch")))
    m("batch.jobs") = p50(all.map(b => streamJobs.count(_.batchId.contains(b.id)).toDouble))
    m("batch.rows") = p50(all.map(_.rows.toDouble))

    // assembly state, from the stateful operator's progress
    val ops = all.flatMap(_.p.stateOperators.toSeq)
    def custom(k: String): Double = ops.map(so =>
      Option(so.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val msgsOut = recs.map(_.c.msgs.toLong).sum
    m("assembly.state_rows_peak") =
      if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).max
    m("assembly.state_mb_peak") =
      if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max / 1e6
    m("assembly.state_commit_ms") = p50(all.map(b =>
      b.p.stateOperators.map(_.commitTimeMs.toDouble).sum))
    m("assembly.state_update_ms") = p50(all.map(b =>
      b.p.stateOperators.map(_.allUpdatesTimeMs.toDouble).sum))
    val written = custom("rocksdbBytesCopied")
    m("assembly.state_bytes_written") = written
    m("assembly.state_bytes_per_msg") =
      if (msgsOut == 0) Double.NaN else written / msgsOut
    info("state_custom_metrics") =
      ops.headOption.map(_.customMetrics.asScala.keys.toSeq.sorted).getOrElse(Nil)

    // sink, as the stream drove it
    m("sink.msgs") = msgsOut
    m("sink.bytes") = recs.map(_.c.bytes).sum
    m("sink.write_ms_p50") = p50(recs.map(r => (r.end - r.writeStart) / 1e6))
    m("sink.write_ms_p99") = p99(recs.map(r => (r.end - r.writeStart) / 1e6))
    m("sink.produce_requests") = recs.map(_.c.requests.toLong).sum
    m("sink.confirm_lag_ms") = p50(recs.filter(r => byBatch.contains(r.batchId))
      .map(r => (r.end - byBatch(r.batchId).start) / 1e6))

    // Spark engine, over the measured stream's jobs
    m("engine.task_s") = streamJobs.map(_.taskS).sum
    m("engine.gc_s") = streamJobs.map(_.gcS).sum
    m("engine.shuffle_bytes") = streamJobs.map(_.shuffleBytes).sum
    m("engine.spill_bytes") = streamJobs.map(_.spillBytes).sum

    // staged replay: every layer on a localCheckpointed input
    def stagedPass(tag: String, sp: SparkSession, jobs: JobListener): Map[String, Double] = {
      val out: Out = ctx.broker match {
        case Some(b) => new Out.Kafka(b, s"staged-$tag")
        case None => new Out.File(s"${o.runDir}/staged-$tag")
      }
      val before = jobs.snapshot.map(_.jobId).toSet
      val (res, _) = trace.span("staged", runSpan)(id => staged(sp, cfg, out, trace, id))
      val (busy, counts, envBytes) = res
      out.close()
      val got = out.delivered()
      ctx.broker.foreach(_.log.clear())
      info(s"staged_$tag.msgs") = got.length
      // attach each staged job to the layer span it ran in
      val layerSpans = trace.spans.asScala.filter(_.name.startsWith("stage.")).toVector
      val newJobs = jobs.snapshot.filterNot(j => before(j.jobId))
      newJobs.foreach { j =>
        layerSpans.find(s => j.start >= s.start && j.start <= s.end).foreach { s =>
          trace.add("stage.job", j.start, j.end, s.id, Map("job_id" -> j.jobId))
        }
      }
      if (tag == "n") {
        val inLayer = (l: String) => newJobs.filter(j => layerSpans.exists(s =>
          s.name == s"stage.$l" && j.start >= s.start && j.start <= s.end))
        m("source.bytes_read") = inLayer("source").map(_.inputBytes).sum
        m("source.read_s") = busy("source")
        m("assembly.events_in") = counts("source")
        m("assembly.msgs_out") = counts("assembly")
        m("assembly.busy_s") = busy("assembly")
        m("assembly.shuffle_bytes") = inLayer("assembly").map(_.shuffleBytes).sum
        m("materialize.rows_in") = counts("assembly")
        m("materialize.rows_out") = counts("materialize")
        m("materialize.busy_s") = busy("materialize")
        m("envelope.msgs") = counts("envelope")
        m("envelope.bytes") = envBytes
        m("envelope.busy_s") = busy("envelope")
        m("sink.busy_s") = busy("sink")
      }
      busy
    }
    stagedPass("n", spark, ctx.jobs.get)

    // single-core baseline: drain over the same feed, then staged replay
    ctx.broker.foreach(_.log.clear())
    spark.stop()
    val sp1 = session(1, o.runDir)
    val jobs1 = new JobListener
    sp1.sparkContext.addSparkListener(jobs1)
    val out1: Out = ctx.broker match {
      case Some(b) => new Out.Kafka(b, "base1")
      case None => new Out.File(s"${o.runDir}/out-base1")
    }
    val q1 = Pipeline.streamWithEvolution(sp1, cfg, s"${o.runDir}/dict-base1",
        s"${o.runDir}/ckpt-base1") { (df: DataFrame, _: Long) =>
      out1.write(Out.sorted(df.collect()))
    }
    val deadline = System.nanoTime() + 90L * 1000000000L
    while (batches(q1).length < 3 && System.nanoTime() < deadline &&
        q1.exception.isEmpty) Thread.sleep(20)
    q1.stop()
    out1.close()
    ctx.broker.foreach(_.log.clear())
    // the feed stands as a backlog from the start: batches 2 of 3
    m("baseline1.sustained_eps") = sustained(batches(q1).take(3), skip = 1)
    val busy1 = stagedPass("1", sp1, jobs1)
    m("baseline1.assembly_busy_s") = busy1("assembly")
    m("baseline1.materialize_busy_s") = busy1("materialize")
    m("baseline1.envelope_busy_s") = busy1("envelope")
    m("baseline1.source_read_s") = busy1("source")
    m("baseline1.sink_busy_s") = busy1("sink")
    val n = m("assembly.busy_s").asInstanceOf[Double]
    m("scale.assembly_x") = busy1("assembly") / n
    m("scale.staged_x") = busy1.values.sum /
      Seq("source.read_s", "assembly.busy_s", "materialize.busy_s",
        "envelope.busy_s", "sink.busy_s").map(k => m(k).asInstanceOf[Double]).sum
    sp1.stop()

    val self = trace.selfTimes
    self.toSeq.sortBy(_._1).foreach { case (k, v) => info(s"self.$k") = v }
    m("self.batch_s") = self.getOrElse("batch", 0.0)
    m("self.job_s") = self.getOrElse("job", 0.0)
    m("self.sink_write_s") = self.getOrElse("sink.write", 0.0)
  }
}
