package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.etl.PushSink
import graft.streaming.{HttpEnvelopeRelay, StreamingIngest}

/** Push times of every row a [[RecordingPusher]] received, by EventID.
  * In local mode the executors share this JVM, so the pusher's
  * deserialized copies all record here. */
object Recorder {
  val pushedAt = new ConcurrentHashMap[String, java.lang.Long]()
  val repeats = new AtomicLong(0)

  def record(eventId: String, micros: Long): Unit =
    if (pushedAt.putIfAbsent(eventId, micros) != null) repeats.incrementAndGet()
}

/** In-JVM `RowPusher`: records each row's EventID and when it arrived. */
final class RecordingPusher extends PushSink.RowPusher {
  def push(table: String, chunk: Seq[String]): Unit = {
    val now = IngestWorkload.nowMicros()
    chunk.foreach(row => Recorder.record(IngestWorkload.eventIdOf(row), now))
  }
}

/** Webhook envelopes through `StreamingIngest.transform` over
  * `HttpEnvelopeRelay.spoolSource`, with `PushSink.pushBatch` as the
  * sink, on the RocksDB state store. Phase 1 drains a backlog already
  * in the spool; phase 2 is an open loop: one generator thread lands
  * one spool file per tick at a fixed offered rate. */
object IngestWorkload {
  val BacklogFiles = 20
  val TickMs = 100
  val PerTick = 200 // 2,000 envelopes/s, well under drain capacity
  val MinPhase2Ms = 8000
  /** A phase-2 run whose generator fell further behind its schedule
    * than this is invalid: its freshness readings would include the
    * generator's own stall. */
  val MaxLagMs = 500

  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def eventIdOf(row: String): String = {
    val k = "\"EventID\":\""
    val a = row.indexOf(k) + k.length
    row.substring(a, row.indexOf('"', a))
  }


  /** Seeded envelope generator over key-offset replicas of the sf
    * `events` table. Keeps the EventIDs it expects admitted, with the
    * scheduled receive time of each, and a count per drop cause. */
  final class Generator(rows: Array[(Long, Long, String)], maxId: Long, seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val start = rnd.nextInt(rows.length)
    private var next = 0L
    private var delivery = 0L
    private val admittedBodies = mutable.ArrayBuffer.empty[(String, String)]
    val expected = mutable.LinkedHashMap.empty[String, Long]
    val drops = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var generated = 0L

    private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

    private def envelope(source: String, body: String, stampMicros: Long): String = {
      delivery += 1
      generated += 1
      s"""{"source":"$source","headers":{"x-delivery-id":"dlv-$delivery"},"body":"${esc(body)}","receivedAtMicros":$stampMicros}"""
    }

    /** The next envelope, stamped with its scheduled receive time. */
    def nextLine(stampMicros: Long): String = {
      val r = rnd.nextDouble()
      if (r < 0.06 && admittedBodies.nonEmpty) {
        val (source, body) = admittedBodies(rnd.nextInt(admittedBodies.size))
        drops("duplicate") += 1
        return envelope(source, body, stampMicros)
      }
      val i = (start + next) % rows.length
      val id = rows(i.toInt)._1 + (1 + (start + next) / rows.length) * (maxId + 1)
      next += 1
      val (_, user, created) = rows(i.toInt)
      def aloware(event: String, owner: Long) =
        s"""{"event":"$event","body":{"id":$id,"owner_id":$owner,"created_at":"$created"}}"""
      val (source, body, cause) =
        if (r < 0.10) ("ALOWARE", aloware("inbound_call", user), Some("inbound"))
        else if (r < 0.14) ("ALOWARE", aloware("outbound_voicemail", user), Some("unknown_event"))
        else if (r < 0.18) ("ALOWARE", aloware("outbound_call", user + 1000000000L), Some("off_roster"))
        else if (r < 0.30)
          ("HUBSPOT", s"""{"event":"${if (r < 0.24) "email_sent" else "case_created"}","body":{"id":$id}}""", None)
        else ("ALOWARE", aloware(if (r < 0.65) "outbound_call" else "outbound_text", user), None)
      cause match {
        case Some(c) => drops(c) += 1
        case None =>
          expected(s"$source:$id") = stampMicros
          admittedBodies += ((source, body))
      }
      envelope(source, body, stampMicros)
    }
  }

  /** Writes lines as one spool file the way the relay does: under a
    * dot-hidden name the file source skips, then an atomic rename. */
  def land(spool: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = spool.resolve("." + name + ".tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, spool.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Map[String, Double])

  def run(spark: SparkSession, sf: String, seed: Long, seconds: Int,
      work: Path, trace: Option[Trace], spansPath: Path, spanCap: Int): Result = {
    val events = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        org.apache.spark.sql.functions.date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val maxId = events.map(_._1).max
    val roster = spark.createDataFrame(
      (events.map(_._2.toString).distinct :+ "unknown@hubspot").toSeq.map(Tuple1(_)))
      .toDF("id")
    val gen = new Generator(events, maxId, seed)
    val spool = Files.createDirectories(work.resolve("spool"))

    // phase 1 backlog: one key-offset replica of events, already on disk
    val backlogStamp = nowMicros()
    val backlog = Seq.fill(events.length)(gen.nextLine(backlogStamp))
    backlog.grouped(math.ceil(backlog.size.toDouble / BacklogFiles).toInt)
      .zipWithIndex.foreach { case (ls, k) => land(spool, f"backlog-$k%03d.json", ls) }
    val phase1Expected = gen.expected.keySet.toSet

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = trace.map { _ =>
      val l = new StreamingQueryListener {
        import StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = { progress.add(e.progress); () }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(l)
      l
    }
    val pushSpans = new ConcurrentHashMap[Long, (Long, Long)]()
    val pusher = new RecordingPusher
    val facts = StreamingIngest.transform(
      HttpEnvelopeRelay.spoolSource(spark, spool.toString), Some(roster))
    val startMs = System.currentTimeMillis()
    val q = facts.writeStream
      .outputMode("append")
      .option("checkpointLocation", work.resolve("checkpoint").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = System.currentTimeMillis()
        PushSink.pushBatch(batch, pusher)
        pushSpans.put(id, (t0, System.currentTimeMillis()))
        ()
      }
      .start()

    val landed = mutable.ArrayBuffer.empty[(Long, Long)] // (due, landed) ms per phase-2 file
    var maxLagMs = 0L
    try {
      // phase 1 ends when the last admitted backlog row reaches the sink
      while (Recorder.pushedAt.size < phase1Expected.size) {
        if (q.exception.isDefined) throw q.exception.get
        Thread.sleep(20)
      }
      val phase1End = Recorder.pushedAt.values.asScala.map(_.longValue).max / 1000
      val phase2Ms = math.max(MinPhase2Ms.toLong, seconds * 1000L)

      // phase 2: the open-loop generator, on its own thread. As on the
      // query path, the JIT is still compiling through the first batches,
      // so only the second half of phase 2 is measured.
      val phase2Start = System.currentTimeMillis()
      val steadyFrom = phase2Start + phase2Ms / 2
      val genThread = new Thread(() => {
        val t0 = phase2Start
        var k = 0L
        while (k * TickMs < phase2Ms) {
          val due = t0 + k * TickMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          land(spool, f"tick-$k%06d.json", Seq.fill(PerTick)(gen.nextLine(due * 1000)))
          val at = System.currentTimeMillis()
          landed += ((due, at))
          maxLagMs = math.max(maxLagMs, at - due)
          k += 1
        }
      }, "graftbench-generator")
      genThread.start()
      genThread.join()
      q.processAllAvailable()

      val all = q.recentProgress.toSeq
      val phase2 = all.filter(p => p.numInputRows > 0 &&
        java.time.Instant.parse(p.timestamp).toEpochMilli >= steadyFrom)
      val admitted = Recorder.pushedAt.size.toLong
      val expected = gen.expected
      val missing = expected.keysIterator.count(k => !Recorder.pushedAt.containsKey(k))
      val unexpected = Recorder.pushedAt.keySet.asScala.count(k => !expected.contains(k))
      val repeats = Recorder.repeats.get()
      // every envelope landed is either dropped for its cause or admitted
      val conserved = gen.generated == gen.drops.values.sum + admitted
      val failed = missing + unexpected + repeats + (if (conserved) 0 else 1)
      if (failed > 0)
        System.err.println(s"INGEST GATE: missing=$missing unexpected=$unexpected " +
          s"pushed-twice=$repeats input=${gen.generated} drops=${gen.drops.toMap} " +
          s"admitted=$admitted")
      if (maxLagMs > MaxLagMs)
        throw new IllegalStateException(s"phase 2 invalid: the generator ran " +
          s"$maxLagMs ms behind its schedule (limit $MaxLagMs ms)")

      // (scheduled stamp, push time) in ms of each admitted phase-2 row
      val phase2Stamps = expected.iterator.filterNot(e => phase1Expected(e._1))
        .flatMap { case (k, due) =>
          Option(Recorder.pushedAt.get(k)).map(at => (due / 1000, at.longValue / 1000))
        }.toSeq
      val fresh = phase2Stamps.collect { case (due, at) if due >= steadyFrom => (at - due) / 1e3 }
      require(Stats.tailQuantile(fresh.size).contains(0.99),
        s"${fresh.size} phase-2 freshness samples cannot support a p99")
      val e2e = Map(
        "cold_pass_s" -> (phase1End - startMs) / 1e3,
        "warm_pass_s" -> Stats.median(phase2.map(_.durationMs.get("triggerExecution") / 1e3)),
        "latency_p50_s" -> Stats.median(fresh),
        "etl.freshness_p99_s" -> Stats.quantile(fresh, 0.99))
      val layerMetrics = trace.map { tr =>
        org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
        layers(tr, phase2, progress.asScala.toSeq, pushSpans, landed.toSeq, phase2Stamps,
          all, gen.generated, admitted, maxLagMs, spark.sparkContext.defaultParallelism,
          spansPath, spanCap)
      }.getOrElse(Map.empty)
      Result(failed == 0, gen.generated, failed, e2e ++ layerMetrics)
    } finally {
      q.stop()
      listener.foreach(spark.streams.removeListener)
    }
  }

  private def layers(tr: Trace, phase2: Seq[StreamingQueryProgress],
      heard: Seq[StreamingQueryProgress], pushSpans: ConcurrentHashMap[Long, (Long, Long)],
      landed: Seq[(Long, Long)], phase2Stamps: Seq[(Long, Long)],
      all: Seq[StreamingQueryProgress],
      input: Long, admitted: Long, maxLagMs: Long, cores: Int,
      spansPath: Path, spanCap: Int): Map[String, Double] = {
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def med(f: StreamingQueryProgress => Double) = Stats.median(phase2.map(f))
    def start(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli
    def end(p: StreamingQueryProgress) = start(p) + p.durationMs.get("triggerExecution")
    val spark = phase2.map(p => tr.layers(start(p), end(p)))
    def sm(f: Trace.SparkLayers => Double) = Stats.median(spark.map(f))
    // files landed whose rows had not reached the sink, at each phase-2
    // batch end; a file's rows share its scheduled stamp
    val pushedByFile = phase2Stamps.groupBy(_._1).map { case (due, ps) => due -> ps.map(_._2).max }
    val backlogFiles = phase2.map { p =>
      landed.count { case (due, at) => at <= end(p) && pushedByFile.getOrElse(due, Long.MaxValue) > end(p) }
    }
    // spans: one id per micro-batch; engine phases laid out in the
    // order the micro-batch runs them, with the measured push inside
    tr.span(Trace.Span("stream", "stream", heard.map(start).min, heard.map(end).max, ""))
    heard.foreach { p =>
      val id = s"b${p.batchId}"
      tr.span(Trace.Span(id, "micro-batch", start(p), end(p), "stream/stream"))
      var at = start(p)
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val ms = d(p, k).toLong
          tr.span(Trace.Span(id, k, at, at + ms, s"$id/micro-batch"))
          at += ms
        }
      Option(pushSpans.get(p.batchId)).foreach { case (a, b) =>
        tr.span(Trace.Span(id, "PushSink.pushBatch", a, b, s"$id/addBatch")) }
    }
    tr.writeSpans(spansPath, spanCap, j =>
      heard.find(p => j.start >= start(p) && j.start <= end(p)) match {
        case Some(p) => (s"b${p.batchId}", s"b${p.batchId}/micro-batch")
        case None => ("-", "")
      })
    val last = all.maxBy(_.batchId)
    Map(
      "streaming.source_ms" -> med(p => d(p, "latestOffset") + d(p, "getBatch")),
      "streaming.plan_ms" -> med(d(_, "queryPlanning")),
      "streaming.commit_ms" -> med(p => d(p, "walCommit") + d(p, "commitOffsets")),
      "streaming.state_commit_ms" -> med(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "streaming.add_batch_ms" -> med(d(_, "addBatch")),
      "streaming.state_update_ms" -> med(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble),
      "streaming.rows_per_batch" -> med(_.numInputRows.toDouble),
      "streaming.state_rows" -> last.stateOperators.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_bytes" -> last.stateOperators.map(_.memoryUsedBytes).sum.toDouble,
      "etl.push_s" -> Stats.median(phase2.flatMap(p =>
        Option(pushSpans.get(p.batchId)).map { case (a, b) => (b - a) / 1e3 })),
      "etl.admit_ratio" -> admitted.toDouble / input,
      "gen.lag_s" -> maxLagMs / 1e3,
      "gen.backlog_files" -> backlogFiles.max.toDouble,
      "spark.jobs" -> sm(_.jobs), "spark.stages" -> sm(_.stages), "spark.tasks" -> sm(_.tasks),
      "spark.job_wall_s" -> sm(_.jobWallMs / 1e3),
      "spark.driver_gap_s" -> Stats.median(phase2.zip(spark).map { case (p, l) =>
        (end(p) - start(p) - l.jobWallMs) / 1e3 }),
      "spark.task_run_s" -> sm(_.taskRunMs / 1e3),
      "spark.task_cpu_s" -> sm(_.taskCpuNs / 1e9),
      "spark.gc_s" -> sm(_.gcMs / 1e3),
      "spark.busy_frac" -> sm(l => if (l.jobWallMs > 0) l.taskRunMs.toDouble / (cores * l.jobWallMs) else 0.0),
      "Tables.input_bytes" -> sm(_.inputBytes.toDouble),
      "Tables.records_read" -> sm(_.recordsRead.toDouble),
      "spark.shuffle_write_bytes" -> sm(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> sm(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> sm(_.spill.toDouble))
  }
}
