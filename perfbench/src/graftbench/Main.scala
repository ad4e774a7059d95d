package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` starts it and times it from
  * outside; see README.md.
  *
  *   setup --workload W --work DIR
  *       build the workload's session, print the ready line, exit
  *   run --workload W --seed N --seconds S --trace 0|1 --data SF
  *       --work DIR --hashes FILE --out FILE
  *       build the session, print the ready line, run the workload,
  *       write its result as one JSON object to FILE
  *   queries
  *       print the query workloads' query names, comma-separated
  *   pin --verify DIR --out FILE --work DIR
  *       write the drain hash of each of those queries' outputs, as
  *       `graft.Verify` wrote them under DIR, to FILE (pin_hashes.py)
  *   check
  *       run the helper tests in StatsCheck */
object Main {
  val Ready = "GRAFTBENCH READY"

  /** Per-layer metrics a workload whose layers are not exercised by it
    * reports as 0, so every traced run reports the same names. */
  val LayerMetrics: Seq[String] = Seq(
    "queries.build_s", "queries.build_jobs",
    "QueryPack.localize_jobs", "QueryPack.localize_s",
    "operators.jobs", "operators.job_s",
    "ArtifactRegistry.build_jobs", "ArtifactRegistry.build_s",
    "spark.plan_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.job_wall_s", "spark.driver_gap_s", "spark.task_run_s",
    "spark.task_cpu_s", "spark.gc_s", "spark.busy_frac",
    "Tables.input_bytes", "Tables.records_read",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "streaming.source_ms", "streaming.plan_ms", "streaming.commit_ms",
    "streaming.state_commit_ms", "streaming.add_batch_ms",
    "streaming.state_update_ms", "streaming.rows_per_batch",
    "streaming.state_rows", "streaming.state_bytes",
    "etl.push_s", "etl.admit_ratio", "etl.freshness_p99_s",
    "gen.lag_s", "gen.backlog_files")

  /** End-to-end metrics the traced run repeats under a `traced.`
    * prefix; their difference from an untraced run is the tracing
    * overhead. */
  val TracedRepeats: Seq[String] = Seq("cold_pass_s", "warm_pass_s", "latency_p50_s")

  val SpanCap = 20000

  def main(args: Array[String]): Unit = {
    val opt = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("setup") =>
        session(opt("workload"), Paths.get(opt("work")))
        // the probe only times set-up; skip the orderly shutdown
        Runtime.getRuntime.halt(0)
      case Some("run") => run(opt)
      case Some("queries") => println(QueryWorkload.all.mkString(","))
      case Some("pin") => pin(opt)
      case Some("check") => StatsCheck.main(Array.empty)
      case _ => sys.error(s"usage: setup|run|queries|pin|check, got ${args.mkString(" ")}")
    }
    sys.exit(0)
  }

  def session(workload: String, work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    // run.py points SPARK_LOCAL_DIRS into the run's directory, which
    // overrides the session's spark.local.dir
    val b = graft.GraftSession.builder(cores.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (workload == "ingest")
      b.config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    println(Ready)
    System.out.flush()
    s
  }

  private def run(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val work = Paths.get(opt("work"))
    val traced = opt("trace") == "1"
    val (seed, seconds, sf) = (opt("seed").toLong, opt("seconds").toInt, opt("data"))
    val spark = session(workload, work)
    val trace = if (traced) Some(new Trace) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    val cores = spark.sparkContext.defaultParallelism

    val (correct, attempted, failed, measured) = workload match {
      case "ingest" =>
        val r = IngestWorkload.run(spark, sf, seed, seconds, work, trace,
          spansPath(opt), SpanCap)
        (r.correct, r.attempted, r.failed, r.metrics)
      case name =>
        val w = QueryWorkload.byName(name)
        val expected = Files.readAllLines(Paths.get(opt("hashes"))).asScala
          .map(_.split('\t')).collect { case Array(k, v) => k -> v }.toMap
        val samples = w.run(spark, sf, seed, seconds, expected, traced)
        w.unstable(samples).foreach { case (q, hs) =>
          System.err.println(s"DETERMINISM DEFECT: $q gave hashes ${hs.mkString(", ")}")
        }
        val failed = samples.count(_.failed).toLong
        val e2e = w.endToEnd(samples)
        val layers = trace.map { tr =>
          org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
          w.writeSpans(samples, tr, spansPath(opt), SpanCap)
          w.layers(samples, tr, cores)
        }.getOrElse(Map.empty)
        (failed == 0, samples.size.toLong, failed, e2e ++ layers)
    }
    val metrics = trace match {
      case None => measured.filter(kv => !LayerMetrics.contains(kv._1))
      case Some(_) =>
        LayerMetrics.map(k => k -> measured.getOrElse(k, 0.0)).toMap ++
          TracedRepeats.map(k => s"traced.$k" -> measured(k))
    }
    val json = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(opt("out")),
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$json}""")
    // run.py discards the run's directory; an orderly Spark shutdown
    // would only add seconds to every run
    Runtime.getRuntime.halt(0)
  }

  private def spansPath(opt: Map[String, String]): Path = Paths.get(opt("out") + ".spans.jsonl")

  private def pin(opt: Map[String, String]): Unit = {
    val verifyDir = opt("verify")
    val spark = session("pin", Paths.get(opt("work")))
    val lines = QueryWorkload.all.map { q =>
      s"$q\t${QueryWorkload.drainHash(spark.read.parquet(s"$verifyDir/$q"))._1}"
    }
    Files.write(Paths.get(opt("out")), lines.asJava)
    spark.stop()
  }
}
