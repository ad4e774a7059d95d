package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** A closed loop with one client over a fixed list of
  * `SparkEntry.queries`: one cold pass in the fresh session, then warm
  * passes for the run's seconds, of which those in the second half (at
  * least `minSteadyPasses`) are measured.
  * Every pass runs the list in its own seeded order, and every output
  * is checked against its pinned drain hash. */
final class QueryWorkload(val queries: Seq[String], minSteadyPasses: Int) {
  import QueryWorkload.Sample

  private var reported = 0

  /** Failure messages go to the log, at most 20 per run. */
  private def report(msg: String): Unit = {
    reported += 1
    if (reported <= 20) System.err.println(msg)
    else if (reported == 21) System.err.println("(further failures not listed)")
  }

  private def runOne(spark: SparkSession, sf: String, pass: Int, name: String,
      expected: Map[String, String], tracePlans: Boolean): Sample = {
    val fn = graft.SparkEntry.queries(name)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var buildEnd = start
    var buildNs = 0L
    try {
      val df = fn(spark, sf)
      buildNs = System.nanoTime() - t0
      buildEnd = System.currentTimeMillis()
      val (h, drained) = QueryWorkload.drainHash(df)
      val wallNs = System.nanoTime() - t0
      val end = System.currentTimeMillis()
      val planMs =
        if (!tracePlans) 0L
        else drained.queryExecution.tracker.phases.values
          .map(p => p.endTimeMs - p.startTimeMs).sum
      val ok = expected.get(name).contains(h)
      if (!ok) report(s"OUTPUT GATE: $name pass $pass hash $h, " +
        s"expected ${expected.getOrElse(name, "<none pinned>")}")
      Sample(pass, name, start, buildEnd, end, buildNs, wallNs, planMs,
        Some(h), !ok)
    } catch {
      case e: Exception =>
        report(s"QUERY FAILED: $name pass $pass: $e")
        Sample(pass, name, start, buildEnd, System.currentTimeMillis(),
          buildNs, System.nanoTime() - t0, 0L, None, failed = true)
    }
  }

  /** Runs the loop; pass 0 is the cold pass. */
  def run(spark: SparkSession, sf: String, seed: Long, seconds: Int,
      expected: Map[String, String], tracePlans: Boolean): Seq[Sample] = {
    val rnd = new scala.util.Random(seed)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val budgetNs = seconds * 1000000000L
    var warmStart = 0L
    var pass = 0
    var lastPassNs = 0L
    var steadyPasses = 0
    // Warm passes fill the run's seconds after the cold pass; none starts
    // once it would end past them. The JIT is still compiling through the
    // first warm passes (m4 falls from ~3.5 s to ~2.5 s over four), so
    // only passes starting in the second half count as steady.
    while (pass == 0 || steadyPasses < minSteadyPasses ||
        System.nanoTime() - warmStart + lastPassNs <= budgetNs) {
      val p0 = System.nanoTime()
      if (pass == 1) warmStart = p0
      val steady = pass > 0 && p0 - warmStart >= budgetNs / 2
      rnd.shuffle(queries).foreach { q =>
        samples += runOne(spark, sf, pass, q, expected, tracePlans).copy(steady = steady)
      }
      if (pass > 0) lastPassNs = System.nanoTime() - p0
      if (steady) steadyPasses += 1
      pass += 1
    }
    samples.toList
  }

  /** Queries whose output hash changed between passes of one run: a
    * determinism defect, whatever the pinned hash says. */
  def unstable(samples: Seq[Sample]): Map[String, Set[String]] =
    samples.groupBy(_.name).map { case (q, ss) => q -> ss.flatMap(_.hash).toSet }
      .filter(_._2.size > 1)

  /** End-to-end metrics of a finished loop. */
  def endToEnd(samples: Seq[Sample]): Map[String, Double] = {
    val warm = samples.filter(_.steady)
    val passWall = warm.groupBy(_.pass).values.map(_.map(_.wallNs).sum / 1e9).toSeq
    Map(
      "cold_pass_s" -> samples.filter(_.pass == 0).map(_.wallNs).sum / 1e9,
      "warm_pass_s" -> Stats.median(passWall),
      "latency_p50_s" -> Stats.median(warm.map(_.wallNs / 1e9)))
  }

  /** Per-layer metrics from the traced loop. The registry is charged on
    * the cold pass, where its builds run; every other layer is the
    * median over steady passes of that pass's total. */
  def layers(samples: Seq[Sample], tr: Trace, cores: Int): Map[String, Double] = {
    val jobs = tr.jobs
    def jobsIn(ss: Seq[Sample]) = jobs.filter(j => ss.exists(s => j.start >= s.start && j.start <= s.end))
    def buildJobs(ss: Seq[Sample]) = jobs.filter(j => ss.exists(s => j.start >= s.start && j.start <= s.buildEnd))
    def wall(js: Seq[Trace.Job]) = Stats.unionLength(js.map(j => (j.start, j.end))) / 1e3
    val cold = samples.filter(_.pass == 0)
    val registryCold = jobsIn(cold).filter(_.module.contains("ArtifactRegistry"))
    val perPass = samples.filter(_.steady).groupBy(_.pass).values.toSeq.map { ss =>
      val js = jobsIn(ss)
      val l = ss.map(s => tr.layers(s.start, s.end))
      val jobWall = l.map(_.jobWallMs).sum / 1e3
      val passWall = ss.map(_.wallNs).sum / 1e9
      val taskRun = l.map(_.taskRunMs).sum / 1e3
      def mod(m: String) = js.filter(_.module.contains(m))
      Map(
        "queries.build_s" -> ss.map(_.buildNs).sum / 1e9,
        "queries.build_jobs" -> buildJobs(ss).size.toDouble,
        "QueryPack.localize_jobs" -> mod("QueryPack.localize").size.toDouble,
        "QueryPack.localize_s" -> wall(mod("QueryPack.localize")),
        "operators.jobs" -> mod("operators").size.toDouble,
        "operators.job_s" -> wall(mod("operators")),
        "spark.plan_s" -> ss.map(_.planMs).sum / 1e3,
        "spark.jobs" -> l.map(_.jobs).sum.toDouble,
        "spark.stages" -> l.map(_.stages).sum.toDouble,
        "spark.tasks" -> l.map(_.tasks).sum.toDouble,
        "spark.job_wall_s" -> jobWall,
        "spark.driver_gap_s" -> (passWall - jobWall),
        "spark.task_run_s" -> taskRun,
        "spark.task_cpu_s" -> l.map(_.taskCpuNs).sum / 1e9,
        "spark.gc_s" -> l.map(_.gcMs).sum / 1e3,
        "spark.busy_frac" -> (if (jobWall > 0) taskRun / (cores * jobWall) else 0.0),
        "Tables.input_bytes" -> l.map(_.inputBytes).sum.toDouble,
        "Tables.records_read" -> l.map(_.recordsRead).sum.toDouble,
        "spark.shuffle_write_bytes" -> l.map(_.shuffleWrite).sum.toDouble,
        "spark.shuffle_read_bytes" -> l.map(_.shuffleRead).sum.toDouble,
        "spark.spill_bytes" -> l.map(_.spill).sum.toDouble)
    }
    val warmMedians = perPass.head.keys.map(k => k -> Stats.median(perPass.map(_(k)))).toMap
    warmMedians ++ Map(
      "ArtifactRegistry.build_jobs" -> registryCold.size.toDouble,
      "ArtifactRegistry.build_s" -> wall(registryCold))
  }

  /** Writes the traced loop's spans: one per pass, and one id per query
    * run with the run, its build and its drain, and the jobs of each. */
  def writeSpans(samples: Seq[Sample], tr: Trace, path: java.nio.file.Path, cap: Int): Unit = {
    def id(s: Sample) = s"p${s.pass}:${s.name}"
    samples.groupBy(_.pass).foreach { case (p, ss) =>
      tr.span(Trace.Span(s"p$p", "pass", ss.map(_.start).min, ss.map(_.end).max, ""))
    }
    samples.foreach { s =>
      tr.span(Trace.Span(id(s), "query", s.start, s.end, s"p${s.pass}/pass"))
      tr.span(Trace.Span(id(s), "build", s.start, s.buildEnd, s"${id(s)}/query"))
      tr.span(Trace.Span(id(s), "drain", s.buildEnd, s.end, s"${id(s)}/query"))
    }
    tr.writeSpans(path, cap, j =>
      samples.find(s => j.start >= s.start && j.start <= s.end) match {
        case Some(s) => (id(s), s"${id(s)}/${if (j.start <= s.buildEnd) "build" else "drain"}")
        case None => ("-", "")
      })
  }
}

object QueryWorkload {
  /** One query run: wall-clock bounds of its build (the query-pack
    * call) and of its drain, the drain's planning time, its output
    * hash, whether it failed, and whether its pass is measured. */
  final case class Sample(pass: Int, name: String, start: Long,
      buildEnd: Long, end: Long, buildNs: Long, wallNs: Long,
      planMs: Long, hash: Option[String], failed: Boolean, steady: Boolean = false)

  /** `Bench.drain`'s sink, keeping the value it computes: bit_xor of
    * xxhash64 over every output column. "null" for an empty output. */
  def drainHash(df: DataFrame): (String, DataFrame) = {
    val d = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(expr("bit_xor(h)"))
    val row = d.collect()(0)
    (if (row.isNullAt(0)) "null" else row.getLong(0).toString, d)
  }

  /** Curation queries whose warm time goes to per-job driver turnaround
    * (ConnectedComponents rounds) and whose cold time goes to
    * artifact-registry builds. */
  val curation = new QueryWorkload(Seq("m4_media_clusters"), 3)

  def all: Seq[String] = curation.queries

  def byName(name: String): QueryWorkload = name match {
    case "curation" => curation
    case other => sys.error(s"unknown workload $other")
  }
}
