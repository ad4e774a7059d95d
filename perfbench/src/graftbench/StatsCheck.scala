package graftbench

/** Tests of the benchmark's own helpers (`run.py --check`). Exits
  * non-zero on the first failure. */
object StatsCheck {
  private var checks = 0

  private def eq[A](what: String, got: A, want: A): Unit = {
    checks += 1
    if (got != want) {
      System.err.println(s"FAIL $what: got $got, want $want")
      sys.exit(1)
    }
  }

  def main(args: Array[String]): Unit = {
    // median: odd count takes the middle, even count the mean of the two middle
    eq("median odd", Stats.median(Seq(5.0, 1.0, 3.0)), 3.0)
    eq("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    eq("median one", Stats.median(Seq(7.0)), 7.0)
    eq("quantile p50 nearest rank", Stats.quantile((1 to 10).map(_.toDouble), 0.5), 5.0)
    eq("quantile p90 nearest rank", Stats.quantile((1 to 100).map(_.toDouble), 0.9), 90.0)

    // tail percentile: the highest ladder step with ten samples beyond it
    eq("beyond p90 of 100", Stats.beyond(100, 0.9), 10)
    eq("tail of 1000", Stats.tailQuantile(1000), Some(0.99))
    eq("tail of 999", Stats.tailQuantile(999), Some(0.95))
    eq("tail of 100", Stats.tailQuantile(100), Some(0.9))
    eq("tail of 99", Stats.tailQuantile(99), Some(0.8))
    eq("tail of 40", Stats.tailQuantile(40), Some(0.75))
    eq("tail of 39", Stats.tailQuantile(39), Some(0.5))
    eq("tail of 19", Stats.tailQuantile(19), None)

    // union of job intervals: overlaps and containment count once
    eq("union disjoint", Stats.unionLength(Seq((0L, 10L), (20L, 25L))), 15L)
    eq("union overlapping", Stats.unionLength(Seq((0L, 10L), (5L, 15L))), 15L)
    eq("union contained", Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))), 100L)
    eq("union touching", Stats.unionLength(Seq((10L, 20L), (0L, 10L))), 20L)
    eq("union unsorted chain", Stats.unionLength(Seq((50L, 60L), (0L, 5L), (3L, 52L))), 60L)
    eq("union empty interval", Stats.unionLength(Seq((5L, 5L))), 0L)
    eq("union none", Stats.unionLength(Nil), 0L)

    // module attribution from call-site strings, innermost frame first
    def site(frames: String*) = frames.mkString("\n")
    val collect = "org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)"
    eq("localize", Stats.module(site(collect,
      "graft.QueryPack$.localize(QueryPack.scala:70)",
      "graft.QueryPack$.$anonfun$localizePar$1(QueryPack.scala:88)",
      "scala.concurrent.Future$.$anonfun$apply$1(Future.scala:687)")),
      Some("QueryPack.localize"))
    eq("operator", Stats.module(site(
      "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:700)",
      "graft.operators.ConnectedComponents$.run(ConnectedComponents.scala:80)",
      "graft.queries.GraphQueries$.m4(GraphQueries.scala:300)")), Some("operators"))
    eq("registry wins over inner frames", Stats.module(site(collect,
      "graft.operators.ConnectedComponents$.run(ConnectedComponents.scala:80)",
      "graft.queries.GraphQueries$GraphArtifacts$.build(GraphQueries.scala:120)",
      "graft.ArtifactRegistry$Cell.get(ArtifactRegistry.scala:66)",
      "graft.ArtifactRegistry.get(ArtifactRegistry.scala:99)")), Some("ArtifactRegistry"))
    eq("query pack code", Stats.module(site(collect,
      "graft.queries.EventsQueries$.$anonfun$queries$5(EventsQueries.scala:900)")),
      Some("queries"))
    eq("top-level object", Stats.module(site(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:3600)",
      "graft.Tables$.apply(Tables.scala:37)")), Some("Tables"))
    eq("etl package", Stats.module(site(collect,
      "graft.etl.PushSink$.pushBatch(PushSink.scala:126)")), Some("etl"))
    eq("benchmark drain is not engine code", Stats.module(site(collect,
      "graftbench.QueryWorkload.drainHash(QueryWorkload.scala:27)")), None)
    eq("no graft frame", Stats.module(site(
      "org.apache.spark.sql.execution.exchange.BroadcastExchangeExec.doExecute")), None)
    eq("empty call site", Stats.module(""), None)

    println(s"StatsCheck: $checks checks passed")
  }
}
