package graft.etl

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.SparkSpec

class RosterGateSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("a roster listing each id three times admits the same rows, each once, " +
      "and its broadcast build side never shuffles") {
    val events = Seq(("101", 1), ("102", 2), ("102", 3), ("999", 4)).toDF("agentId", "n")
    val once = RosterGate(events, Some(Seq(101, 102).toDF("id")))
    val thrice = RosterGate(events, Some(Seq(101, 102, 101, 102, 102, 101).toDF("id")))
    val got = thrice.as[(String, Int)].collect()
    got.map(_._2).sorted shouldBe Array(1, 2, 3)
    got should contain theSameElementsAs once.as[(String, Int)].collect()

    val builds = collect(thrice.queryExecution.executedPlan) {
      case b: BroadcastExchangeLike => b
    }
    builds should not be empty
    builds.flatMap(b => collect(b) { case s: ShuffleExchangeLike => s }) shouldBe empty
  }
}
