package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** F3 — roster allow-list gate (SURVEY §2.3): drop events whose
  * agentId is not in the ring-group member set; deliberately
  * FAIL-OPEN — when the roster is unavailable, pass everything
  * through (the reference warns and continues,
  * `src/workflows/ingest/orchestrator.ts:59-62`). The availability-
  * over-correctness tradeoff is part of the contract (SURVEY §7 d).
  *
  * Scale: the roster is a small dim → broadcast left-semi, no shuffle
  * of the fact side. The build side is NOT deduplicated: a left-semi
  * join admits each probe row at most once whatever duplicates the
  * roster holds, and a `distinct()` there costs a shuffle job every
  * time the plan runs — on every micro-batch of a stream, which
  * re-plans its static side per batch.
  */
object RosterGate {
  def apply(events: DataFrame, roster: Option[DataFrame]): DataFrame =
    roster match {
      case Some(r) =>
        val ids = r.select(col("id").cast("string").as("agentId"))
        events.join(broadcast(ids), Seq("agentId"), "left_semi")
      case None => events // fail-open
    }
}
