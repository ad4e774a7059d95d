package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's two-stage deduplication (SURVEY §2.4).
  *
  * Scale notes: D1 is one shuffle on the dedup key (window w/
  * row_number — partial-agg-friendly); D2's batch form is a left-anti
  * shuffle join on the key (AQE picks broadcast when the ledger's
  * live slice is small); the sequential per-event ledger loop D3 of
  * the reference disappears — set semantics over a whole batch are
  * data-parallel and equivalent.
  */
object Dedup {

  /** D1 — within-batch first-wins dedup: exactly the reference's
    * order-preserving Set scan (`src/ingest/idempotency.ts:7-16`),
    * keyed by `key`, arrival order = `arrival` columns (ties broken
    * deterministically by all of them in sequence). */
  def withinBatchFirstWins(df: DataFrame, key: String, arrival: Column*): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(arrival: _*)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** D2 — cross-request idempotency ledger, batch-replay form: admit
    * only events whose `dedupKey` has no *live* ledger entry
    * (TTL-expired keys readmit, `docs/dynamodb_schema.md:28-32`).
    * Returns (admitted events, ledger delta to append). First-writer-
    * wins across a batch is guaranteed by deduping the batch first.
    *
    * @param nowEpochSec evaluation clock (injectable for tests)
    * @param ttlDays     ledger TTL, reference default 14
    */
  def ledgerDedup(
      events: DataFrame, ledger: DataFrame,
      nowEpochSec: Long, ttlDays: Int = 14): (DataFrame, DataFrame) = {
    val live = ledger.filter(col("expiresAt") > nowEpochSec)
      .select(col("pk").as("dedupKey"))
    val admitted = events.join(live, Seq("dedupKey"), "left_anti")
    val delta = admitted
      .select(col("dedupKey").as("pk"))
      .distinct()
      .withColumn("seenAt", timestamp_seconds(lit(nowEpochSec)))
      .withColumn("expiresAt", lit(nowEpochSec + ttlDays.toLong * 86400))
    (admitted, delta)
  }

  /** D2 — streaming form: watermarked state dedup, the idiomatic
    * Spark equivalent of the DynamoDB conditional put + TTL. State
    * for a key is dropped once the watermark passes its TTL window,
    * after which a late duplicate readmits — matching the reference's
    * accepted post-TTL-dupe semantics (SURVEY §2.9). */
  def streamingLedgerDedup(
      events: DataFrame, eventTimeCol: String = "receivedAt",
      ttlDays: Int = 14): DataFrame =
    events
      .withWatermark(eventTimeCol, s"$ttlDays days")
      .dropDuplicatesWithinWatermark(Seq("dedupKey"))
}
