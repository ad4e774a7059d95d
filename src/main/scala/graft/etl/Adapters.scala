package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.GraftExtensions

/** Source adapters: envelope DataFrame → normalized FactEvent rows.
  *
  * Pure column-expression pipelines (no UDFs except the native
  * `graft_date_key` Catalyst expression), so every predicate stays
  * inside WholeStageCodegen and Catalyst prunes the `from_json`
  * to the fields actually read (JsonExpressionOptimization).
  *
  * Faithful to the reference dataflow (SURVEY §2.2-2.3):
  * shape normalization P1, tz date key P2, timestamp coercion P3,
  * agent fallback chain P4, deterministic event id P5, notes P6,
  * dedup key P7, outbound filter F1, metric classification F2 with
  * unknown→drop, HubSpot scaffold + metric mapping P12, source
  * routing F4 as one pass that picks each row's adapter by source.
  */
object Adapters {

  /** HubSpot event-name → MetricID mapping (reference
    * `src/domain/mapping.ts`); Aloware names classify by pattern in
    * [[inferMetric]]. */
  val hubspotToMetric: Map[String, String] =
    Map("email_sent" -> "EMAILS", "case_created" -> "CASES")

  /** P1: pick a payload field across the three accepted envelope
    * shapes — `parsedBody.body.f` ?? `body.f` ?? bare `f`. */
  private def p(f: String): Column =
    coalesce(col(s"j.parsedBody.body.$f"), col(s"j.body.$f"), col(s"j.$f"))

  /** P3: ISO or "yyyy-MM-dd HH:mm:ss" (read as UTC; session tz is
    * UTC), null on garbage — ANSI-safe via try_to_timestamp. */
  private def parseCreatedAt(c: Column): Column =
    coalesce(
      try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss")))

  /** Provenance: the delivery id a webhook gateway stamps on each
    * attempt (reference threads the envelope `headers`
    * `Record<string,string>`, `src/domain/types.ts:5`). Header names
    * are case-insensitive per HTTP, so the lookup lowercases every
    * key (not just the common casings — X-DELIVERY-ID from a shouting
    * gateway must still dedupe). `get` (0-based, null-safe) instead of
    * `element_at` so a missing header is null, not an ANSI error. */
  private def headerCI(name: String): Column =
    get(filter(map_entries(col("headers")),
      e => lower(e.getField("key")) === lit(name)), lit(0)).getField("value")

  private def deliveryId: Column =
    coalesce(headerCI("x-delivery-id"), headerCI("x-request-id"))

  /** F1: outbound-only gate; name wins over the numeric direction,
    * default deny (reference `aloware.adapter.ts:35-43`). */
  def isOutbound(name: Column, direction: Column): Column =
    when(name.rlike("outbound|outgoing"), lit(true))
      .when(name.contains("inbound"), lit(false))
      .when(direction === 2, lit(true))
      .otherwise(lit(false))

  /** F2: TEXTS/CALLS classification; unknown stays null and the row
    * is dropped — "no misclassification" (`aloware.adapter.ts:45-52`). */
  def inferMetric(name: Column, tpe: Column): Column =
    when(name.rlike("text|sms"), lit("TEXTS"))
      .when(name.contains("call"), lit("CALLS"))
      .when(tpe === 2, lit("TEXTS"))
      .when(tpe === 1, lit("CALLS"))
      .otherwise(lit(null).cast("string"))

  /** One source's adapter as expressions over the parsed body `j`,
    * the lowered event `name` and the source's own `metricId`:
    * `keep` gates the rows, the rest are the FactEvent columns. */
  private final case class SourceCols(
      metricId: Column, keep: Column, eventId: Column, agentId: Column,
      factDateKey: Column, notes: Column)

  /** Aloware webhook → FactEvent rows (≤1 per envelope). */
  private val alowareCols: SourceCols = {
    val tzRaw = p("contact").getField("timezone")
    val eventTime = coalesce(parseCreatedAt(p("created_at")), col("receivedAt"))
    val agentId = coalesce(p("owner_id").cast("string"),
      p("user_id").cast("string"), lit("unknown"))
    SourceCols(
      metricId = inferMetric(col("name"), p("type")),
      keep = isOutbound(col("name"), p("direction")),
      // P5 id chain ends in the delivery-id header BEFORE the
      // receive time: a redelivered webhook keeps its delivery id
      // but gets a new receivedAt, so the header keeps retried
      // no-payload-id events deduplicable (P7 keys off eventId).
      eventId = concat(lit("ALOWARE:"), coalesce(p("id").cast("string"), p("uuid_v4"),
        deliveryId,
        unix_millis(col("receivedAt")).cast("string"))),
      agentId = agentId,
      factDateKey = call_function("graft_date_key", eventTime,
        coalesce(tzRaw, lit("UTC"))).cast("date"),
      notes = concat_ws(";",
        concat(lit("event="), col("name")),
        when(tzRaw.isNotNull, concat(lit("tz="), tzRaw)),
        when(deliveryId.isNotNull, concat(lit("delivery="), deliveryId)),
        when(agentId === "unknown", lit("agent=unknown"))))
  }

  /** HubSpot webhook → FactEvent rows. The reference adapter is a
    * scaffold emitting one EMAILS event per envelope
    * (`src/adapters/hubspot.adapter.ts`); we honor that default but
    * apply the declared name→metric mapping (P12) when the payload
    * carries a recognizable event name. */
  private val hubspotCols: SourceCols = SourceCols(
    metricId = coalesce(element_at(typedLit(hubspotToMetric), col("name")),
      lit("EMAILS")),
    keep = lit(true),
    eventId = concat(lit("HUBSPOT:"), coalesce(p("id").cast("string"),
      deliveryId,
      unix_millis(col("receivedAt")).cast("string"))),
    agentId = lit("unknown@hubspot"),
    factDateKey = col("receivedAt").cast("date"),
    notes = lit("example event (scaffold)"))

  /** Applies per-source adapters in ONE pass over `envelopes`: the
    * body is parsed once, every output column picks its source's
    * expression with `when(is, …)`, and one filter keeps a row when
    * it has a metric (F2's unknown→drop; HubSpot always has one) and
    * its source's `keep` gate holds. The last adapter needs no guard:
    * the filter has already dropped rows no guard admits. */
  private def adapt(envelopes: DataFrame, sources: Seq[(Column, SourceCols)]): DataFrame = {
    GraftExtensions.register(envelopes.sparkSession)
    def pick(f: SourceCols => Column): Column =
      sources.init.foldRight(f(sources.last._2)) {
        case ((is, s), rest) => when(is, f(s)).otherwise(rest)
      }
    envelopes
      .withColumn("j", from_json(col("body"), Schemas.alowareBody))
      .withColumn("name", lower(coalesce(col("j.parsedBody.event"), col("j.event"), lit(""))))
      .withColumn("metricId", pick(_.metricId))
      .filter(col("metricId").isNotNull &&
        sources.map { case (is, s) => is && s.keep }.reduce(_ || _))
      .select(
        pick(_.eventId).as("eventId"),
        pick(_.agentId).as("agentId"),
        pick(_.factDateKey).as("factDateKey"),
        col("metricId"),
        pick(_.notes).as("notes"),
        col("source"), col("receivedAt"))
      .withColumn("dedupKey", concat_ws(":", col("source"), col("eventId")))
  }

  /** Every envelope read as an Aloware webhook. */
  def aloware(envelopes: DataFrame): DataFrame =
    adapt(envelopes, Seq(lit(true) -> alowareCols))

  /** Every envelope read as a HubSpot webhook. */
  def hubspot(envelopes: DataFrame): DataFrame =
    adapt(envelopes, Seq(lit(true) -> hubspotCols))

  /** F4: route by source — the orchestrator's adapter dispatch
    * (SURVEY §2.3 F4, §2.7 O2) as one scan, one JSON parse and one
    * filter per envelope; the outbound gate applies to ALOWARE rows
    * only. Unknown sources are dropped (the entrypoints 400 them
    * before the dataflow). */
  def route(envelopes: DataFrame): DataFrame = {
    val source = upper(col("source"))
    adapt(envelopes,
      Seq((source === "ALOWARE") -> alowareCols, (source === "HUBSPOT") -> hubspotCols))
  }
}
