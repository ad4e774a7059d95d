package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, upper}

import graft.SparkSpec

/** Adapter behaviors from FIXTURES.md §1 / SURVEY §2.2-2.3 — every
  * edge case the reference's code paths encode. */
class AdapterSpec extends SparkSpec {
  import spark.implicits._

  private val recv = "2025-11-05T17:30:00Z"

  private def env(body: String, source: String = "ALOWARE"): DataFrame =
    Seq((source, body, Timestamp.from(java.time.Instant.parse(recv))))
      .toDF("source", "body", "receivedAt")
      .selectExpr("source", "map('x','y') AS headers", "body", "receivedAt")

  private val canonical =
    """{"parsedBody":{"event":"outbound_call","body":{
      |"id":719285063,"uuid_v4":"c0ffee00-1111-2222-3333-444455556666",
      |"direction":2,"type":1,"created_at":"2025-11-05 17:21:33",
      |"owner_id":12345,"user_id":12345,
      |"contact":{"timezone":"America/New_York"}}}}""".stripMargin.replace("\n", "")

  test("canonical outbound call normalizes to the FIXTURES.md row") {
    val out = Adapters.aloware(env(canonical)).collect()
    out.length shouldBe 1
    val r = out.head
    r.getAs[String]("eventId") shouldBe "ALOWARE:719285063"
    r.getAs[String]("agentId") shouldBe "12345"
    r.getAs[java.sql.Date]("factDateKey").toString shouldBe "2025-11-05"
    r.getAs[String]("metricId") shouldBe "CALLS"
    r.getAs[String]("notes") shouldBe "event=outbound_call;tz=America/New_York"
    r.getAs[String]("dedupKey") shouldBe "ALOWARE:ALOWARE:719285063"
  }

  test("delivery-id header is the id fallback and lands in notes (provenance)") {
    val noIds = // payload with neither id nor uuid_v4
      """{"event":"outbound_call","direction":2,"created_at":"2025-11-05 10:00:00","owner_id":9}"""
    def envWith(hdrs: String, at: String): DataFrame =
      Seq(("ALOWARE", noIds, Timestamp.from(java.time.Instant.parse(at))))
        .toDF("source", "body", "receivedAt")
        .selectExpr("source", s"$hdrs AS headers", "body", "receivedAt")

    // two redeliveries of the same webhook: same delivery id, later
    // receivedAt — the header keeps eventId (hence dedupKey) stable
    val first = Adapters.aloware(
      envWith("map('x-delivery-id','dlv-42')", recv)).collect().head
    val retry = Adapters.aloware(
      envWith("map('X-Delivery-Id','dlv-42')", "2025-11-05T17:31:00Z")).collect().head
    first.getAs[String]("eventId") shouldBe "ALOWARE:dlv-42"
    retry.getAs[String]("eventId") shouldBe "ALOWARE:dlv-42"
    retry.getAs[String]("dedupKey") shouldBe first.getAs[String]("dedupKey")
    first.getAs[String]("notes") should include("delivery=dlv-42")

    // header names are case-insensitive per HTTP: a SHOUTING gateway
    // (or any casing the map() literal didn't anticipate) must still
    // resolve to the same delivery id, not fall through to receivedAt
    val shouting = Adapters.aloware(
      envWith("map('X-DELIVERY-ID','dlv-42')", "2025-11-05T17:32:00Z")).collect().head
    shouting.getAs[String]("eventId") shouldBe "ALOWARE:dlv-42"
    val requestId = Adapters.aloware(
      envWith("map('X-Request-ID','req-7')", recv)).collect().head
    requestId.getAs[String]("eventId") shouldBe "ALOWARE:req-7"

    // no header: falls back to receive time (old behavior)
    val bare = Adapters.aloware(
      envWith("map()", recv)).collect().head
    bare.getAs[String]("eventId") shouldBe
      s"ALOWARE:${java.time.Instant.parse(recv).toEpochMilli}"
    bare.getAs[String]("notes") should not include "delivery="
  }

  test("{event, body} and bare payload shapes normalize identically") {
    val wrapped =
      """{"event":"outbound_text","body":{"id":7,"created_at":"2025-11-05 10:00:00","owner_id":1}}"""
    val bare =
      """{"event":"outbound_text","id":7,"created_at":"2025-11-05 10:00:00","owner_id":1}"""
    val a = Adapters.aloware(env(wrapped)).select("eventId", "agentId", "metricId").collect()
    val b = Adapters.aloware(env(bare)).select("eventId", "agentId", "metricId").collect()
    a should contain theSameElementsAs b
    a.head.getAs[String]("metricId") shouldBe "TEXTS"
  }

  test("inbound events are dropped (F1 name wins over direction)") {
    val inbound = """{"event":"inbound_call","body":{"id":1,"direction":2,"type":1}}"""
    Adapters.aloware(env(inbound)).count() shouldBe 0
  }

  test("direction fallback: 2=outbound passes, 1=inbound drops, absent drops") {
    def mk(d: String) = s"""{"event":"call_made","body":{"id":1,$d"type":1}}"""
    Adapters.aloware(env(mk(""""direction":2,"""))).count() shouldBe 1
    Adapters.aloware(env(mk(""""direction":1,"""))).count() shouldBe 0
    Adapters.aloware(env(mk(""))).count() shouldBe 0
  }

  test("unknown metric (no call/text name, no type) drops the row") {
    val unknown = """{"event":"outbound_meeting","body":{"id":9,"direction":2}}"""
    Adapters.aloware(env(unknown)).count() shouldBe 0
  }

  test("type fallback classifies when name is metric-ambiguous") {
    val t2 = """{"event":"outbound_message","body":{"id":3,"type":2}}"""
    Adapters.aloware(env(t2)).select("metricId").as[String].head() shouldBe "TEXTS"
  }

  test("missing owner_id falls back to user_id, then to unknown with a note") {
    val u = """{"event":"outbound_call","body":{"id":4,"user_id":77}}"""
    Adapters.aloware(env(u)).select("agentId").as[String].head() shouldBe "77"
    val none = """{"event":"outbound_call","body":{"id":5}}"""
    val r = Adapters.aloware(env(none)).select("agentId", "notes").head()
    r.getString(0) shouldBe "unknown"
    r.getString(1) should include("agent=unknown")
  }

  test("invalid timezone falls back to UTC date; tz shifts across midnight") {
    val badTz =
      """{"event":"outbound_call","body":{"id":6,"created_at":"2025-11-06 01:30:00",
        |"contact":{"timezone":"Not/AZone"}}}""".stripMargin.replace("\n", "")
    Adapters.aloware(env(badTz)).select("factDateKey").head()
      .getDate(0).toString shouldBe "2025-11-06"
    // 01:30 UTC is 20:30 previous day in New York — business date shifts.
    val nyTz =
      """{"event":"outbound_call","body":{"id":6,"created_at":"2025-11-06 01:30:00",
        |"contact":{"timezone":"America/New_York"}}}""".stripMargin.replace("\n", "")
    Adapters.aloware(env(nyTz)).select("factDateKey").head()
      .getDate(0).toString shouldBe "2025-11-05"
  }

  test("missing id falls back to uuid then to receivedAt epoch-millis") {
    val uuid = """{"event":"outbound_call","body":{"uuid_v4":"u-1","type":1}}"""
    Adapters.aloware(env(uuid)).select("eventId").as[String].head() shouldBe "ALOWARE:u-1"
    val nothing = """{"event":"outbound_call","body":{"type":1}}"""
    val epochMs = java.time.Instant.parse(recv).toEpochMilli
    Adapters.aloware(env(nothing)).select("eventId").as[String].head() shouldBe s"ALOWARE:$epochMs"
  }

  test("garbage created_at falls back to receivedAt for the date key") {
    val garbage = """{"event":"outbound_call","body":{"id":8,"created_at":"not a date"}}"""
    Adapters.aloware(env(garbage)).select("factDateKey").head()
      .getDate(0).toString shouldBe "2025-11-05"
  }

  test("hubspot scaffold emits one EMAILS event; mapping applies when named") {
    val r = Adapters.hubspot(env("""{}""", "HUBSPOT")).head()
    r.getAs[String]("metricId") shouldBe "EMAILS"
    r.getAs[String]("agentId") shouldBe "unknown@hubspot"
    r.getAs[String]("eventId") shouldBe s"HUBSPOT:${java.time.Instant.parse(recv).toEpochMilli}"
    val cased = Adapters.hubspot(env("""{"event":"case_created","id":11}""", "HUBSPOT")).head()
    cased.getAs[String]("metricId") shouldBe "CASES"
    cased.getAs[String]("eventId") shouldBe "HUBSPOT:11"
  }

  test("route unions per-source outputs and drops unknown sources (F4)") {
    val both = env(canonical)
      .union(env("""{}""", "HUBSPOT"))
      .union(env("""{}""", "MYSTERY"))
    val out = Adapters.route(both)
    out.count() shouldBe 2
    out.select("source").as[String].collect().sorted shouldBe Array("ALOWARE", "HUBSPOT")
  }

  /** Every routing edge in one frame: both ALOWARE casings, HUBSPOT,
    * an unknown source, inbound, an unknown event, malformed bodies
    * and missing (null) headers. */
  private def mixed: DataFrame = {
    val at = Timestamp.from(java.time.Instant.parse(recv))
    Seq(
      ("ALOWARE", "map('X-Delivery-Id','d1')", canonical),
      ("aloware", "map('x-request-id','r2')",
        """{"event":"outbound_text","body":{"id":2,"owner_id":5}}"""),
      ("ALOWARE", "map()", """{"event":"inbound_call","body":{"id":3,"type":1}}"""),
      ("ALOWARE", "map()", """{"event":"outbound_meeting","body":{"id":4,"direction":2}}"""),
      ("ALOWARE", "NULL", """{"event":"outbound_call"""),
      ("ALOWARE", "NULL",
        """{"event":"outbound_call","body":{"type":1}}"""),
      ("HUBSPOT", "map('x-delivery-id','h1')", """{"event":"case_created","id":11}"""),
      ("hubspot", "NULL", """{}"""),
      ("HUBSPOT", "map()", "not json at all"),
      ("MYSTERY", "map()", canonical))
      .map { case (src, hdrs, body) =>
        Seq((src, body, at)).toDF("source", "body", "receivedAt")
          .selectExpr("source", s"CAST($hdrs AS MAP<STRING,STRING>) AS headers",
            "body", "receivedAt")
      }
      .reduce(_ union _)
  }

  test("route equals the union of the per-source adapters, row for row") {
    val envs = mixed
    val union =
      Adapters.aloware(envs.filter(upper(col("source")) === "ALOWARE"))
        .unionByName(Adapters.hubspot(envs.filter(upper(col("source")) === "HUBSPOT")))
    val out = Adapters.route(envs)
    out.columns.toSeq shouldBe union.columns.toSeq
    out.schema shouldBe union.schema
    val got = out.collect().map(_.toSeq)
    got should contain theSameElementsAs union.collect().map(_.toSeq)
    // 2 admitted ALOWARE casings + the id-less ALOWARE call; inbound,
    // unknown event, malformed ALOWARE and MYSTERY drop; all 3 HUBSPOT emit
    got.length shouldBe 6
  }

  test("route over a file source scans it once") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-route-scan")
    mixed.write.mode("overwrite").json(dir.toString)
    val envs = spark.read.schema(mixed.schema).json(dir.toString)
    val out = Adapters.route(envs)
    out.queryExecution.optimizedPlan.collectLeaves() should have length 1
    out.count() shouldBe 6
  }
}
