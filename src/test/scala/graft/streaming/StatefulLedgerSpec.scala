package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

class StatefulLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def ev(key: String, id: String, at: String) =
    (key, id, Timestamp.valueOf(at))

  test("admits first per key, drops live dups, records seenAt, readmits after TTL") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, Timestamp)]
    val events = input.toDF().toDF("dedupKey", "eventId", "receivedAt")
    val q = StatefulLedger.admitFirst(events, ttlDays = 14)
      .writeStream.format("memory").queryName("ledger_out")
      .outputMode("append").start()
    try {
      // batch 1: two events same key → one admitted (earliest wins)
      input.addData(
        ev("K1", "e2", "2024-01-01 10:00:05"),
        ev("K1", "e1", "2024-01-01 10:00:00"),
        ev("K2", "e3", "2024-01-01 10:00:01"))
      q.processAllAvailable()
      // batch 2: K1 again within TTL → dropped
      input.addData(ev("K1", "e4", "2024-01-05 09:00:00"))
      q.processAllAvailable()
      // batch 3: advance the watermark past K1's TTL (2024-01-15)
      // via another key; batch 4 then fires K1's timeout (timeouts
      // process in the batch AFTER the watermark passes, for groups
      // with no new data — the ledger's async-TTL-deletion analog)
      input.addData(ev("K3", "e5", "2024-01-20 10:00:00"))
      q.processAllAvailable()
      input.addData(ev("K3", "e6", "2024-01-20 11:00:00")) // dup, forces a batch
      q.processAllAvailable()
      // batch 5: K1 state expired → readmits
      input.addData(ev("K1", "e7", "2024-01-21 10:00:02"))
      q.processAllAvailable()

      val rows = spark.table("ledger_out")
        .select("dedupKey", "eventId", "seenAt")
        .as[(String, String, Timestamp)].collect().sortBy(_._2)
      rows.map(_._2).toSeq shouldBe Seq("e1", "e3", "e5", "e7")
      val k1 = rows.find(_._2 == "e1").get
      k1._3 shouldBe Timestamp.valueOf("2024-01-01 10:00:00") // seenAt = first arrival
    } finally q.stop()
  }

  test("checkpoint restart: the ledger state store resumes — an in-TTL " +
      "duplicate arriving after the restart is still dropped") {
    // the production lifecycle of the reference's DynamoDB ledger:
    // the consumer restarts, the ledger (here: the state store under
    // checkpointLocation) persists. If state were lost, K1's post-
    // restart duplicate would be re-admitted.
    import java.nio.file.Files
    val in = Files.createTempDirectory("graft-ledger-in")
    val chk = Files.createTempDirectory("graft-ledger-chk")
    val out = Files.createTempDirectory("graft-ledger-out")
    def json(key: String, id: String, at: String) =
      s"""{"dedupKey":"$key","eventId":"$id","receivedAt":"$at"}"""
    def start() = {
      val stream = spark.readStream
        .schema("dedupKey STRING, eventId STRING, receivedAt TIMESTAMP")
        .json(in.toString)
      StatefulLedger.admitFirst(stream, ttlDays = 14)
        .toDF()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", chk.toString)
        .outputMode("append").start()
    }
    val q1 = start()
    try {
      Files.writeString(in.resolve("a.json"),
        json("K1", "e1", "2024-01-01T10:00:00") + "\n" +
          json("K2", "e2", "2024-01-01T10:00:01") + "\n")
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = start()
    try {
      Files.writeString(in.resolve("b.json"),
        json("K1", "e3", "2024-01-05T09:00:00") + "\n" + // in-TTL dup
          json("K3", "e4", "2024-01-05T09:00:01") + "\n") // fresh key
      q2.processAllAvailable()
    } finally q2.stop()

    spark.read.parquet(out.toString).select("eventId")
      .as[String].collect().toSet shouldBe Set("e1", "e2", "e4")
  }

  test("ledger runs on the RocksDB state store provider (the beyond-memory scale path)") {
    // SCALING.md prescribes RocksDB state stores once ledger keys
    // outgrow executor memory — prove the operator actually runs on
    // that provider (spilling state off-heap to local disk), not just
    // the default in-memory HDFSBackedStateStore
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, String, Timestamp)]
      val events = input.toDF().toDF("dedupKey", "eventId", "receivedAt")
      val q = StatefulLedger.admitFirst(events, ttlDays = 14)
        .writeStream.format("memory").queryName("ledger_rocks")
        .outputMode("append").start()
      try {
        input.addData(
          ev("K1", "e1", "2024-01-01 10:00:00"),
          ev("K2", "e2", "2024-01-01 10:00:01"))
        q.processAllAvailable()
        input.addData(ev("K1", "e3", "2024-01-05 09:00:00")) // in-TTL dup
        q.processAllAvailable()
        spark.table("ledger_rocks").select("eventId")
          .as[String].collect().toSet shouldBe Set("e1", "e2")
        q.lastProgress.stateOperators.head
          .customMetrics.keySet.toString should include("rocksdb")
      } finally q.stop()
    } finally prev match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("RocksDB ledger restarts from a snapshot-only checkpoint into changelog " +
      "checkpointing: in-TTL redeliveries stay dropped, new keys admit") {
    // GraftSession turns changelog checkpointing on for every RocksDB
    // session, so a ledger checkpointed before that switch must resume
    // under it (and keep resuming) without losing a live entry
    import java.nio.file.{Files, Path}
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = Seq(provider, changelog).map(k => k -> spark.conf.getOption(k))
    val in = Files.createTempDirectory("graft-ledger-cl-in")
    val chk = Files.createTempDirectory("graft-ledger-cl-chk")
    val out = Files.createTempDirectory("graft-ledger-cl-out")
    def json(key: String, id: String, at: String) =
      s"""{"dedupKey":"$key","eventId":"$id","receivedAt":"$at"}"""
    def changelogFiles(): Long = {
      val files = Files.walk(chk)
      try files.filter((p: Path) => p.toString.endsWith(".changelog")).count()
      finally files.close()
    }
    def run(withChangelog: Boolean, file: String, lines: String*): Unit = {
      spark.conf.set(changelog, withChangelog.toString)
      Files.writeString(in.resolve(file), lines.mkString("", "\n", "\n"))
      val q = StatefulLedger.admitFirst(
          spark.readStream
            .schema("dedupKey STRING, eventId STRING, receivedAt TIMESTAMP")
            .json(in.toString),
          ttlDays = 14)
        .toDF()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", chk.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      run(withChangelog = false, "a.json",
        json("K1", "e1", "2024-01-01T10:00:00"),
        json("K2", "e2", "2024-01-01T10:00:01"))
      changelogFiles() shouldBe 0
      run(withChangelog = true, "b.json",
        json("K1", "e3", "2024-01-05T09:00:00"), // in-TTL dup of a pre-switch key
        json("K3", "e4", "2024-01-05T09:00:01")) // new key
      changelogFiles() should be > 0L
      run(withChangelog = true, "c.json",
        json("K1", "e5", "2024-01-06T09:00:00"), // still in TTL
        json("K3", "e6", "2024-01-06T09:00:01"), // dup of a post-switch key
        json("K4", "e7", "2024-01-06T09:00:02")) // new key
      spark.read.parquet(out.toString).select("eventId")
        .as[String].collect().toSet shouldBe Set("e1", "e2", "e4", "e7")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
