package graft.streaming

import graft.SparkSpec
import graft.catalog.Tables
import org.apache.spark.sql.functions._

class EventAggregatesSpec extends SparkSpec {

  test("windowed counts: streaming over real events == batch group-by") {
    val batch = Tables.events(spark, sf0001)
    val expected = EventAggregates.windowedTypeCounts(batch)
      .orderBy("window_start", "event_type").collect().map(_.toString).toSeq

    // drive the same data through a real streaming query (file source)
    val dir = java.nio.file.Files.createTempDirectory("graft-events").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(batch.schema)
      .parquet(dir)
    val q = EventAggregates.windowedTypeCounts(stream)
      .writeStream.format("memory").queryName("winagg")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("winagg")
        .orderBy("window_start", "event_type").collect().map(_.toString).toSeq
      assert(got == expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("windowed heavy hitters: streaming == batch in the exact (k >= distinct) regime") {
    val batch = Tables.events(spark, sf0001)
    // event_type has a handful of distinct values, so k=64 puts the
    // Misra-Gries summary in its exact regime — merge-order independent,
    // which is what makes a streaming==batch equality assertion sound
    val expected = EventAggregates.windowedHeavyHitters(batch, col("event_type"), k = 64)
      .orderBy("window_start").collect().map(_.toString).toSeq
    assert(expected.nonEmpty)

    val dir = java.nio.file.Files.createTempDirectory("graft-hh").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = EventAggregates.windowedHeavyHitters(stream, col("event_type"), k = 64)
      .writeStream.format("memory").queryName("hhagg")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hhagg")
        .orderBy("window_start").collect().map(_.toString).toSeq
      assert(got == expected)
    } finally q.stop()

    // the top entry per window must match the exact windowed mode
    val exactTop = EventAggregates.windowedTypeCounts(batch)
      .groupBy("window_start")
      .agg(max(struct(col("n"), col("event_type"))).as("m"))
      .select(col("window_start"), col("m.event_type").as("t"), col("m.n").as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val mgTop = EventAggregates.windowedHeavyHitters(batch, col("event_type"), k = 64)
      .select(col("window_start"), col("top").getItem(0).getField("k"),
        col("top").getItem(0).getField("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    mgTop.foreach { case (w, t, n) =>
      assert(exactTop.contains((w, t, n)), s"window $w top ($t,$n) must match exact counts")
    }
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dup").toString
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 7L, "click", 1.0),
      (1L, "2024-01-01 10:00:30", 7L, "click", 1.0), // duplicate delivery
      (2L, "2024-01-01 10:01:00", 7L, "click", 2.0),
      (2L, "2024-01-01 10:01:00", 7L, "click", 2.0), // duplicate delivery
      (3L, "2024-01-01 10:02:00", 8L, "view", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    ev.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    val q = EventAggregates.dedupEvents(stream)
      .writeStream.format("memory").queryName("dedupev")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedupev").select("event_id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == Seq(1L, 2L, 3L), "one row per event_id must survive")
    } finally q.stop()
    // batch path: plain dropDuplicates
    assert(EventAggregates.dedupEvents(ev).count() == 3)
  }

  test("streaming near-dedup drops digest and fingerprint twins within the watermark") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-neardedup").toString
    val docs = Seq(
      (1L, "2024-01-01 10:00:00", "the quick brown fox jumps over the lazy dog"),
      (2L, "2024-01-01 10:00:10", "The  quick BROWN fox jumps over the lazy dog!"), // normalization twin of 1
      (3L, "2024-01-01 10:00:20", "the quick brown fox jumps over the lazy dog"),   // exact twin of 1
      (4L, "2024-01-01 10:00:30", "a completely different document about satellites"))
      .toDF("doc_id", "ts", "text")
      .withColumn("ts", col("ts").cast("timestamp"))
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = EventAggregates.dedupDocsNear(stream)
      .writeStream.format("memory").queryName("neardedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val kept = spark.table("neardedup").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept.size == 2 && kept.contains(4L),
        s"one of the three twins plus the distinct doc must survive, got $kept")
    } finally q.stop()
    // batch fallback agrees
    val batchKept = EventAggregates.dedupDocsNear(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchKept.size == 2 && batchKept.contains(4L))
  }

  test("progress listener records per-batch metrics of a stage query (ST8)") {
    import spark.implicits._
    val listener = Metrics.attach(spark)
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-prog").toString
      val ev = Seq((1L, "2024-01-01 10:00:00", 7L, "click", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
      ev.write.mode("overwrite").parquet(dir)
      val q = spark.readStream.schema(ev.schema).parquet(dir)
        .writeStream.format("memory").queryName("progq").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      // listener events are delivered asynchronously — poll generously
      // (the parallel suite can starve the listener bus for a while)
      val deadline = System.currentTimeMillis() + 90000
      def recorded() = listener.progress(spark)
        .filter(col("query_name") === "progq" && col("input_rows") > 0)
      while (System.currentTimeMillis() < deadline && recorded().isEmpty) Thread.sleep(100)
      assert(!recorded().isEmpty, "listener must record the batch that read the row")
    } finally spark.streams.removeListener(listener)
  }

  test("sessionization groups events by gap per user") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 7L, "click", 1.0),
      (2L, "2024-01-01 10:10:00", 7L, "click", 2.0),  // same session (10 min gap < 30)
      (3L, "2024-01-01 12:00:00", 7L, "click", 3.0),  // new session
      (4L, "2024-01-01 10:05:00", 8L, "view", 4.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val sessions = EventAggregates.userSessions(ev).collect()
    assert(sessions.count(_.getLong(2) == 7L) == 2)
    assert(sessions.count(_.getLong(2) == 8L) == 1)
    val firstSession = sessions.filter(r => r.getLong(2) == 7L && r.getLong(3) == 2).head
    assert(firstSession.getDouble(4) == 3.0) // 1.0 + 2.0
  }

  test("stream-static enrichment: broadcast dim join, streaming == batch") {
    val batch = Tables.events(spark, sf0001)
    val dim = Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_mktsegment"))
    val expected = EventAggregates.enrichEvents(batch, dim, "user_id", "c_custkey")
      .groupBy("c_mktsegment").count()
      .orderBy("c_mktsegment").collect().map(_.toString).toSeq

    val dir = java.nio.file.Files.createTempDirectory("graft-enrich").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = EventAggregates.enrichEvents(stream, dim, "user_id", "c_custkey")
      .groupBy("c_mktsegment").count()
      .writeStream.format("memory").queryName("enrich")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich")
        .orderBy("c_mktsegment").collect().map(_.toString).toSeq
      assert(got == expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("enrichEvents resolves when the dim key shares the event key's name") {
    import spark.implicits._
    val ev = Tables.events(spark, sf0001).limit(50)
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("tier", col("user_id") % 3)
    val out = EventAggregates.enrichEvents(ev, dim, "user_id", "user_id")
    assert(out.count() === 50)
    assert(out.columns.count(_ == "user_id") === 2) // both sides kept, qualified
  }

  test("stream-stream correlation: watermarked interval join == batch join") {
    val batch = Tables.events(spark, sf0001)
    val purchases = batch.filter(col("event_type") === "purchase")
    val errors = batch.filter(col("event_type") === "error")
    val gap = 14L * 86400
    val expected = EventAggregates.correlateWithin(purchases, errors, "user_id", gap)
      .select("l_id", "r_id").collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty, "fixture should correlate some pairs")

    val dir = java.nio.file.Files.createTempDirectory("graft-corr").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val sp = stream.filter(col("event_type") === "purchase")
    val se = stream.filter(col("event_type") === "error")
    // watermark ≥ data span: nothing is late in a replayed file stream
    val q = EventAggregates.correlateWithin(sp, se, "user_id", gap,
        watermark = "90 days")
      .select("l_id", "r_id")
      .writeStream.format("memory").queryName("corr")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("corr").collect().map(_.toString).sorted.toSeq
      assert(got == expected)
    } finally q.stop()
  }

  test("monthlyCounts: calendar-month buckets, not sliding windows (ST9)") {
    import spark.implicits._
    val events = Seq("2020-01-31 23:59:59", "2020-01-01 00:00:00",
        "2020-02-01 00:00:00", "2020-03-15 12:00:00", "2020-03-31 08:00:00")
      .toDF("ts").select(to_timestamp(col("ts")).as("ts"))
    val got = EventAggregates.monthlyCounts(events).orderBy("month")
      .as[(java.sql.Date, Long)].collect().map { case (m, n) => (m.toString, n) }.toSeq
    assert(got == Seq(("2020-01-01", 2L), ("2020-02-01", 1L), ("2020-03-01", 2L)))
    // a TIMESTAMP_NTZ column buckets the same way
    val ntz = events.select(col("ts").cast("timestamp_ntz").as("ts"))
    assert(EventAggregates.monthlyCounts(ntz).orderBy("month").collect().map(_.getLong(1)).toSeq ==
      Seq(2L, 1L, 2L))
  }
}
