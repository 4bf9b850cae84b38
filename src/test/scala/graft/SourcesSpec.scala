package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.EnvelopeSource
import graft.streaming.CdcPipeline
import graft.streaming.CdcPipeline.RawEvent

class SourcesSpec extends AnyFunSuite {
  import SparkTestSession._

  private val dataSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)

  private val events = Seq(
    RawEvent(1, ts(0), 10, "signup", 1.0, "{}"),
    RawEvent(2, ts(1), 10, "click", 2.0, "{}"),
    RawEvent(3, ts(2), 11, "signup", 3.0, "{}"),
    RawEvent(4, ts(3), 11, "error", 0.0, "{}"))

  private def writeSink(): String = {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-src").toString
    val mem = MemoryStream[RawEvent]
    val q = CdcPipeline.kinesisLikeSink(
      CdcPipeline.envelopeStream(CdcPipeline.annotate(mem.toDF())),
      s"$dir/data", s"$dir/ckpt").start()
    try { mem.addData(events); q.processAllAvailable() } finally q.stop()
    s"$dir/data"
  }

  test("batch consumer reads back exactly what the sink wrote") {
    val path = writeSink()
    val feed = EnvelopeSource.changeFeed(spark, path, dataSchema)
    val rows = feed.collect()
    assert(rows.length == events.length)
    val gotIds = rows.map(_.getAs[org.apache.spark.sql.Row]("data")
      .getAs[Long]("event_id")).toSet
    assert(gotIds == events.map(_.event_id).toSet)
    // partition key recovered from the shard directory
    assert(rows.map(_.getAs[String]("partition_key")).toSet ==
      Set("graft.users_2", "graft.users_3"))
    assert(rows.forall(_.getAs[String]("record_type") == "data"))
  }

  test("consumeSummary applies the timestamp threshold per shard") {
    val path = writeSink()
    val feed = EnvelopeSource.changeFeed(spark, path, dataSchema)
    val all = EnvelopeSource.consumeSummary(feed, "2000-01-01T00:00:00.000000Z")
      .collect().map(r => r.getAs[String]("partition_key") -> r.getAs[Long]("n_messages"))
      .toMap
    assert(all == Map("graft.users_2" -> 2L, "graft.users_3" -> 2L))
    val none = EnvelopeSource.consumeSummary(feed, "2999-01-01T00:00:00.000000Z")
    assert(none.count() == 0)
  }

  test("consumePaged: 50-record pages, early-stop at the expected count") {
    import spark.implicits._
    // shard A: 120 arrival-ordered records, all past the threshold —
    // page 0 holds 50 (< 60), page 1 reaches 100 (>= 60) so the
    // consumer stops after TWO pages and never reads page 2.
    // shard B: 30 records — drained without tripping the stop.
    val rows =
      (1 to 120).map(i => ("shardA", s"2024-06-01 00:${f"${i / 60}%02d"}:${f"${i % 60}%02d"}", i.toLong)) ++
      (1 to 30).map(i => ("shardB", s"2024-06-01 01:00:${f"$i%02d"}", (1000 + i).toLong))
    val feed = rows.toDF("partition_key", "ts_s", "event_id")
      .select(col("partition_key"), col("ts_s").cast("timestamp").as("ts"),
        col("event_id"))
    val out = EnvelopeSource.consumePaged(feed,
        "2024-01-01T00:00:00.000000Z", expectedCount = 60L)
      .orderBy(col("partition_key")).collect()
    assert(out.length == 2)
    val a = out(0); val b = out(1)
    assert(a.getAs[Long]("n_pages_read") == 2L)
    assert(a.getAs[Long]("n_records_scanned") == 100L)
    assert(a.getAs[Long]("n_consumed") == 100L)
    assert(a.getAs[Boolean]("stopped_early"))
    assert(b.getAs[Long]("n_pages_read") == 1L)
    assert(b.getAs[Long]("n_records_scanned") == 30L)
    assert(!b.getAs[Boolean]("stopped_early"))

    // a threshold past every record keeps counts at zero but still
    // drains all pages (the reference loop would spin on the shard)
    val none = EnvelopeSource.consumePaged(feed,
        "2999-01-01T00:00:00.000000Z", expectedCount = 60L)
      .orderBy(col("partition_key")).collect()
    assert(none.map(_.getAs[Long]("n_consumed")).toSeq == Seq(0L, 0L))
    assert(none.map(_.getAs[Long]("n_records_scanned")).toSeq == Seq(120L, 30L))
  }

  test("streaming consumer tails the shard directory") {
    val path = writeSink()
    val stream = EnvelopeSource.changeFeedStream(spark, path, dataSchema)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory")
      .queryName("consumed").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    assert(spark.table("consumed").count() == events.length)
  }

  test("streaming consumer started before the first sink commit reads every payload") {
    // the Kinesis-consumer ordering: the consumer is already tailing
    // an EMPTY sink when the producer commits its first batch
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-src").toString
    val consumer = EnvelopeSource.changeFeedStream(spark, s"$dir/data", dataSchema)
      .writeStream.format("memory").queryName("consumed_first")
      .outputMode("append").start()
    val mem = MemoryStream[RawEvent]
    val producer = CdcPipeline.kinesisLikeSink(
      CdcPipeline.envelopeStream(CdcPipeline.annotate(mem.toDF())),
      s"$dir/data", s"$dir/ckpt").start()
    try {
      mem.addData(events)
      producer.processAllAvailable()
      consumer.processAllAvailable()
    } finally { producer.stop(); consumer.stop() }
    val rows = spark.table("consumed_first").collect()
    assert(rows.length == events.length)
    rows.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("data")) && !r.isNullAt(r.fieldIndex("event_ts")),
        s"delivered row without a payload: $r")
      assert(r.getAs[String]("partition_key") ==
        s"${r.getAs[String]("schema_name")}.${r.getAs[String]("table_name")}",
        s"partition_key is not the row's schema.table: $r")
    }
  }
}
