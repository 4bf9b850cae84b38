package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Envelope

/** Consumer side of the Kinesis-like envelope stream (reference:
  * run.py:156-185 — shard iteration, timestamp-threshold filtering,
  * partition-key inspection). Reads the partitioned JSON layout the
  * CdcPipeline sink writes (one directory per partition_key = one
  * "shard") back into a typed change feed.
  *
  * Scale notes: the partition_key directory IS a partition filter —
  * consuming one shard reads only its directory (partition pruning
  * on the read path); the JSON parse is from_json inside codegen.
  */
object EnvelopeSource {

  /** Data column first, partition column last — the order partition
    * discovery appends in. A stream started on a still-empty sink
    * discovers no partition column; were `partition_key` declared
    * first, such a stream would return the two values swapped (the
    * JSON in `partition_key`, the shard name in `message`).
    */
  private val fileSchema = StructType(Seq(
    StructField("message", StringType),
    StructField("partition_key", StringType)))

  /** Batch-read the sink directory into (message, partition_key).
    * Reads the sink ROOT, not a wildcard glob: the streaming sink's
    * exactly-once guarantee lives in its `_spark_metadata` commit
    * log, and a root read uses it (MetadataLogFileIndex) so
    * uncommitted part files from a crashed/retried sink task stay
    * invisible — a glob would trust the raw directory listing and
    * double-count retried batches. Partition discovery still yields
    * `partition_key` from the directory names.
    */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(fileSchema)
      .json(path)

  /** Batch change feed: parse every message against the replicated
    * table's row schema; metadata fields are flattened for consumers.
    */
  def changeFeed(spark: SparkSession, path: String, dataSchema: StructType): DataFrame =
    flatten(Envelope.parse(readRaw(spark, path), "message", dataSchema))

  /** Streaming change feed over the same directory layout — a file
    * stream source reading the sink ROOT (the stream reader then
    * follows the sink's commit log — see [[readRaw]]), so
    * late-arriving shard files keep flowing. The directory is
    * created if absent: the Kinesis-consumer ordering legitimately
    * starts the consumer before the producer has written anything,
    * and path resolution must wait for data, not throw.
    */
  def changeFeedStream(spark: SparkSession, path: String, dataSchema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    flatten(Envelope.parse(
      spark.readStream.schema(fileSchema).json(path),
      "message", dataSchema))
  }

  private def flatten(parsed: DataFrame): DataFrame =
    parsed.select(
      col("partition_key"),
      col("metadata.timestamp").as("event_ts"),
      col("metadata.`record-type`").as("record_type"),
      col("metadata.operation").as("operation"),
      col("metadata.`schema-name`").as("schema_name"),
      col("metadata.`table-name`").as("table_name"),
      col("metadata.`transaction-id`").as("transaction_id"),
      col("data"), col("before_image"))

  /** run.py's consumer checks: drop messages before a threshold and
    * count per shard (partition key) — the "wait until N messages
    * arrive on this shard after T" primitive.
    */
  def consumeSummary(feed: DataFrame, thresholdTs: String): DataFrame =
    feed.filter(col("event_ts") >= thresholdTs)
      .groupBy(col("partition_key"))
      .agg(count(lit(1)).as("n_messages"),
        min(col("event_ts")).as("first_ts"),
        max(col("event_ts")).as("last_ts"))

  /** Record-level consumer view (run.py:194-199): the reference's
    * consumer prints each kept record's PAYLOAD merged with its
    * partition key — the row-by-row debugging view an operator reads
    * next to [[consumeSummary]]'s per-shard rollup when a feed looks
    * wrong. Same threshold filter as the summary (drop records whose
    * envelope timestamp predates the consumer's start), then one
    * row per message: routing fields (partition key, envelope
    * timestamp, operation, table) plus the data payload flattened
    * beside them.
    *
    * Scale shape: a pure filter + projection on the parsed feed — no
    * shuffle at all; the threshold predicate pushes to the scan when
    * the feed comes off the partitioned sink layout. `feed` needs
    * partition_key, event_ts, operation, table_name and the typed
    * `data` struct ([[changeFeed]]'s shape).
    */
  def consumeRecords(feed: DataFrame, thresholdTs: String): DataFrame =
    feed.filter(col("event_ts") >= thresholdTs)
      .select(col("partition_key"), col("event_ts"), col("operation"),
        col("table_name"), col("data.event_id").as("event_id"),
        col("data.user_id").as("user_id"), col("data.value").as("value"))

  /** Bounded-paging consumption (run.py:182-192): the reference's
    * consumer reads a shard in get_records pages of `pageSize` (=50),
    * keeps records past the arrival threshold, and STOPS after the
    * first full page at which the kept count reaches
    * `expectedCount` — so what it consumes is a page-aligned PREFIX
    * of the shard, not the whole stream. This re-expresses that
    * early-stop shape as a query: per shard, which pages would be
    * read, how many records scanned vs kept, whether the stop
    * tripped, and the consumed prefix's high-water mark.
    *
    * Scale shape: ONE shuffle on partition_key (the row_number page
    * assignment and the per-page aggregate share it); the cumulative
    * -count and stop-page windows run over the pages-per-shard
    * POST-aggregate (|shard|·⌈rows/pageSize⌉ rows, pageSize-bounded
    * reduction), never the raw stream. Output = |shards| rows.
    *
    * `feed` needs partition_key, ts, event_id (arrival order).
    */
  def consumePaged(
      feed: DataFrame,
      thresholdTs: String,
      expectedCount: Long,
      pageSize: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byArrival = Window.partitionBy(col("partition_key"))
      .orderBy(col("ts"), col("event_id"))
    val perPage = feed
      .withColumn("page",
        ((row_number().over(byArrival) - 1) / pageSize).cast("long"))
      .groupBy(col("partition_key"), col("page"))
      .agg(count(lit(1)).as("n_scanned"),
        sum(when(col("ts") >= lit(thresholdTs).cast("timestamp"), 1L)
          .otherwise(0L)).as("n_kept"),
        max(col("ts")).as("page_max_ts"))
    val byPage = Window.partitionBy(col("partition_key")).orderBy(col("page"))
    val shardAll = Window.partitionBy(col("partition_key"))
    perPage
      .withColumn("cum_kept", sum(col("n_kept")).over(byPage))
      // first page whose cumulative kept count satisfies the stop —
      // absent (null) means the consumer drains every page
      .withColumn("stop_page",
        min(when(col("cum_kept") >= expectedCount, col("page"))).over(shardAll))
      .filter(col("stop_page").isNull || col("page") <= col("stop_page"))
      .groupBy(col("partition_key"))
      .agg(count(lit(1)).as("n_pages_read"),
        sum(col("n_scanned")).as("n_records_scanned"),
        sum(col("n_kept")).as("n_consumed"),
        (count(col("stop_page")) > 0L).as("stopped_early"),
        max(col("page_max_ts")).as("consumed_through_ts"))
  }
}
