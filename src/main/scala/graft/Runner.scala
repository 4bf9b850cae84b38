package graft

import org.apache.spark.sql.SparkSession

/** The registry loop every main shares (Bench, Verify, Audit): one
  * session recipe at one width, one query-name check, one warm-up,
  * and one per-query isolation boundary.
  */
object Runner {
  /** Session width: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def session(appName: String): SparkSession = Sessions.build(cpus, appName)

  /** `names` in the given order, or the whole registry sorted when
    * none is given. An unknown name fails before any Spark work, with
    * the list of what is available.
    */
  def resolve(names: Seq[String]): Seq[String] = {
    val registry = SparkEntry.queries.keySet
    val unknown = names.filterNot(registry)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown queries: ${unknown.mkString(", ")}; available: " +
        registry.toSeq.sorted.mkString(", "))
    if (names.isEmpty) registry.toSeq.sorted else names
  }

  /** Session, codegen, parquet reader and one shuffle, warmed before
    * anything is timed so the first query does not pay for them.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Tables.load(spark, sfDir, "events").groupBy("event_type").count().collect()
    ()
  }

  /** Run `body` for query `name` with every earlier query's cached
    * intermediates dropped (so its cost and plan never depend on what
    * ran before it) and its Spark jobs tagged with job group `name`
    * (inherited by [[Par]] threads, which start inside `body`).
    */
  def isolated[T](spark: SparkSession, name: String)(body: => T): T = {
    CacheScope.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(name, name)
    try body finally spark.sparkContext.clearJobGroup()
  }
}
