package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Diagnostics over the query registry, one mode per question. None
  * is part of the bench or oracle contract.
  *
  * Usage: runMain graft.Audit names
  *        runMain graft.Audit <mode> <sfDir> [name ...]
  *
  *  - `names`: the sorted registry, one `name<TAB>sql|rows` line each
  *    ("sql" = has a DuckDB oracle). Builds no session — the source of
  *    truth for the tools/ scripts.
  *  - `explain`: `==== name ====` then `.explain("formatted")` — the
  *    dump tools/plan_diff.py and tools/sf1_gate.py parse.
  *  - `jobs`: `JOBAUDIT name wall_ms n_jobs` for one run as Bench runs
  *    it. The job count separates one big computation from many serial
  *    barrier jobs (eager materializations, iterative checkpoints).
  *  - `streams`: one JSON line per query pricing its micro-batch
  *    barriers: progress `durationMs` components summed over batches,
  *    state commit time, peak state rows/bytes, the RocksDB footprint
  *    and the slowest batch. `SPARK_GRAFT_STATESTORE=rocksdb` switches
  *    the provider ([[Sessions]]). Default names: the streaming drains.
  *  - `shapes`: every partition-less window and every
  *    BroadcastNestedLoopJoin with a summary of the subtree feeding it
  *    — the census behind PlanShapeSpec's audited site lists. Default
  *    names: the registry minus the streaming drains, whose real plans
  *    live inside the streaming engine.
  *  - `strategy-ab`: each query on the plan Catalyst picks and again
  *    with the broadcast threshold raised, compared by an exact
  *    order-insensitive fingerprint; exits 1 on any mismatch.
  *
  * With no names a mode covers the whole registry (sorted). Every
  * query runs in [[Runner.isolated]] at the [[Runner.cpus]] width.
  */
object Audit {
  private val usage =
    "usage: Audit names | Audit <explain|jobs|streams|shapes|strategy-ab> <sfDir> [name ...]"

  def main(args: Array[String]): Unit = args.toList match {
    case "names" :: Nil => names()
    case mode :: sfDir :: requested =>
      val run: (SparkSession, String, Seq[String]) => Boolean = mode match {
        case "explain" => explain
        case "jobs" => jobs
        case "streams" => streams
        case "shapes" => shapes
        case "strategy-ab" => strategyAb
        case _ => throw new IllegalArgumentException(usage)
      }
      val queries = (mode, requested) match {
        case ("streams", Nil) => SparkEntry.streamingDrains.toSeq.sorted
        case ("shapes", Nil) => Runner.resolve(Nil).filterNot(SparkEntry.streamingDrains)
        case _ => Runner.resolve(requested)
      }
      val spark = Runner.session(s"graft-audit-$mode")
      spark.sparkContext.setLogLevel("ERROR")
      val ok = try run(spark, sfDir, queries) finally {
        CacheScope.releaseAll()
        spark.stop()
      }
      if (!ok) sys.exit(1)
    case _ => throw new IllegalArgumentException(usage)
  }

  private def names(): Unit = {
    val oracles = SparkEntry.oracleSql.keySet
    SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
      println(s"$n\t${if (oracles(n)) "sql" else "rows"}")
    }
  }

  /** Every physical node, descending through AQE wrappers (the
    * initial, statically-planned tree until the query runs), query
    * stages, cached relations (a persisted intermediate otherwise
    * truncates the visible tree at InMemoryTableScan) and reused
    * exchanges.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case s: InMemoryTableScanExec => s +: nodes(s.relation.cachedPlan)
      case r: ReusedExchangeExec => r +: nodes(r.child)
      case n => Seq(n)
    }.flatten

  /** Listener-bus events arrive asynchronously: wait until `read`
    * stops moving (at most 1 s) rather than for a fixed delay. */
  private def settle(read: => Int): Unit = {
    var last = -1
    var waited = 0
    while (read != last && waited < 1000) {
      last = read; Thread.sleep(20); waited += 20
    }
  }

  /** Build and count query `n` as Bench does: (rows, wall ms). */
  private def timedCount(spark: SparkSession, dir: String, n: String): (Long, Double) =
    Runner.isolated(spark, n) {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(n)(spark, dir).count()
      (rows, (System.nanoTime() - t0) / 1e6)
    }

  private def explain(spark: SparkSession, dir: String, queries: Seq[String]): Boolean = {
    queries.foreach { n =>
      println(s"==== $n ====")
      Runner.isolated(spark, n)(SparkEntry.queries(n)(spark, dir).explain("formatted"))
    }
    true
  }

  private def jobs(spark: SparkSession, dir: String, queries: Seq[String]): Boolean = {
    // counted BY JOB GROUP, not by a global counter, so a lagging bus
    // can never attribute a job to the wrong query
    val jobCounts = new ConcurrentHashMap[String, AtomicInteger]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        Option(s.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobCounts.computeIfAbsent(g, _ => new AtomicInteger(0))
            .incrementAndGet())
    })
    Runner.warmUp(spark, dir)
    queries.foreach { n =>
      val (_, ms) = timedCount(spark, dir, n)
      def count(): Int = Option(jobCounts.get(n)).map(_.get()).getOrElse(0)
      settle(count())
      println(f"JOBAUDIT $n%-40s ${ms}%9.1f ms ${count()}%4d jobs")
    }
    true
  }

  private def streams(spark: SparkSession, dir: String, queries: Seq[String]): Boolean = {
    // queries run one at a time, so the events between two clears
    // belong to exactly one query
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress; () }
    })
    val provider =
      if (spark.conf.get("spark.sql.streaming.stateStore.providerClass").contains("RocksDB"))
        "rocksdb" else "hdfs"
    Runner.warmUp(spark, dir)
    queries.foreach { n =>
      progress.synchronized(progress.clear())
      val (rows, wallMs) = timedCount(spark, dir, n)
      settle(progress.synchronized(progress.size))
      val ps = progress.synchronized(progress.toList)
      def metric(so: org.apache.spark.sql.streaming.StateOperatorProgress, k: String): Long =
        Option(so.customMetrics.get(k)).map(_.longValue).getOrElse(0L)
      def peak(f: StreamingQueryProgress => Long): Long = (0L +: ps.map(f)).max
      val durations = ps.flatMap(_.durationMs.asScala.toSeq)
        .groupMapReduce(_._1)(_._2.longValue)(_ + _)
      val ops = ps.flatMap(_.stateOperators)
      println(
        s"""{"query":"$n","wall_ms":${math.round(wallMs)},"rows":$rows""" +
          s""","batches":${ps.size},"max_batch_ms":${peak(_.batchDuration)}""" +
          s""","state_commit_ms":${ops.map(so => so.allUpdatesTimeMs + so.commitTimeMs).sum}""" +
          s""","state_parts":${ops.map(metric(_, "numShufflePartitions")).sum}""" +
          s""","peak_state_rows":${peak(_.stateOperators.map(_.numRowsTotal).sum)}""" +
          s""","peak_state_bytes":${peak(_.stateOperators.map(so =>
            math.max(so.memoryUsedBytes, metric(so, "stateOnCurrentVersionSizeBytes"))).sum)}""" +
          // Spark 4.1's RocksDB provider reports sst size + pinned
          // block memory; it has no single total-memory metric
          s""","peak_rocksdb_sst_plus_pinned_bytes":${peak(_.stateOperators.map(so =>
            metric(so, "rocksdbSstFileSize") + metric(so, "rocksdbPinnedBlocksMemoryUsage")).sum)}""" +
          s""","provider":"$provider","durations_ms":""" +
          durations.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}}"))
    }
    true
  }

  private def shapes(spark: SparkSession, dir: String, queries: Seq[String]): Boolean = {
    def summarize(p: SparkPlan): String = nodes(p).map(_.getClass.getSimpleName).mkString(" > ")
    queries.foreach { n =>
      Runner.isolated(spark, n) {
        nodes(SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan).foreach {
          case w: WindowExec if w.partitionSpec.isEmpty =>
            println(s"GLOBALWIN $n :: ${summarize(w.child)}")
          case j: BroadcastNestedLoopJoinExec =>
            println(s"BNLJ $n :: ${summarize(if (j.buildSide == BuildLeft) j.left else j.right)}")
          case _ => ()
        }
      }
    }
    true
  }

  /** Why: the sf1 correctness replay found drift-set DuckDB oracles
    * that are themselves the quadratic recompute (one exceeded 25 min
    * at sf1), so replaying through DuckDB does not bound. What the
    * replay is FOR is narrower: the oracle has only checked these
    * queries under the broadcast plans small inputs get, and larger
    * inputs execute sort-merge plans. This checks exactly that — same
    * engine, same query, both strategies, bit-identical results — and
    * prints each side's join signature so a vacuous A/B (no strategy
    * change) is visible. The fingerprint (row count + sum of xxhash64
    * over all columns as decimal(38,0)) is exact: per-row values are
    * plan-order-independent, so any difference is a real one.
    */
  private def strategyAb(spark: SparkSession, dir: String, queries: Seq[String]): Boolean = {
    def fingerprint(df: DataFrame): (Long, java.math.BigDecimal, String) = {
      val h = xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)")
      // the signature must come from the query that RAN: reading the
      // agg's executedPlan after head() sees the final adaptive plan,
      // so a runtime SMJ→BHJ demotion is visible
      val agg = df.agg(count(lit(1)), sum(h))
      val r = agg.head()
      val sig = nodes(agg.queryExecution.executedPlan).map(_.nodeName)
        .filter(_.contains("Join")).groupBy(identity).toSeq.sortBy(_._1)
        .map { case (k, v) => s"${v.size}x$k" }.mkString("+")
      (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO), sig)
    }
    val defaultThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val mismatches = queries.count { n =>
      val natural = Runner.isolated(spark, n)(fingerprint(SparkEntry.queries(n)(spark, dir)))
      // 512 MB: far past every drift side at sf1 (tens of MB), far
      // under the 8 GB broadcast hard cap — restores the small-input shapes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", String.valueOf(512L << 20))
      val forced =
        try Runner.isolated(spark, n)(fingerprint(SparkEntry.queries(n)(spark, dir)))
        finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", defaultThreshold)
      val ok = natural._1 == forced._1 && natural._2.compareTo(forced._2) == 0
      println(s"${if (ok) "MATCH" else "MISMATCH"} $n rows=${natural._1}" +
        s"${if (ok) "" else s"/${forced._1}"} natural[${natural._3}] forced[${forced._3}]")
      !ok
    }
    if (mismatches > 0) Console.err.println(s"$mismatches mismatches")
    mismatches == 0
  }
}
