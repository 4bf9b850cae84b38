package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe shared by every main (Bench, Verify,
  * Audit and ScaleUp, through [[Runner.session]]): local[cpus],
  * matching shuffle width, UTC, GraftExtensions, Tables.sessionConf
  * reader flags. A single definition — Bench must time exactly the
  * session Verify validates.
  */
object Sessions {
  /** `SPARK_GRAFT_STATESTORE=rocksdb` swaps the streaming state-store
    * provider for the whole session — the deployment-representative
    * twin (SURVEY §4: state that outgrows executor heaps lives in
    * RocksDB). An env switch here rather than a per-main flag so
    * Verify, Bench, and Audit all price/validate the SAME
    * session recipe under either provider; Bench suffixes its
    * artifact (`BENCH_LOCAL_rocksdb.json`) so a RocksDB pricing run
    * can never clobber the HDFS-provider canonical.
    */
  private def stateStoreConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_STATESTORE") match {
      case Some(s) if s.equalsIgnoreCase("rocksdb") =>
        Seq("spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider"))
      case _ => Seq.empty
    }

  def build(cpus: String, appName: String = "graft"): SparkSession = {
    val spark = (Tables.sessionConf ++ stateStoreConf).foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        // Static conf, sized to the full query surface: the default
        // 100-entry codegen cache cannot hold the suite's several
        // hundred WholeStageCodegen units, so any workload that
        // cycles through the whole registry (Bench pass-major reps,
        // Verify) recompiles every generated class on every pass —
        // measured +7 s / +13% suite-wide at sf0.1 (BASELINE.md
        // "Measurement hygiene").
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
