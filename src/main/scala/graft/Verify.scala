package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter]
    if (args.length < 2) {
      System.err.println("usage: Verify <sfDir> <outDir> [name,name,...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    val names = Runner.resolve(args.drop(2).headOption.toSeq.flatMap(_.split(",")))
    val spark = Runner.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      Runner.isolated(spark, name) {
        try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // an analysis-time failure never reaches overwrite's
          // delete-and-commit, so a REUSED outDir would still hold the
          // previous run's parquet and the compare would silently pass
          // on stale output — delete it so the failure is a visible
          // missing-output FAIL, not a phantom pass
          val dir = new java.io.File(s"$outDir/$name")
          if (dir.exists()) {
            def rm(f: java.io.File): Unit = {
              Option(f.listFiles()).foreach(_.foreach(rm))
              f.delete(); ()
            }
            rm(dir)
          }
        }
      }
    }
    CacheScope.releaseAll()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
