package graft

import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("GraftExtensions injections register long_dot into a live session") {
    // spark.sql.extensions is a STATIC conf (read from the
    // SparkContext at session build), so the config path can't run
    // against the shared test context; apply the same injections to
    // the live session's registry instead.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    org.apache.spark.sql.graft.ExpressionBridge.applyFunctions(ext, spark)
    val r = spark.sql(
      "SELECT long_dot(array(2L, 2L), array(10L, 1L)) AS d").first()
    assert(r.getLong(0) == 22L)
  }

  test("kmv_kth is SQL-callable via the extension registry") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    org.apache.spark.sql.graft.ExpressionBridge.applyFunctions(ext, spark)
    // 3rd-smallest of 1..10 per the aggregate over a literal range
    val r = spark.sql(
      """SELECT kmv_kth(h, 3) AS kth FROM (
        |  SELECT CAST(id + 1 AS LONG) AS h FROM range(10))""".stripMargin)
      .first()
    assert(r.getLong(0) == 3L)
  }
}
