package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared registry runner and the `Audit` main's argument
  * handling: name resolution, the per-query isolation boundary, and
  * the `names` listing the tools/ scripts parse.
  */
class AuditSpec extends AnyFunSuite {
  import SparkTestSession._

  private val registry = SparkEntry.queries.keys.toSeq.sorted

  test("an unknown query name fails before any Spark work and lists the registry") {
    val e = intercept[IllegalArgumentException](
      Runner.resolve(Seq("q1_pricing_summary", "no_such_query")))
    assert(e.getMessage ==
      s"unknown queries: no_such_query; available: ${registry.mkString(", ")}")
    // every Audit mode resolves its names before building a session
    val viaAudit = intercept[IllegalArgumentException](
      Audit.main(Array("jobs", sf, "no_such_query")))
    assert(viaAudit.getMessage == e.getMessage)
  }

  test("names resolve in the order given; none means the sorted registry") {
    assert(Runner.resolve(Seq("q5_region_revenue", "q1_pricing_summary")) ==
      Seq("q5_region_revenue", "q1_pricing_summary"))
    assert(Runner.resolve(Nil) == registry)
  }

  test("an unknown mode or a missing sf dir fails with the usage line") {
    Seq(Array("no_such_mode", sf), Array("explain"), Array.empty[String]).foreach { args =>
      val e = intercept[IllegalArgumentException](Audit.main(args))
      assert(e.getMessage.startsWith("usage: Audit names |"), args.mkString(" "))
    }
  }

  test("Audit names prints every registry query, sorted, with its oracle kind") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Audit.main(Array("names")))
    val rows = out.toString("UTF-8").split("\n").toSeq.map(_.split("\t").toSeq)
    assert(rows.map(_.head) == registry)
    rows.foreach { case Seq(name, kind) =>
      assert(kind == (if (SparkEntry.oracleSql.contains(name)) "sql" else "rows"), name)
    }
    assert(rows.exists(_(1) == "sql"))
  }

  test("the streaming drains are registry queries") {
    assert(SparkEntry.streamingDrains.nonEmpty)
    assert(SparkEntry.streamingDrains.subsetOf(SparkEntry.queries.keySet))
  }

  test("isolated drops earlier caches and tags the query's jobs") {
    val sc = spark.sparkContext
    CacheScope.materialize(spark.range(10).toDF())
    val seen = Runner.isolated(spark, "q1_pricing_summary") {
      (CacheScope.activeCount, sc.getLocalProperty("spark.jobGroup.id"))
    }
    assert(seen == (0, "q1_pricing_summary"))
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }
}
