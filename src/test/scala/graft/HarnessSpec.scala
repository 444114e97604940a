package graft

import graft.dedup.Checkpoints
import graft.queries.QueryCatalog

/** The mains' shared harness: the session conf as a value (no second
  * SparkContext in the shared test JVM) and the sorted run-and-release
  * loop's failure semantics.
  */
class HarnessSpec extends SparkSpec {

  test("session conf for local[n] is Bench's conf set, n-parameterized") {
    assert(Harness.conf(8) == Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "64m"))
    assert(Harness.conf(16)("spark.master") == "local[16]")
    assert(Harness.conf(16)("spark.sql.shuffle.partitions") == "16")
  }

  test("name filter: exact names, trailing * for a prefix, stray commas dropped") {
    val only = Some(Harness.names("q16_x, ,q142*,"))
    assert(only.get == Seq("q16_x", "q142*"))
    assert(Harness.selected(only, "q16_x"))
    assert(!Harness.selected(only, "q160_x"))
    assert(Harness.selected(only, "q142_ssjoin"))
    assert(Harness.selected(None, "anything"))
    assert(!Harness.selected(Some(Nil), "anything"))
  }

  test("sorted loop: a throwing query is recorded, the next still runs, " +
       "every query's caches and output checkpoints are released") {
    val sc = spark.sparkContext
    QueryCatalog.sessionCaches.foreach(_.invalidate(spark, sf))
    Checkpoints.releaseOutputs()
    assert(graft.util.SessionScoped.totalEntries == 0)
    val pre = sc.getPersistentRDDs.keySet
    var ran = Seq.empty[String]
    def output(n: Long) = Checkpoints.output(spark.range(n).toDF("id"))
    var heldAtThird = Set.empty[Int]
    // real names, so the catalog's release points apply: the star cache
    // the first one fills is released after its last consumer, the third;
    // the output checkpoints after the query that made them, the failed
    // middle one included (the third sees none of them)
    val catalog: Map[String, Harness.Query] = Map(
      "q23_checks_report" -> ((s, d) => {
        ran :+= "q23"; heldAtThird = sc.getPersistentRDDs.keySet.toSet -- pre
        model.Star.build(s, d).dimCustomer }),
      "q02_dim_customer" -> ((s, d) => { ran :+= "q02"; model.Star.build(s, d); output(10) }),
      "q09_report_year" -> ((s, d) => {
        ran :+= "q09"; output(20).collect(); throw new IllegalStateException("boom") }))
    val outcomes = Harness.runSorted(spark, sf, catalog = catalog) { (_, df) =>
      df.write.format("noop").mode("overwrite").save()
    }
    assert(outcomes.map(_.name) == Seq("q02_dim_customer", "q09_report_year", "q23_checks_report"))
    assert(ran == Seq("q02", "q09", "q23"))
    assert(outcomes.map(_.error) == Seq(None, Some("boom"), None))
    assert(heldAtThird.isEmpty, s"checkpoints held into the third query: $heldAtThird")
    assert(graft.util.SessionScoped.totalEntries == 0)
    val leaked = sc.getPersistentRDDs.keySet -- pre
    assert(leaked.isEmpty, s"persisted RDDs left behind: ${leaked.toSeq.sorted}")
  }
}
