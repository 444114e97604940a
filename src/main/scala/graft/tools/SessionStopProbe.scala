package graft.tools

import graft.Harness

/** Forked-JVM probe for the session-cache lifecycle (driven by
  * SessionStopSpec — it must run in its own JVM because it STOPS the
  * SparkContext, which the shared test session cannot survive):
  *
  *   1. fill two session caches (star + grams) and observe live entries
  *      and persisted blocks;
  *   2. stop the session → the SessionScoped context listener must evict
  *      every entry (the blocks die with the context);
  *   3. start a SECOND context in the same JVM → it must begin with zero
  *      persisted RDDs and zero registry entries, and the caches must
  *      rebuild cleanly under it.
  *
  * Exit 0 + "[session-stop-probe] OK" on success; exit 1 with a FAIL
  * line otherwise.
  */
object SessionStopProbe {

  private def fail(msg: String): Nothing = {
    System.err.println(s"[session-stop-probe] FAIL: $msg")
    sys.exit(1)
  }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")

    val s1 = Harness.session(4)
    graft.model.Star.build(s1, sfDir).dimCustomer.count()
    graft.queries.QueryCatalog.decontamination(s1, sfDir).count()
    check(graft.util.SessionScoped.totalEntries >= 2,
      s"expected >=2 cache entries after fills, got ${graft.util.SessionScoped.totalEntries}")
    check(s1.sparkContext.getPersistentRDDs.nonEmpty,
      "expected persisted blocks while the caches are live")

    s1.stop()
    // the listener bus drains during stop(), but delivery is async — poll
    var waitedMs = 0
    while (graft.util.SessionScoped.totalEntries != 0 && waitedMs < 10000) {
      Thread.sleep(100); waitedMs += 100
    }
    check(graft.util.SessionScoped.totalEntries == 0,
      s"context stop must evict all entries; ${graft.util.SessionScoped.totalEntries} remain")

    // sequential second context in the same JVM: starts clean, rebuilds
    val s2 = Harness.session(4)
    check(s2 ne s1, "getOrCreate after stop must make a fresh session")
    check(s2.sparkContext.getPersistentRDDs.isEmpty,
      "a fresh context must start with no persisted RDDs")
    graft.model.Star.build(s2, sfDir).dimCustomer.count()
    check(graft.util.SessionScoped.totalEntries == 1,
      s"rebuild under the new session must register exactly its own entry, " +
        s"got ${graft.util.SessionScoped.totalEntries}")
    s2.stop()

    println("[session-stop-probe] OK")
  }
}
