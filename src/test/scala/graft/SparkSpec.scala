package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. One session per suite (cheap —
  * getOrCreate reuses the context across suites in the same JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with the given session confs set, then restores each
    * key's previous value (or unsets it). */
  protected def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Jobs started while `body` runs: a sentinel job tagged by a local
    * property marks the end, so every event before it has been seen. */
  protected def jobsStartedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("graft.witness") == "end"))
          done.countDown()
        else if (done.getCount > 0) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.witness", "end")
      try spark.range(1).collect() finally sc.setLocalProperty("graft.witness", null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "sentinel job not seen")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // keep the session for sibling suites; stopped by the JVM at exit
    super.afterAll()
  }
}
