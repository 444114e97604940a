package graft.tools

import graft.Harness
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Diagnostic main: the nearDupStream STATE-SCALE cell (r15, VERDICT r14
  * item 4). Drives sustained fresh-content churn through the streaming
  * near-dup operator twice — stateTtl unset vs set — and prints the
  * state store's own row count (numRowsTotal from the progress feed)
  * after every micro-batch:
  *
  *  - without a TTL, bucket count grows with ALL history (one
  *    (band, band_key) entry per vocabulary-distinct band, forever);
  *  - with an event-time TTL, untouched buckets evict once the
  *    watermark passes last-touch + TTL, so state plateaus at
  *    ~churn × TTL regardless of how long the stream lives.
  *
  * Content is content-addressed (splitmix64 of the doc id — no RNG
  * state), so the cell replays byte-identically.
  *
  *   runMain graft.tools.StreamTtlProbe [nBatches] [docsPerBatch]
  */
object StreamTtlProbe {

  private def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def main(args: Array[String]): Unit = {
    val nBatches = if (args.length > 0) args(0).toInt else 40
    val perBatch = if (args.length > 1) args(1).toInt else 50
    val spark = Harness.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.Doc

    val t0 = 1704067200000L // 2024-01-01T00:00Z, the engine's fixed epoch
    def text(id: Long): String =
      // 12 fresh words per doc from a 100k synthetic vocabulary: every
      // doc is distinct, so every batch mints ~4 new band buckets per
      // doc — the sustained-churn worst case for unbounded state
      (0 until 12).map(w => s"w${math.floorMod(mix(id * 31 + w), 100000)}")
        .mkString(" ")
    def batchDocs(b: Int): Seq[Doc] =
      (0 until perBatch).map { i =>
        val id = b.toLong * perBatch + i
        // 10 event-minutes between batches: with a 30-minute TTL the
        // live window is ~4 batches of buckets
        Doc(id, new java.sql.Timestamp(t0 + b.toLong * 10 * 60000L), text(id))
      }

    def run(label: String, ttl: Option[String]): Vector[(Int, Long)] = {
      implicit val sqlCtx = spark.sqlContext
      val source = MemoryStream[Doc]
      val q = EventStreams.runToMemory(
        EventStreams.nearDupStream(source.toDS(), stateTtl = ttl,
          ttlLateness = if (ttl.isDefined) "0 seconds" else null).toDF(),
        s"ttl_probe_$label", mode = OutputMode.Append())
      def stateRows: Long = Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      val out = Vector.newBuilder[(Int, Long)]
      try {
        for (b <- 0 until nBatches) {
          source.addData(batchDocs(b): _*)
          q.processAllAvailable()
          // eviction runs in the watermark-triggered follow-up batch;
          // processAllAvailable has already drained it, but the progress
          // metric can trail one event — read the last progress now
          val rows = stateRows
          out += ((b, rows))
          println(s"[ttl] mode=$label batch=$b evmin=${b * 10} stateRows=$rows")
        }
      } finally q.stop()
      out.result()
    }

    val none = run("none", None)
    val ttl = run("ttl30m", Some("30 minutes"))
    val noneMax = none.map(_._2).max
    val ttlMax = ttl.map(_._2).max
    val ttlTail = ttl.drop(nBatches / 2).map(_._2)
    println(f"[ttl] SUMMARY docs=${nBatches * perBatch} " +
      f"none: final=${none.last._2} max=$noneMax (grows with history) | " +
      f"ttl30m: final=${ttl.last._2} max=$ttlMax " +
      f"tail-plateau=[${ttlTail.min}..${ttlTail.max}] " +
      f"bound=${100.0 * ttlMax / math.max(noneMax, 1)}%.1f%% of unbounded")
    spark.stop()
  }
}
