package perfbench

/** The benchmark workloads: which `SparkEntry.queries` each pass runs,
  * in order, and which graft module span each query is timed under. A
  * query's module is the layer that does most of its work; the module's
  * per-layer metric sums the queries tagged with it. Every pass rebuilds
  * from scratch: it ends by releasing every session cache.
  */
object Workloads {

  final case class Step(query: String, module: String)

  final case class Workload(name: String, steps: Seq[Step])

  private def steps(pairs: (String, String)*): Seq[Step] =
    pairs.map { case (q, m) => Step(q, m) }

  /** The paper's pipeline, rebuilt from scratch on every pass: CSV ingest,
    * window-max preprocess, star fill (the fact pulls in the dims it
    * joins), the check gate over the whole star and the year report. Then
    * the read side of the star it just built: a ratio-to-report window,
    * the native bounded-heap top-k and the native t-digest sketch. q53's
    * auto-dial rank functions would fit here, but leave a `shapeStats`
    * memo entry that the per-pass release does not cover.
    */
  val retailElt: Workload = Workload("retail_elt", steps(
    "q38_csv_ingest"          -> "io.ingest",
    "q10_events_group_max"    -> "preprocess",
    "q06_fct_line_value"      -> "model.star_fill",
    "q23_checks_report"       -> "checks.gate",
    "q09_report_year"         -> "report",
    "q74_revenue_share"       -> "ops.window",
    "q172_top_parts_heap"     -> "ops.topk",
    "q69_tdigest_percentiles" -> "ops.agg"))

  /** The LLM-corpus pipeline: text stats, fingerprints, banded simhash
    * near-duplicates, containment duplicates and the exact prefix-filter
    * set-similarity join.
    */
  val corpus: Workload = Workload("corpus", steps(
    "q15_text_stats"           -> "text",
    "q17_fingerprint"          -> "functions.fingerprint",
    "q52_simhash_neardups"     -> "dedup.neardup",
    "q100_containment_dups"    -> "dedup.containment",
    "q142_prefix_filter_pairs" -> "sim.ssjoin"))

  val all: Seq[Workload] = Seq(retailElt, corpus)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
