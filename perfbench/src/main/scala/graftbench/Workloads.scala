package graftbench

/** The workloads' fixed query lists and pass counts.
  *
  * `curate` is a fixed slice of the 28 `d*`/`e*` queries, sized so that
  * one cold pass plus a warm pass fit the run's measuring window (the
  * whole family takes about 65 s cold and 33 s warm on 4 cores). It was
  * picked from per-query cold and warm times measured over the whole
  * family (perfbench/README.md, "Choosing the curate slice") so that
  * its cold/warm ratio stays near the family's and each mechanism the
  * family exercises appears once: the shared MinHash signature frames
  * (`FrameCache`), the catalog-backed signature store and its
  * `localCheckpoint` materializations, the edit-distance and substring
  * kernels, the quality-gate and DSIR TextAnalysis columns with
  * packing, and one streaming curation drain. */
object Workloads {

  val batchScale = "sf0.1"
  val serveScale = "sf0.01"

  val curate: Seq[String] = Seq(
    "d02_dedup_minhash", "d07_dedup_incremental", "d10_editdist", "d14_substring_dedup",
    "e01_curate", "e05_curate_select_pack", "st09_stream_curate")

  /** Nominal cold and warm pass seconds on 4 cores, used only to turn
    * the run's measuring window into a fixed number of warm passes: a
    * count that depended on how fast this run went would change what
    * the pass medians mean from run to run. */
  private val nominal: Map[String, (Double, Double)] = Map(
    "curate" -> (26.0, 14.0), "serve" -> (9.0, 7.0))

  def warmPasses(workload: String, seconds: Int): Int = {
    val (cold, warm) = nominal(workload)
    math.max(1, ((seconds - cold) / warm).toInt)
  }
}
