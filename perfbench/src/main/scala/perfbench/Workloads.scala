package perfbench

/** One named list of `graft.SparkEntry.queries` keys.
  *
  * `passSeconds` sets how many passes a run makes: `seconds / passSeconds`,
  * rounded, and at least 2. It is fixed per workload, so every run of a
  * workload draws the same number of key samples whatever the seed or the
  * load on the machine. */
final case class Workload(name: String, passSeconds: Double, keys: Seq[String]) {
  def passes(seconds: Int): Int = math.max(2, math.round(seconds / passSeconds).toInt)

  /** The seed permutes only the order in which the keys run. It is mixed
    * first: `java.util.Random` gives nearly the same first draws for
    * neighbouring seeds, which left short lists in one order. */
  def order(seed: Long): Seq[String] =
    new scala.util.Random(new java.util.SplittableRandom(seed).nextLong()).shuffle(keys)
}

object Workloads {
  /** Chosen from the whole-board survey (README.md, count() versus
    * materialise). Each list is a fixed subset of its class, sized so a
    * pass lasts a few seconds; README.md gives the class rules and why
    * each workload exists. */
  val all: Seq[Workload] = Seq(
    Workload("adhoc_sql", 4.5, Seq(
      "topk_order_limit", "multimodal_resize", "fn_array", "sample_weighted_reservoir", "fn_math",
      "join_cross", "agg_histogram", "subquery_correlated_exists", "dq_psi_drift")),
    Workload("iterative_curation", 3.0, Seq("dedup_minhash_lsh", "graph_pagerank", "text_bpe_train_rounds")),
    Workload("staging_ingest", 2.7, Seq("stage_merge_upsert", "sink_parquet_partitioned", "stream_stateful_counter")),
    Workload("heavy_kernels", 5.0, Seq("text_span_dedup", "sim_lsh_ann")))

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  /** Problems with the lists against the engine's key set: unknown
    * keys, keys listed twice, and keys shared between workloads. */
  def problems(known: Set[String], ws: Seq[Workload] = all): Seq[String] = {
    val unknown = ws.flatMap(w => w.keys.filterNot(known).map(k => s"${w.name}: unknown key $k"))
    val repeated = ws.flatMap(w =>
      w.keys.groupBy(identity).collect { case (k, ks) if ks.size > 1 => s"${w.name}: $k listed twice" })
    val shared = ws.combinations(2).toSeq.flatMap { case Seq(a, b) =>
      a.keys.intersect(b.keys).map(k => s"$k is in both ${a.name} and ${b.name}")
    }
    unknown ++ repeated ++ shared
  }
}
