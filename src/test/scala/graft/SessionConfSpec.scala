package graft

/** A key must leave the session conf as it found it. For every key that
  * scopes a conf, this compares the session's explicit settings
  * (`conf.getAll`) before and after constructing the key and writing
  * its full result, plus the `SessionConf.withConf` contract itself on
  * a key Spark registers with a default — the case a `getOption`-based
  * restore gets wrong, because it sees the default as a prior value and
  * pins it explicitly. */
class SessionConfSpec extends GraftSuite {

  /** Explicit-settings diff, (key, before, after) per changed key. */
  private def confDiff(before: Map[String, String],
      after: Map[String, String]): Seq[(String, Option[String], Option[String])] =
    (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
      .map(k => (k, before.get(k), after.get(k)))

  private val overwriteMode = "spark.sql.sources.partitionOverwriteMode"

  test("withConf unsets a registered key that had no explicit value") {
    spark.conf.unset(overwriteMode)
    val before = spark.conf.getAll
    val seen = SessionConf.withConf(spark, overwriteMode -> "dynamic") {
      spark.conf.get(overwriteMode)
    }
    assert(seen == "dynamic")
    assert(confDiff(before, spark.conf.getAll).isEmpty)
  }

  test("withConf restores an explicit value, also when the body throws") {
    spark.conf.set(overwriteMode, "STATIC")
    try {
      intercept[IllegalStateException] {
        SessionConf.withConf(spark, overwriteMode -> "dynamic") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.getAll.get(overwriteMode).contains("STATIC"))
    } finally spark.conf.unset(overwriteMode)
  }

  // Every declared key that scopes a session conf, and the graph-ANN
  // search that all four graph-ANN keys share.
  private val scopedKeys = Seq(
    "stage_idempotent_rewrite", "sink_overwrite_dynamic_partitions",
    "stream_transform_with_state", "stream_stateful_counter",
    "sql_scripting_while", "join_skew_aqe", "join_runtime_bloom",
    "sim_ivf_ann", "sim_centroid_classifier",
    "sim_pq_ann", "sim_pq_recall_eval", "sim_ivfpq_ann",
    "sim_graph_ann", "dedup_icws_band_eval")

  scopedKeys.foreach { key =>
    test(s"$key leaves the session conf as it found it") {
      // Tables.events sets nanosAsLong session-wide on purpose (the
      // events fixture cannot be read without it); set it up front so
      // the diff shows only what the key itself leaves behind
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val before = spark.conf.getAll
      SparkEntry.queries(key)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      val diff = confDiff(before, spark.conf.getAll)
      assert(diff.isEmpty, s"$key changed the session conf: ${diff.mkString(", ")}")
    }
  }
}
