package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {
  private val known = graft.SparkEntry.queries.keySet

  test("the four workloads are defined") {
    assert(Workloads.all.map(_.name) ==
      Seq("adhoc_sql", "iterative_curation", "staging_ingest", "heavy_kernels"))
  }

  test("every listed key exists in SparkEntry.queries, once, in one workload") {
    assert(Workloads.problems(known).isEmpty, Workloads.problems(known).mkString("\n"))
  }

  test("the check reports unknown, repeated and shared keys") {
    val ws = Seq(Workload("a", 1.0, Seq("agg_histogram", "agg_histogram", "no_such_key")),
      Workload("b", 1.0, Seq("agg_histogram")))
    val ps = Workloads.problems(known, ws)
    assert(ps.exists(_.contains("unknown key no_such_key")))
    assert(ps.exists(_.contains("agg_histogram listed twice")))
    assert(ps.exists(_.contains("agg_histogram is in both a and b")))
  }

  test("staging_ingest holds exactly the listed staging, lifecycle and streaming keys") {
    val staging = graft.sources.Staging.queries.keySet ++ graft.operators.Lifecycle.queries.keySet ++
      graft.streaming.Streaming.queries.keySet
    val wl = Workloads.byName("staging_ingest").get
    assert(wl.keys.forall(staging))
    Workloads.all.filter(_.name != "staging_ingest").foreach(w => assert(!w.keys.exists(staging), w.name))
  }

  test("the seed permutes the key order only, and the same seed gives the same order") {
    Workloads.all.foreach { w =>
      assert(w.order(7) == w.order(7))
      assert(w.order(7).sorted == w.keys.sorted)
      assert((1 to 20).map(w.order(_)).distinct.size > 1, w.name)
    }
  }

  test("every listed key has an expected digest") {
    val expected = Expected.load(Paths.get(sys.props("user.dir"), "expected.tsv").toString)
    Workloads.all.flatMap(_.keys).foreach(k => assert(expected.has(k), k))
  }

  test("the sink digest ignores row order and partitioning but sees every column") {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val df = spark.range(1000).selectExpr("id", "cast(id % 7 as string) COLLATE UTF8_LCASE AS s", "array(id, id * 2) AS a")
      val d = ChecksumSink.write(df)
      assert(d.rows == 1000)
      assert(ChecksumSink.write(df.repartition(5).orderBy(df("id").desc)) == d)
      assert(ChecksumSink.write(df.selectExpr("id", "s", "array(id, id * 3) AS a")).checksum != d.checksum)
    } finally spark.stop()
  }
}
