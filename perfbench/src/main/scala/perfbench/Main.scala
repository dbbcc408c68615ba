package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark entry point. Usually launched by `perfbench/run.py`, which
  * builds the classes and the fixtures first.
  *
  * Modes:
  *   run       one workload: setup, timed passes, output check, and with
  *             `--trace 1` a second set of passes under the tracer
  *   expected  writes the expected digests of every listed key
  *   survey    every key of `SparkEntry.queries`: construct time, then
  *             `count()` time, then materialise time of the same frame
  */
object Main {
  val Cores = 4

  final case class Args(mode: String, workload: String, seed: Long, seconds: Int,
                        trace: Boolean, fixtures: String, expected: String, out: String,
                        stamp: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("mode", "run"), m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.get("trace").contains("1"), m("fixtures"),
      m.getOrElse("expected", ""), m("out"), m.getOrElse("stamp", ""))
  }

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val code = a.mode match {
      case "run"      => Runner.run(a)
      case "expected" => writeExpected(a)
      case "survey"   => survey(a)
      case other      => System.err.println(s"unknown mode $other"); 2
    }
    sys.exit(code)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def keyFn(name: String): (SparkSession, String) => DataFrame = graft.SparkEntry.queries(name)

  /** Runs every listed key twice, in two different orders, and records
    * its digest. A key whose two digests differ is checked by row count
    * only; a key whose row counts differ cannot be checked and aborts. */
  def writeExpected(a: Args): Int = {
    val spark = session()
    val keys = Workloads.all.flatMap(_.keys)
    def pass(seed: Long): Map[String, Digest] =
      new scala.util.Random(seed).shuffle(keys).map(k => k -> ChecksumSink.write(keyFn(k)(spark, a.fixtures))).toMap
    val (one, two) = (pass(1), pass(2))
    val lines = keys.sorted.map { k =>
      val (d1, d2) = (one(k), two(k))
      require(d1.rows == d2.rows, s"$k: row count differs between two runs (${d1.rows} vs ${d2.rows})")
      val check = if (d1 == d2) "digest" else "rows"
      s"$k\t${d1.rows}\t${d1.hex}\t$check"
    }
    Files.write(Paths.get(a.expected), ("key\trows\tchecksum\tcheck" +: lines).asJava, UTF_8)
    println(s"wrote ${lines.size} keys to ${a.expected}; rows-only: " +
      lines.filter(_.endsWith("\trows")).map(_.takeWhile(_ != '\t')).mkString(","))
    0
  }

  /** Per-key count-vs-materialise table over the whole key set. */
  def survey(a: Args): Int = {
    val spark = session()
    val staging = (graft.sources.Staging.queries.keySet ++ graft.operators.Lifecycle.queries.keySet ++
      graft.streaming.Streaming.queries.keySet)
    val out = Files.newBufferedWriter(Paths.get(a.out, "survey.tsv"), UTF_8)
    out.write("key\tstaging\tconstruct_s\tcount_s\tmaterialise_s\trows\tchecksum\terror\n")
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { k =>
      val row = try {
        val t0 = System.nanoTime()
        val df = keyFn(k)(spark, a.fixtures)
        val c = secs(t0)
        val t1 = System.nanoTime()
        df.count()
        val n = secs(t1)
        val t2 = System.nanoTime()
        val d = ChecksumSink.write(df)
        f"$c%.3f\t$n%.3f\t${secs(t2)}%.3f\t${d.rows}\t${d.hex}\t"
      } catch { case NonFatal(e) => s"\t\t\t\t\t${String.valueOf(e.getMessage).take(120).replaceAll("\\s+", " ")}" }
      out.write(s"$k\t${staging(k)}\t$row\n")
      out.flush()
    }
    out.close()
    0
  }

  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
}
