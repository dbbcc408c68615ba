package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import Main.{Args, secs}

/** Callbacks around each key of a pass. The timed passes use [[NoHooks]];
  * only the traced passes install a [[Tracer]]. */
trait Hooks {
  def beginKey(id: Int, pass: Int, name: String): Unit = ()
  def phase(name: String): Unit = ()
  def endKey(): Unit = ()
}
object NoHooks extends Hooks

final case class KeySample(id: Int, pass: Int, name: String, constructS: Double,
                           materialiseS: Double, error: Option[String]) {
  def latencyS: Double = constructS + materialiseS
}

final case class PassResult(index: Int, startMs: Long, endMs: Long, wallS: Double, cpuS: Double,
                            gcS: Double, liveMb: Double, keys: Seq[KeySample])

/** Expected row count and digest of each key, as committed in
  * `perfbench/expected.tsv`. */
final class Expected(rows: Map[String, (Long, String, String)]) {
  def has(key: String): Boolean = rows.contains(key)
  def check(key: String, d: Digest): Option[String] = {
    val (n, hex, how) = rows(key)
    if (d.rows != n) Some(s"rows ${d.rows} != expected $n")
    else if (how == "digest" && d.hex != hex) Some(s"checksum ${d.hex} != expected $hex")
    else None
  }
}
object Expected {
  def load(path: String): Expected = new Expected(
    Files.readAllLines(Paths.get(path), UTF_8).asScala.drop(1).filter(_.nonEmpty).map { l =>
      val Array(k, n, hex, how) = l.split("\t")
      k -> ((n.toLong, hex, how))
    }.toMap)
}

object Runner {
  private var nextId = 0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest sample that still has 10 samples above it (the largest
    * one when there are 10 or fewer), with its percentile rank and the
    * sample count. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted(Ordering[Double].reverse)
    val i = if (s.size > 10) 10 else 0
    (s(i), 100.0 * (s.size - 1 - i) / math.max(1, s.size - 1), s.size)
  }

  def pass(spark: SparkSession, index: Int, order: Seq[String], a: Args, expected: Expected,
           hooks: Hooks): PassResult = {
    val (cpu0, gc0, startMs, t0) = (Main.cpuSeconds(), Main.gcSeconds(), System.currentTimeMillis(), System.nanoTime())
    val samples = order.map { name =>
      nextId += 1
      hooks.beginKey(nextId, index, name)
      var (constructS, materialiseS) = (0.0, 0.0)
      val k0 = System.nanoTime()
      val error = try {
        hooks.phase("construct")
        val df = Main.keyFn(name)(spark, a.fixtures)
        constructS = secs(k0)
        val k1 = System.nanoTime()
        hooks.phase("materialise")
        val digest = ChecksumSink.write(df)
        materialiseS = secs(k1)
        expected.check(name, digest)
      } catch { case NonFatal(e) =>
        if (constructS == 0.0) constructS = secs(k0) else materialiseS = secs(k0) - constructS
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      hooks.endKey()
      error.foreach(e => System.err.println(s"[perfbench] pass $index key $name FAILED: $e"))
      KeySample(nextId, index, name, constructS, materialiseS, error)
    }
    val (wall, endMs) = (secs(t0), System.currentTimeMillis())
    val (cpu, gc) = (Main.cpuSeconds() - cpu0, Main.gcSeconds() - gc0)
    // live set at the end of the pass, outside the pass's timed span
    System.gc()
    val rt = Runtime.getRuntime
    PassResult(index, startMs, endMs, wall, cpu, gc, (rt.totalMemory - rt.freeMemory) / 1048576.0, samples)
  }

  def run(a: Args): Int = {
    val wl = Workloads.byName(a.workload).getOrElse {
      System.err.println(s"unknown workload '${a.workload}'; known: ${Workloads.all.map(_.name).mkString(", ")}")
      return 2
    }
    val problems = Workloads.problems(graft.SparkEntry.queries.keySet)
    val expected = Expected.load(a.expected)
    val unchecked = wl.keys.filterNot(expected.has)
    if (problems.nonEmpty || unchecked.nonEmpty) {
      (problems ++ unchecked.map(k => s"no expected digest for $k")).foreach(p => System.err.println(s"[perfbench] $p"))
      return 2
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Main.session()
    val order = wl.order(a.seed)
    val passes = wl.passes(a.seconds)
    val heapMb = Runtime.getRuntime.maxMemory / 1048576
    val stamp = s"workload=${wl.name} seed=${a.seed} passes=$passes keys_per_pass=${order.size} " +
      s"trace=${if (a.trace) 1 else 0} cores=${Main.Cores} heap_mb=$heapMb sf=0.1 spark=${spark.version} " +
      s"java=${System.getProperty("java.version")} ${a.stamp}"
    println(s"[perfbench] $stamp")
    println(s"[perfbench] order: ${order.mkString(",")}")

    // set-up: session start plus one untimed pass over the workload
    val warm = pass(spark, 0, order, a, expected, NoHooks)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    println(f"[perfbench] setup: untimed pass ${warm.wallS}%.3f s, ${warm.keys.count(_.error.nonEmpty)} failed")

    // With --trace 1 the timed and traced passes alternate (U T, T U, ...),
    // so both sets see the same JIT warm-up and their difference is the
    // tracing overhead. A timed pass never has a listener attached.
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val runs = (1 to passes).map { i =>
      def untraced() = pass(spark, 2 * i - 1, order, a, expected, NoHooks)
      def traced(t: Tracer) = {
        t.attach()
        try pass(spark, 2 * i, order, a, expected, t) finally t.detach()
      }
      tracer match {
        case None => untraced() -> None
        case Some(t) if i % 2 == 1 => val u = untraced(); u -> Some(traced(t))
        case Some(t) => val tp = traced(t); untraced() -> Some(tp)
      }
    }
    val timed = runs.map(_._1)
    val tracedPasses = runs.flatMap(_._2)
    val all = timed ++ tracedPasses
    all.foreach { p =>
      println(f"[perfbench] pass ${p.index}%d: wall_s=${p.wallS}%.3f cpu_s=${p.cpuS}%.3f gc_s=${p.gcS}%.3f " +
        f"live_mb=${p.liveMb}%.1f " +
        s"failed=${p.keys.count(_.error.nonEmpty)}${if (p.index % 2 == 0) " (traced)" else ""}")
    }

    val samples = timed.flatMap(_.keys)
    val failed = all.flatMap(_.keys).count(_.error.nonEmpty)
    val attempted = all.flatMap(_.keys).size
    val lat = samples.filter(_.error.isEmpty).map(_.latencyS)
    val (tailS, tailPct, tailN) = if (lat.isEmpty) (0.0, 0.0, 0) else tail(lat)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", median(timed.map(_.wallS)), "s"),
      ("key_p50_s", median(lat), "s"),
      ("key_tail_s", tailS, "s"),
      ("heap_peak_mb", timed.map(_.liveMb).max, "MB"))
    e2e.foreach { case (n, v, u) =>
      val note = if (n == "key_tail_s") f"  (p$tailPct%.1f of $tailN samples, ${if (tailN > 10) 10 else 0} beyond it)" else ""
      println(f"$n = $v%.4f $u$note")
    }
    // printed, not bounded: process CPU time swings with the machine's speed
    // more than any bound the benchmark may set (README.md, Steadiness)
    println(f"cpu_s = ${median(timed.map(_.cpuS))}%.4f s")
    println(f"fail_ratio = ${failed.toDouble / attempted}%.4f ($failed/$attempted)")

    val perLayer = tracer.map { t =>
      val layers = t.report(tracedPasses, median(timed.map(_.wallS)), Paths.get(a.out))
      layers.foreach { case (n, v, u) => println(f"$n = $v%.6f $u") }
      layers
    }
    val metrics = perLayer.getOrElse(e2e)
    val json = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    Files.write(Paths.get(a.out, "run.txt"), (stamp +: all.flatMap(_.keys).map { k =>
      f"${k.pass}\t${k.name}\t${k.constructS}%.6f\t${k.materialiseS}%.6f\t${k.error.getOrElse("ok")}"
    }).asJava, UTF_8)
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    if (failed == 0) 0 else 1
  }
}
