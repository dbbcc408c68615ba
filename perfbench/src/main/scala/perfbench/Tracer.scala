package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Splits each key's time across the layers it drives.
  *
  * Attached only for the traced passes. It uses Spark's public listener
  * APIs: a `SparkListener` (jobs, stages, task metrics, block updates,
  * SQL executions), a `QueryExecutionListener` (Catalyst phase times,
  * files written) and a `StreamingQueryListener` (per-trigger
  * progress). Jobs are tied to a key through two local properties set on
  * the client thread; events that carry no properties are tied to the
  * key whose time window contains them. Codegen counters and session
  * snapshots are read on the client thread between phases.
  */
final class Tracer(spark: SparkSession) extends SparkListener with Hooks {
  import Tracer._

  private val sc = spark.sparkContext
  private val KeyProp = "perfbench.key"
  private val PhaseProp = "perfbench.phase"

  private val keys = mutable.ArrayBuffer[KeyRec]()
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val execs = mutable.LinkedHashMap[Long, (Long, Long, String)]()
  private val qes = mutable.ArrayBuffer[QeRec]()
  private val blockSizes = mutable.Map[String, Long]()
  private val blockWrites = mutable.ArrayBuffer[(Long, Long)]() // (ms, bytes stored)
  private val runKeys = mutable.Map[String, Int]()
  private val progress = mutable.ArrayBuffer[ProgressRec]()
  @volatile private var current: KeyRec = _
  private var phaseName = ""
  private var codegenMark = (0L, 0L)
  private var before: (Int, Set[String], Map[String, String]) = _

  private def codegenNow = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  private def snapshot = (sc.getPersistentRDDs.size,
    spark.sessionState.catalog.getTempViewNames().toSet, spark.conf.getAll)
  private def storedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  // ---- client-thread hooks -------------------------------------------
  override def beginKey(id: Int, pass: Int, name: String): Unit = {
    before = snapshot
    val k = new KeyRec(id, pass, name, System.currentTimeMillis())
    k.retainedBefore = storedBytes
    synchronized { keys += k }
    current = k
    sc.setLocalProperty(KeyProp, id.toString)
  }

  private def closePhase(): Unit = if (phaseName.nonEmpty) {
    val (n, t) = codegenNow
    current.codegen(phaseName) = (n - codegenMark._1, t - codegenMark._2)
  }

  override def phase(name: String): Unit = {
    closePhase()
    if (name == "materialise") current.constructEndMs = System.currentTimeMillis()
    phaseName = name
    codegenMark = codegenNow
    sc.setLocalProperty(PhaseProp, name)
  }

  override def endKey(): Unit = {
    closePhase()
    val k = current
    k.endMs = System.currentTimeMillis()
    if (k.constructEndMs == 0) k.constructEndMs = k.endMs
    phaseName = ""
    sc.setLocalProperty(KeyProp, null)
    sc.setLocalProperty(PhaseProp, null)
    val (rdds, views, conf) = snapshot
    k.retainedBytes = storedBytes
    k.leakedRdds = math.max(0, rdds - before._1)
    k.tempViews = (views -- before._2).size
    k.confChanges = (conf.keySet ++ before._3.keySet).count(c => conf.get(c) != before._3.get(c))
  }

  // ---- listener-bus callbacks ----------------------------------------
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(n: String) = p.flatMap(x => Option(x.getProperty(n)))
    jobs(e.jobId) = JobRec(e.jobId, prop(KeyProp).map(_.toInt).getOrElse(keyAt(e.time)),
      prop(PhaseProp).getOrElse(""), prop("spark.sql.execution.id").getOrElse(""), e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val t = s.taskMetrics
    if (t != null) stages += StageRec(s.stageId, s.attemptNumber(), s.submissionTime.getOrElse(0L),
      s.completionTime.getOrElse(0L), Map(
        "tasks" -> s.numTasks.toDouble,
        "run_s" -> t.executorRunTime / 1e3, "cpu_s" -> t.executorCpuTime / 1e9,
        "gc_s" -> t.jvmGCTime / 1e3, "deserialize_s" -> t.executorDeserializeTime / 1e3,
        "shuffle_write" -> t.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read" -> t.shuffleReadMetrics.totalBytesRead.toDouble,
        "fetch_wait_s" -> t.shuffleReadMetrics.fetchWaitTime / 1e3,
        "input_bytes" -> t.inputMetrics.bytesRead.toDouble, "input_rows" -> t.inputMetrics.recordsRead.toDouble,
        "output_bytes" -> t.outputMetrics.bytesWritten.toDouble,
        "output_rows" -> t.outputMetrics.recordsWritten.toDouble,
        "spill" -> t.diskBytesSpilled.toDouble))
  }

  // Unpersisting reports no block update, so frees are derived from the
  // stored-bytes snapshots around each key instead.
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      val size = b.memSize + b.diskSize
      val prev = blockSizes.put(b.blockId.name, size).getOrElse(0L)
      blockWrites += ((System.currentTimeMillis(), math.max(0L, size - prev)))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execs(s.executionId) = (s.time, s.time, s.description) }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach { case (st, _, d) => execs(s.executionId) = (st, s.time, d) }
    }
    case _ =>
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def s(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
      val files = qe.executedPlan.collect { case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      Tracer.this.synchronized { qes += QeRec(start, s("analysis"), s("optimization"), s("planning"), files) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    // delivered synchronously from start(), on the client thread
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { runKeys(e.runId.toString) = Option(current).map(_.id).getOrElse(-1) }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(n: String) = Option(p.durationMs.get(n)).map(_.longValue / 1e3).getOrElse(0.0)
      Tracer.this.synchronized {
        progress += ProgressRec(runKeys.getOrElse(p.runId.toString, -1), p.runId.toString,
          d("triggerExecution"), d("addBatch"), d("walCommit"),
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  // heap occupancy (MB) right after each garbage collection
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val heapAfterGc = mutable.ArrayBuffer[Double]()
  private val gcListener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
      synchronized { heapAfterGc += used / 1048576.0 }
    }
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.asInstanceOf[NotificationEmitter])

  def attach(): Unit = {
    gcBeans.foreach(_.addNotificationListener(gcListener, null, null))
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for every queued event, then removes the listeners. */
  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    gcBeans.foreach(_.removeNotificationListener(gcListener))
  }

  /** Key whose window contains `ms`, else the last key started before it. */
  private def keyAt(ms: Long): Int =
    keys.reverseIterator.find(_.startMs <= ms).map(_.id).getOrElse(-1)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var (sum, end) = (0L, lo)
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
      .foreach { case (s, e) => if (e > end) { sum += e - math.max(s, end); end = e } }
    sum / 1e3
  }

  /** Per-layer metrics (median over the traced passes of each pass's
    * value), plus the span file and per-key layer table under `out`. */
  def report(passes: Seq[PassResult], untracedWallS: Double, out: Path): Seq[(String, Double, String)] =
    synchronized {
      val samples = passes.flatMap(_.keys).map(k => k.id -> k).toMap
      val byKey = keys.map(k => k.id -> k).toMap
      val stageJob = jobs.values.flatMap(j => j.stageIds.map(_ -> j)).toMap
      val keyJobs = jobs.values.toSeq.groupBy(_.keyId)
      val keyStages = stages.toSeq.groupBy(s => stageJob.get(s.id).map(_.keyId).getOrElse(keyAt(s.startMs)))
      val keyQes = qes.toSeq.groupBy(q => keyAt(q.startMs))
      val keyBlocks = blockWrites.toSeq.groupBy(b => keyAt(b._1))
      val keyProgress = progress.toSeq.groupBy(_.keyId)

      def perKey(k: KeyRec): Map[String, Double] = {
        val s = samples(k.id)
        val js = keyJobs.getOrElse(k.id, Seq.empty)
        val iv = (p: String) => js.filter(j => p.isEmpty || j.phase == p).map(j => (j.startMs, j.endMs))
        val st = keyStages.getOrElse(k.id, Seq.empty)
        val inConstruct = st.filter(x => stageJob.get(x.id).exists(_.phase == "construct"))
        def sum(xs: Seq[StageRec], m: String) = xs.map(_.m(m)).sum
        val q = keyQes.getOrElse(k.id, Seq.empty)
        val written = keyBlocks.getOrElse(k.id, Seq.empty).map(_._2).sum.toDouble
        val pr = keyProgress.getOrElse(k.id, Seq.empty)
        val lastPerRun = pr.groupBy(_.runId).values.map(_.last)
        val cg = k.codegen.values
        Map(
          "construct_s" -> s.constructS,
          "construct_self_s" -> (s.constructS - covered(iv("construct"), k.startMs, k.constructEndMs)),
          "materialise_s" -> s.materialiseS,
          "driver_s" -> (s.latencyS - covered(iv(""), k.startMs, k.endMs)),
          "executions" -> q.size.toDouble,
          "analysis_s" -> q.map(_.analysisS).sum, "optimization_s" -> q.map(_.optimizationS).sum,
          "planning_s" -> q.map(_.planningS).sum,
          "compiles" -> cg.map(_._1).sum.toDouble, "compile_s" -> cg.map(_._2).sum / 1e9,
          "jobs" -> js.size.toDouble, "jobs_in_construct" -> js.count(_.phase == "construct").toDouble,
          "stages" -> st.size.toDouble, "tasks" -> sum(st, "tasks"),
          "job_s" -> js.map(j => (j.endMs - j.startMs) / 1e3).sum,
          "run_s" -> sum(st, "run_s"), "cpu_s" -> sum(st, "cpu_s"), "gc_s" -> sum(st, "gc_s"),
          "deserialize_s" -> sum(st, "deserialize_s"),
          "shuffle_write" -> sum(st, "shuffle_write"), "shuffle_read" -> sum(st, "shuffle_read"),
          "fetch_wait_s" -> sum(st, "fetch_wait_s"),
          "input_bytes" -> sum(st, "input_bytes"), "input_rows" -> sum(st, "input_rows"),
          "ckpt_written" -> written,
          "ckpt_freed" -> math.max(0.0, written - (k.retainedBytes - k.retainedBefore)),
          "ckpt_retained" -> k.retainedBytes.toDouble, "spill" -> sum(st, "spill"),
          "output_bytes" -> sum(inConstruct, "output_bytes"), "output_rows" -> sum(inConstruct, "output_rows"),
          "output_files" -> q.map(_.files).sum.toDouble,
          "triggers" -> pr.size.toDouble, "add_batch_s" -> pr.map(_.addBatchS).sum,
          "wal_commit_s" -> pr.map(_.walCommitS).sum,
          "state_rows" -> lastPerRun.map(_.stateRows).sum.toDouble,
          "state_mem" -> lastPerRun.map(_.stateMem).sum.toDouble,
          "leaked_rdds" -> k.leakedRdds.toDouble, "temp_views" -> k.tempViews.toDouble,
          "conf_changes" -> k.confChanges.toDouble)
      }
      val rows = keys.filter(k => samples.contains(k.id)).map(k => k -> perKey(k))
      writeLayers(rows.toSeq, out)
      writeSpans(passes, out)

      def perPass(f: (PassResult, Seq[Map[String, Double]]) => Double): Double = Runner.median(passes.map { p =>
        f(p, rows.collect { case (k, m) if k.pass == p.index => m }.toSeq)
      })
      def total(m: String): Double = perPass((_, ks) => ks.map(_(m)).sum)
      def triggerP50 = perPass((p, _) => Runner.median(progress.filter(r =>
        byKey.get(r.keyId).exists(_.pass == p.index)).map(_.triggerS).toSeq))
      val tracedWall = Runner.median(passes.map(_.wallS))
      Seq(
        ("SparkEntry.construct_s", total("construct_s"), "s"),
        ("SparkEntry.construct_self_s", total("construct_self_s"), "s"),
        ("SparkEntry.materialise_s", total("materialise_s"), "s"),
        ("catalyst.executions", total("executions"), "count"),
        ("catalyst.analysis_s", total("analysis_s"), "s"),
        ("catalyst.optimization_s", total("optimization_s"), "s"),
        ("catalyst.planning_s", total("planning_s"), "s"),
        ("codegen.compiles", total("compiles"), "count"),
        ("codegen.compile_s", total("compile_s"), "s"),
        ("scheduler.jobs", total("jobs"), "count"),
        ("scheduler.jobs_in_construct", total("jobs_in_construct"), "count"),
        ("scheduler.jobs_in_construct_per_key", perPass((_, ks) => ks.map(_("jobs_in_construct")).sum / ks.size), "count"),
        ("scheduler.stages", total("stages"), "count"),
        ("scheduler.tasks", total("tasks"), "count"),
        ("scheduler.job_s", total("job_s"), "s"),
        ("executor.run_s", total("run_s"), "s"),
        ("executor.cpu_s", total("cpu_s"), "s"),
        ("executor.gc_s", total("gc_s"), "s"),
        ("executor.deserialize_s", total("deserialize_s"), "s"),
        ("executor.busy_ratio", perPass((p, ks) => ks.map(_("run_s")).sum / (p.wallS * Main.Cores)), "ratio"),
        ("shuffle.write_bytes", total("shuffle_write"), "B"),
        ("shuffle.read_bytes", total("shuffle_read"), "B"),
        ("shuffle.fetch_wait_s", total("fetch_wait_s"), "s"),
        ("Tables.input_bytes", total("input_bytes"), "B"),
        ("Tables.input_rows", total("input_rows"), "count"),
        ("Ckpt.written_bytes", total("ckpt_written"), "B"),
        ("Ckpt.retained_bytes", perPass((_, ks) => Runner.median(ks.map(_("ckpt_retained")))), "B"),
        ("Ckpt.freed_ratio", perPass((_, ks) => ratio(ks.map(_("ckpt_freed")).sum, ks.map(_("ckpt_written")).sum)), "ratio"),
        ("storage.spill_bytes", total("spill"), "B"),
        ("sources.output_bytes", total("output_bytes"), "B"),
        ("sources.output_rows", total("output_rows"), "count"),
        ("sources.output_files", total("output_files"), "count"),
        ("sources.bytes_written_per_input_byte",
          perPass((_, ks) => ratio(ks.map(_("output_bytes")).sum, ks.map(_("input_bytes")).sum)), "ratio"),
        ("streaming.triggers", total("triggers"), "count"),
        ("streaming.trigger_p50_s", triggerP50, "s"),
        ("streaming.add_batch_s", total("add_batch_s"), "s"),
        ("streaming.wal_commit_s", total("wal_commit_s"), "s"),
        ("streaming.state_rows", total("state_rows"), "count"),
        ("streaming.state_mem_bytes", total("state_mem"), "B"),
        ("session.leaked_rdds", total("leaked_rdds"), "count"),
        ("session.temp_views", total("temp_views"), "count"),
        ("session.conf_changes", total("conf_changes"), "count"),
        ("jvm.gc_s", Runner.median(passes.map(_.gcS)), "s"),
        ("jvm.heap_after_gc_mb", Runner.median(heapAfterGc.toSeq), "MB"),
        ("trace.wall_s", tracedWall, "s"),
        ("trace.overhead_s", tracedWall - untracedWallS, "s"),
        ("trace.driver_share", perPass((p, ks) => ks.map(_("driver_s")).sum / p.wallS), "ratio"))
    }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  private def writeLayers(rows: Seq[(KeyRec, Map[String, Double])], out: Path): Unit = {
    val cols = rows.headOption.map(_._2.keys.toSeq.sorted).getOrElse(Nil)
    val lines = ("key_id\tpass\tkey\t" + cols.mkString("\t")) +: rows.map { case (k, m) =>
      s"${k.id}\t${k.pass}\t${k.name}\t" + cols.map(c => f"${m(c)}%.6f").mkString("\t")
    }
    Files.write(out.resolve("layers.tsv"), lines.asJava, UTF_8)
  }

  /** One JSON object per line: pass > key > construct | materialise >
    * sql_execution > job > stage. Every span of a key carries its id. */
  private def writeSpans(passes: Seq[PassResult], out: Path): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    def span(kind: String, id: String, parent: String, keyId: Int, start: Long, end: Long, extra: String = "") =
      s"""{"span":"$kind","id":"$id","parent":${if (parent.isEmpty) "null" else q(parent)},""" +
        s""""key_id":$keyId,"start_ms":$start,"end_ms":$end$extra}"""
    val lines = mutable.ArrayBuffer[String]()
    passes.foreach(p => lines += span("pass", s"pass:${p.index}", "", -1, p.startMs, p.endMs))
    keys.foreach { k =>
      lines += span("key", s"key:${k.id}", s"pass:${k.pass}", k.id, k.startMs, k.endMs, s""","key":${q(k.name)}""")
      lines += span("construct", s"construct:${k.id}", s"key:${k.id}", k.id, k.startMs, k.constructEndMs)
      if (k.endMs > k.constructEndMs)
        lines += span("materialise", s"materialise:${k.id}", s"key:${k.id}", k.id, k.constructEndMs, k.endMs)
    }
    val byId = keys.map(k => k.id -> k).toMap
    def phaseOf(keyId: Int, ms: Long) =
      byId.get(keyId).map(k => if (ms < k.constructEndMs) s"construct:${k.id}" else s"materialise:${k.id}").getOrElse("")
    execs.foreach { case (id, (s, e, d)) =>
      val k = keyAt(s)
      lines += span("sql_execution", s"sql:$id", phaseOf(k, s), k, s, e, s""","description":${q(d.take(80))}""")
    }
    jobs.values.foreach { j =>
      val parent = if (j.execId.nonEmpty) s"sql:${j.execId}" else phaseOf(j.keyId, j.startMs)
      lines += span("job", s"job:${j.id}", parent, j.keyId, j.startMs, j.endMs, s""","phase":${q(j.phase)}""")
    }
    val stageJob = jobs.values.flatMap(j => j.stageIds.map(_ -> j)).toMap
    stages.foreach { s =>
      val j = stageJob.get(s.id)
      lines += span("stage", s"stage:${s.id}.${s.attempt}", j.map(x => s"job:${x.id}").getOrElse(""),
        j.map(_.keyId).getOrElse(keyAt(s.startMs)), s.startMs, s.endMs,
        s.m.toSeq.sortBy(_._1).map { case (n, v) => s""","$n":$v""" }.mkString)
    }
    Files.write(out.resolve("spans.jsonl"), lines.asJava, UTF_8)
  }
}

object Tracer {
  final class KeyRec(val id: Int, val pass: Int, val name: String, val startMs: Long) {
    var constructEndMs = 0L
    var endMs = 0L
    val codegen = mutable.Map[String, (Long, Long)]() // phase -> (compiles, compile ns)
    var retainedBefore = 0L
    var retainedBytes = 0L
    var leakedRdds = 0
    var tempViews = 0
    var confChanges = 0
  }
  final case class JobRec(id: Int, keyId: Int, phase: String, execId: String, startMs: Long, stageIds: Seq[Int]) {
    var endMs: Long = startMs
  }
  final case class StageRec(id: Int, attempt: Int, startMs: Long, endMs: Long, m: Map[String, Double])
  final case class QeRec(startMs: Long, analysisS: Double, optimizationS: Double, planningS: Double, files: Long)
  final case class ProgressRec(keyId: Int, runId: String, triggerS: Double, addBatchS: Double,
                               walCommitS: Double, stateRows: Long, stateMem: Long)
}
