package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Shuffle-volume audit (r13; board-wide with a regression gate since
  * r14) — measured evidence for the SURVEY's central 100 TB claim:
  * the near-dup/text/similarity keys shuffle HASHES AND SIGNATURES,
  * never document payloads. For each audited key the harness runs the
  * declared plan to completion under a stage-metrics listener and
  * reports bytes READ (parquet + block-manager re-reads) vs bytes
  * WRITTEN to shuffle, alongside the corpus' raw text volume — at any
  * scale, a key whose shuffle grows with the text (not the
  * fingerprints) would be unrunnable at 100 TB, and this is the
  * number that proves each one doesn't.
  *
  * r14 regression gate (VERDICT r13 #2): `tools/shuffle_expected.tsv`
  * holds a per-key shuffle-byte CEILING (measured clean-run bytes at
  * sf0.1 with ~2× headroom). When the file exists, every audited key
  * is checked against its ceiling and the run EXITS NON-ZERO on any
  * breach — a silent structural shuffle regression (the
  * text_substring_dedup_chars class, 43× corpus, invisible to
  * plan-shape greps for four rounds) now fails loudly. Regenerate
  * the changed keys' ceilings with `--write-expected` after an
  * intentional plan change (and commit the diff — the review IS the
  * audit). The measured keys are MERGED into the table: every other
  * key keeps its committed ceiling, rows of keys that no longer exist
  * are dropped, and each row that changes is printed.
  *
  * Listener note: stage-completed events post asynchronously; the
  * counters are AtomicLongs and the harness quiesces by polling until
  * the per-key accumulators stop moving across THREE consecutive
  * 300 ms reads — still an audit of MB-scale magnitudes, not a
  * bit-exact meter (hence the 2× ceiling headroom).
  *
  * Usage:
  *   sbt "runMain graft.ShuffleAudit <sfDir> [ALL|key1,key2,…]
  *        [--write-expected]"
  */
object ShuffleAudit {
  private val expectedPath =
    java.nio.file.Paths.get("tools/shuffle_expected.tsv")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val writeExpected = args.contains("--write-expected")
    val keySel = args.drop(1).filterNot(_.startsWith("--")).headOption
    val keys: Seq[String] = keySel match {
      case None | Some("ALL") => SparkEntry.queries.keys.toSeq.sorted
      case Some(csv) => csv.split(",").toSeq.map(_.trim)
    }
    // The ceilings are measured at a specific scale factor; arming
    // them against a run at any OTHER sf would breach falsely on a
    // larger fixture and pass vacuously on a smaller one (ADVICE r14).
    // The header stamps sf= (fixture dir basename) and the gate
    // disarms, loudly, on mismatch — mirroring BaselineAnchors'
    // env-match discipline.
    val sfTag = java.nio.file.Paths.get(sfDir).getFileName.toString
    val tableLines =
      if (java.nio.file.Files.exists(expectedPath))
        scala.io.Source.fromFile(expectedPath.toFile).getLines().toList
      else Nil
    val otherSf = tableLines.headOption
      .flatMap("""sf=(\S+)""".r.findFirstMatchIn(_))
      .map(_.group(1)).filter(_ != sfTag)
    val committed: Seq[(String, Long)] = otherSf match {
      case Some(stamped) =>
        println(s"SHUFAUDIT gate DISARMED: ceilings stamped " +
          s"sf=$stamped, this run is sf=$sfTag")
        Nil
      case None => tableLines
        .filterNot(l => l.startsWith("#") || l.isBlank)
        .map { l => val p = l.split("\t"); p(0) -> p(1).toLong }
    }
    val expected = committed.toMap

    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val inputB = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufWB = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = {
        val tm = sc.stageInfo.taskMetrics
        if (tm != null) {
          inputB.addAndGet(tm.inputMetrics.bytesRead)
          shufWB.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val textBytes = Tables.documents(spark, sfDir)
      .agg(sum(length(col("text")))).collect()(0).getLong(0)
    val mb = 1024.0 * 1024.0
    println(f"corpus text bytes: ${textBytes / mb}%8.2f MB  ($sfDir)")

    // stable = three consecutive identical reads, so one quiet poll
    // window can't mask a straggler event between two moving reads
    def quiesce(): Unit = {
      var stable = 0
      var prev = (inputB.get(), shufWB.get())
      while (stable < 3) {
        Thread.sleep(300)
        val cur = (inputB.get(), shufWB.get())
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
    }
    // warm-up (session init costs would pollute the first key)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    quiesce()

    val measured = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val breaches = scala.collection.mutable.ArrayBuffer.empty[String]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    for (k <- keys) {
      inputB.set(0L); shufWB.set(0L)
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(k)(spark, sfDir).foreach(_ => ())
        quiesce()
        val sec = (System.nanoTime() - t0) / 1e9
        val sw = shufWB.get()
        measured(k) = sw
        val gate = expected.get(k) match {
          case Some(cap) if sw > cap =>
            breaches += k
            f"  BREACH cap=${cap / mb}%8.2f MB"
          case Some(_) => "  ok"
          case None => ""
        }
        println(f"SHUFAUDIT $k%-34s read=${inputB.get() / mb}%8.2f MB  " +
          f"shufW=${sw / mb}%8.2f MB  shuf/text=${
            sw.toDouble / textBytes}%6.3f  time=$sec%5.1fs$gate")
      } catch {
        case e: Throwable =>
          errors += k
          println(s"SHUFAUDIT $k ERROR ${e.getMessage.take(150)}")
      }
    }
    if (writeExpected) {
      if (errors.nonEmpty) {
        // A key that errored has no measurement; regenerating from
        // `measured` alone would silently DROP it from the table and
        // leave it permanently ungated (ADVICE r14). Refuse — fix the
        // error (or run the key subset) and regenerate clean.
        println(s"REFUSING --write-expected: ${errors.size} key(s) " +
          s"errored and would be dropped from the ceiling table: " +
          errors.mkString(","))
      } else if (otherSf.nonEmpty && keys.size < SparkEntry.queries.size) {
        // the committed table belongs to another sf: a subset cannot
        // be merged into it, and replacing it would drop every other
        // key's ceiling
        println(s"REFUSING --write-expected: the table is stamped " +
          s"sf=${otherSf.get}; regenerate it for sf=$sfTag with ALL keys")
      } else {
        // ceiling = 2× measured, floored at 1 MB (tiny keys jitter by
        // compression/AQE layout, never by structure)
        val newCaps = measured.map { case (k, v) =>
          k -> math.max(v * 2, 1L << 20) }
        // Ceiling-delta guard (r16, VERDICT r15 #7): "2× whatever the
        // last regeneration measured" is a ratchet that can absorb
        // slow structural creep — every raise >1.5× over the
        // COMMITTED ceiling is printed so the regeneration diff review
        // sees exactly which keys moved and by how much (the reason
        // string belongs in the commit that lands the new table).
        val raised = newCaps.filter { case (k, nv) =>
          expected.get(k).exists(old => nv > old * 1.5) }
        raised.foreach { case (k, nv) =>
          val old = expected(k)
          println(f"CEILING-RAISE $k%-34s ${old / mb}%8.2f MB -> " +
            f"${nv / mb}%8.2f MB (${nv.toDouble / old}%4.2fx) — " +
            "justify in the regeneration commit")
        }
        if (raised.nonEmpty)
          println(s"CEILING-RAISE SUMMARY: ${raised.size} key(s) " +
            "raised >1.5x over the committed table")
        // merge: a subset run keeps every other key's ceiling
        // (ADVICE r16 #1)
        newCaps.foreach { case (k, nv) =>
          if (!expected.get(k).contains(nv))
            println(s"CEILING $k ${expected.get(k).fold("(new)")(_.toString)} -> $nv")
        }
        val merged = (committed.map { case (k, v) => k -> newCaps.getOrElse(k, v) } ++
            newCaps.toSeq.filterNot { case (k, _) => expected.contains(k) }.sortBy(_._1))
          .filter { case (k, _) => SparkEntry.queries.contains(k) }
        val lines = s"# sf=$sfTag key\tmax_shuffle_bytes (2x clean-run " +
          "measured; regenerate with --write-expected)\n" +
          merged.map { case (k, v) => s"$k\t$v" }.mkString("\n") + "\n"
        java.nio.file.Files.writeString(expectedPath, lines)
        println(s"merged ${measured.size} ceilings into $expectedPath " +
          s"(${merged.size} rows, sf=$sfTag)")
      }
    }
    println(s"SHUFAUDIT SUMMARY keys=${measured.size} " +
      s"breaches=${breaches.size} errors=${errors.size}" +
      (if (breaches.nonEmpty) s" BREACHED=${breaches.mkString(",")}"
       else ""))
    spark.stop()
    if (breaches.nonEmpty || errors.nonEmpty) sys.exit(1)
  }
}
