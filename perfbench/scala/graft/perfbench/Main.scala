package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.util.{JArr, JDouble, JNum, JObj, JStr, JValue}

/** JVM side of the repository benchmark (`perfbench/run.py` drives it).
  *
  * One client thread runs closed-loop passes of a workload's calls until
  * `--seconds` have elapsed, always finishing the current pass. Each call
  * is timed from its invocation until its result is collected; its
  * output is digested, compared with the first call of the same key and
  * (for that first call) dumped for the oracle check, all outside the
  * timed window. The report is one JSON file; `run.py` turns it into
  * metrics.
  *
  * Usage: `Main <workload> <sf dir> <gen dir> <warm sf dir> <warm gen dir>
  *   <seed> <split> <merge mod> <seconds> <trace 0|1> <out dir>`
  */
object Main {

  private final case class CallRec(id: Int, key: String, module: String,
      check: String, pass: Int, startMs: Long, endMs: Long, durS: Double,
      error: Option[String], stream: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, sf, gen, warmSf, warmGen, seedS, split, modS,
      secondsS, traceS, outDir) = args
    val seed = seedS.toLong
    val trace = traceS == "1"
    val work = s"$outDir/work"
    val main = Inputs(sf, gen, seed, split, modS.toInt, s"$work/main")
    val warm = Inputs(warmSf, warmGen, seed, split, modS.toInt,
      s"$work/warm")
    new File(main.work).mkdirs(); new File(warm.work).mkdirs()
    new File(s"$outDir/results").mkdirs()

    // ---- set-up: JVM start + session + warm-up pass ----
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.local("perfbench")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val warmS = Workloads.pass(workload, warm).map { c =>
      val t0 = System.nanoTime()
      // warm-up failures surface in the measured passes
      try c.run(spark) catch { case _: Throwable => () }
      spark.catalog.clearCache()
      graft.util.DeferredCleanup.drain()
      c.key -> (System.nanoTime() - t0) / 1e9
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    System.gc()
    val sc = spark.sparkContext

    // ---- listeners ----
    val batches = new BatchListener(Streams.afterBatch)
    Streams.listener = Some(batches)
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.listenerManager.register(t.queryListener)
    }

    // ---- measured closed loop ----
    val corrupt = sys.env.get("PERFBENCH_CORRUPT").map { s =>
      s.split("@") match {
        case Array(k, n) => (k, n.toInt)
        case Array(k) => (k, 1)
      }
    }
    val calls = mutable.ArrayBuffer.empty[CallRec]
    val firstDigest = mutable.HashMap.empty[String, String]
    val seen = mutable.HashMap.empty[String, Int]
    val passes = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val deadline = System.currentTimeMillis() + secondsS.toLong * 1000
    val hardStop = jvmStart + 150L * 1000
    var pass = 0
    var nextId = 0
    do {
      val passStart = System.currentTimeMillis()
      // time spent checking outputs between calls; not part of the pass
      var checkMs = 0L
      Workloads.pass(workload, main).foreach { c =>
        val id = nextId
        nextId += 1
        sc.setLocalProperty(Tracer.CallProp, id.toString)
        batches.currentCall = id
        val t0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val res = try Right(c.run(spark)) catch { case e: Throwable => Left(e) }
        val durS = (System.nanoTime() - n0) / 1e9
        val t1 = System.currentTimeMillis()
        sc.setLocalProperty(Tracer.CallProp, null)
        // ---- outside the timed window: teardown and output check ----
        spark.catalog.clearCache()
        graft.util.DeferredCleanup.drain()
        val c0 = System.currentTimeMillis()
        val nth = seen.getOrElse(c.key, 0) + 1
        seen(c.key) = nth
        val rec = res match {
          case Left(e) =>
            CallRec(id, c.key, c.module, c.check, pass, t0, t1, durS,
              Some(s"${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("").linesIterator
                  .take(1).mkString.take(300)),
              c.stream)
          case Right(out0) =>
            val out =
              if (corrupt.contains((c.key, nth))) Canon.corrupt(out0)
              else out0
            val lines = Canon.rowLines(out)
            val digest = Canon.digest(Canon.rowLines(out, rounded = true))
            val err = firstDigest.get(c.key) match {
              case None =>
                firstDigest(c.key) = digest
                Canon.dump(new File(s"$outDir/results/${c.key}.json"),
                  out, lines)
                None
              case Some(d) if d != digest =>
                Some(s"output differs from the first (checked) call of " +
                  s"${c.key}")
              case _ => None
            }
            CallRec(id, c.key, c.module, c.check, pass, t0, t1, durS, err,
              c.stream)
        }
        calls += rec
        // each call starts on a collected heap, so that no call pays for
        // the garbage of the ones before it
        System.gc()
        checkMs += System.currentTimeMillis() - c0
      }
      val passEnd = System.currentTimeMillis()
      passes += ((passStart, passEnd, (passEnd - passStart - checkMs) / 1e3))
      pass += 1
    } while (System.currentTimeMillis() < deadline &&
      System.currentTimeMillis() < hardStop)
    org.apache.spark.graftbench.Bus.drain(sc)

    // ---- report ----
    def obj(fields: (String, Any)*): JValue =
      JObj(fields.map { case (k, v) => k -> JValue.of(v) })
    val oracleNames = calls.map(_.check).filter(_.startsWith("oracle:"))
      .map(_.stripPrefix("oracle:")).distinct :+
      "dedup_incremental_minhash_documents"
    val traced: Seq[(String, Any)] = tracer.toSeq.flatMap { t =>
      t.synchronized(Seq(
        "call_stats" -> JObj(t.byCall.toSeq.map { case (id, s) =>
          id.toString -> obj("jobs" -> s.jobs, "stages" -> s.stages,
            "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
            "task_ms" -> s.taskMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
            "sched_wait_ms" -> s.schedWaitMs,
            "shuffle_read_b" -> s.shuffleReadB,
            "shuffle_write_b" -> s.shuffleWriteB, "spill_b" -> s.spillB,
            "output_b" -> s.outputB)
        }),
        "jobs" -> t.jobs.toSeq.map(x => obj("id" -> x.jobId,
          "call" -> x.call, "start_ms" -> x.start, "end_ms" -> x.end,
          "stages" -> x.stageIds)),
        "stages" -> t.stages.values.toSeq.sortBy(_.stageId).map(x =>
          obj("id" -> x.stageId, "call" -> x.call, "start_ms" -> x.submit,
            "end_ms" -> x.end)),
        "plan_phases" -> t.planPhases.toSeq.map { case (a, b) =>
          obj("start_ms" -> a, "end_ms" -> b) }))
    }
    val report = obj(Seq[(String, Any)](
      "workload" -> workload,
      "cores" -> sc.defaultParallelism,
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "warm_up_s" -> JObj(warmS.map { case (k, t) => k -> JDouble(t) }),
      "peak_rss_mb" -> peakRssMb(),
      "passes" -> passes.toSeq.map { case (s0, s1, d) =>
        obj("start_ms" -> s0, "end_ms" -> s1, "dur_s" -> d) },
      "calls" -> calls.toSeq.map(r => obj("id" -> r.id, "key" -> r.key,
        "module" -> r.module, "check" -> r.check, "pass" -> r.pass,
        "start_ms" -> r.startMs, "end_ms" -> r.endMs, "dur_s" -> r.durS,
        "error" -> r.error, "stream" -> r.stream)),
      "batches" -> batches.samples.toSeq.map(b => obj("call" -> b.call,
        "batch" -> b.batchId, "ms" -> b.ms, "rows" -> b.rows)),
      "compacting_batches" -> Streams.compactingBatches.toSeq.map {
        case (k, b) => obj("key" -> k, "batch" -> b) },
      "stream_state" -> Streams.finalState.toSeq.map { case (k, f, b) =>
        obj("key" -> k, "files" -> f, "bytes" -> b) },
      "oracle_sql" -> JObj(oracleNames.toSeq.flatMap(n =>
        graft.SparkEntry.oracleSql.get(n).map(sql => n -> JStr(sql))))
    ) ++ traced: _*)
    val w = new PrintWriter(new File(s"$outDir/report.json"), "UTF-8")
    try w.write(report.render) finally w.close()
    spark.stop()
  }

  /** Driver JVM `VmHWM`. */
  private def peakRssMb(): Double = try {
    val status = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/status")), UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  } catch { case _: java.io.IOException => 0.0 }
}

/** Canonical form of a collected result: one JSON array per row, columns
  * in name order, rows sorted — so a result compares equal however its
  * partitions were ordered.
  */
object Canon {
  /** Significant digits a double keeps in the digest, as in
    * `check.fingerprint`: aggregation order may change the last bits.
    */
  val Digits = 12

  /** @param rounded doubles to [[Digits]] significant digits (for the
    *                digest; the dump keeps every digit)
    */
  def rowLines(out: Out, rounded: Boolean = false): Seq[String] = {
    val order = out.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    out.rows.map(r => JArr(order.toSeq.map(i => cell(r.get(i), rounded)))
      .render).sorted
  }

  def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def round(d: Double): Double =
    if (d.isNaN || d.isInfinite || d == 0.0) d
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(Digits,
        java.math.RoundingMode.HALF_EVEN)).doubleValue

  /** One result cell as JSON; Spark's nested rows, arrays and maps
    * recursively, binary as hex.
    */
  private def cell(v: Any, rounded: Boolean): JValue = v match {
    case b: Byte => JValue.of(b.toInt)
    case s: Short => JValue.of(s.toInt)
    case f: Float => cell(f.toDouble, rounded)
    case d: Double => JDouble(if (rounded) round(d) else d)
    case d: java.math.BigDecimal => JNum(BigDecimal(d))
    case b: Array[Byte] => JStr(b.map("%02x".format(_)).mkString)
    case r: Row => JArr(r.toSeq.map(cell(_, rounded)))
    case m: scala.collection.Map[_, _] =>
      JObj(m.toSeq.map { case (k, x) =>
        String.valueOf(k) -> cell(x, rounded) }.sortBy(_._1))
    case s: scala.collection.Seq[_] => JArr(s.toSeq.map(cell(_, rounded)))
    case other => JValue.of(other)
  }

  /** Self-test entry: prints the digest of a one-column double result
    * for each argument.
    */
  def main(args: Array[String]): Unit = {
    val schema = StructType(Seq(StructField("x", DoubleType)))
    args.foreach { a =>
      println(digest(rowLines(Out(schema, Seq(Row(a.toDouble))),
        rounded = true)))
    }
  }

  def dump(f: File, out: Out, lines: Seq[String]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.write("{\"columns\":" +
        JArr(out.schema.fieldNames.sorted.toSeq.map(JStr)).render)
      w.write(lines.mkString(",\"rows\":[", ",\n", "]}"))
    } finally w.close()
  }

  /** Self-test hook: a result with its last row dropped (or, if empty,
    * one spurious row).
    */
  def corrupt(out: Out): Out =
    if (out.rows.nonEmpty) out.copy(rows = out.rows.init)
    else out.copy(rows = Seq(Row.fromSeq(out.schema.fields.map(_ => null))))
}
