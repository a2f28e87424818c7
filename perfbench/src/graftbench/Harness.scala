package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

object Stats {
  /** Linear-interpolation quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return Double.NaN
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** {"median":…,"q1":…,"q3":…,"n":…} of a sample. */
  def summary(xs: Seq[Double]): String =
    s"""{"median":${json(median(xs))},"q1":${json(quantile(xs, 0.25))},""" +
      s""""q3":${json(quantile(xs, 0.75))},"n":${xs.size}}"""
}

/** Benchmark harness: one workload, one seed, one process.
  *
  *   graftbench.Harness --workload <name> --seed <n> --seconds <s>
  *                      --trace <0|1> [--scale full|smoke]
  *
  * Set-up runs once: from the start of the JVM through the SparkSession
  * start, the materialization of the inputs and [[WarmupCalls]] untimed
  * warm-up calls. With `--trace 0` closed-loop calls run for `--seconds`
  * and the end-to-end metrics are printed; with `--trace 1` untraced and
  * traced calls alternate for `--seconds`, then each layer's public calls
  * are timed from the outside. The last stdout line is the result object,
  * whose metrics carry values only (the caller adds the units from
  * BENCHMARK.json); the line before it carries the per-iteration
  * quartiles. */
object Harness {
  val Cores = 4
  /** At least this many timed calls per run, so every run takes its
    * median over the same number of calls. */
  val MinCalls = 3
  /** Untimed warm-up calls, part of set-up: the first call plans,
    * generates code and JIT-compiles cold, at two to three times the
    * time of a warm call; the second is still about 25% slower. */
  val WarmupCalls = 2

  final case class Scale(seqBatchRows: Int, seqBatchBuckets: Int,
                         seqResumeRows: Int, seqResumeBuckets: Int,
                         curateReplicas: Int, cdeSampleRows: Long, cdeDataRows: Long)

  val Scales: Map[String, Scale] = Map(
    "full" -> Scale(1000000, 16, 40000, 12, 5, 320000L, 480000L),
    "smoke" -> Scale(20000, 8, 4000, 8, 1, 8000L, 12000L))

  /** Per-table (errors, warnings, report-section hash) of cde-tables. The
    * planted cells sit at seed-independent offsets, so these depend only
    * on the scale; a change to the report wording must update them. */
  val CdePinned: Map[String, Map[String, (Int, Int, String)]] = Map(
    "full" -> Map("SAMPLE" -> (2, 5, "269154cb3ee764fe"), "DATA" -> (3, 4, "9728f184d6224dbf")),
    "smoke" -> Map("SAMPLE" -> (2, 5, "45c1f0a4ade774e8"), "DATA" -> (3, 4, "e190919e350fc1a9")))

  val RulesCsv = "src/test/resources/tester_files/mini_cde.csv"
  /** Everything a run writes, relative to the checkout root. */
  val Work = ".bench_build"

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", s"$Work/spark-local")
      .config("spark.sql.warehouse.dir", s"$Work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def wcharBytes(): Long = {
    val io = Files.readAllLines(Paths.get("/proc/self/io"))
    io.toArray.map(_.toString).find(_.startsWith("wchar:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }

  /** Heap in use at the end of a full GC, once the listener bus has
    * delivered every queued event. A first GC lets Spark's ContextCleaner
    * release the blocks of the frames it collects; the second measures.
    * Read from the pools' after-collection usage, so nothing allocated
    * after the GC counts. */
  private def heapRetainedMb(spark: SparkSession): Double = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(500)
    System.gc()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  def main(argv: Array[String]): Unit = {
    // set-up is timed from the start of the JVM, which is this long ago
    val jvmUptimeS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val mainStartNs = System.nanoTime()
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val scaleName = args.getOrElse("scale", "full")
    val scale = Scales(scaleName)
    val key = s"$workload-$scaleName-seed$seed"
    val runId = s"$key-${ProcessHandle.current().pid()}-${System.currentTimeMillis()}"
    val dataDir = s"$Work/data/$key"
    val runDir = s"$Work/run/$runId"

    val w: Workload = workload match {
      case "seq-batch" => new SeqWorkload(workload, dataDir, runDir,
        scale.seqBatchRows, scale.seqBatchBuckets, seed, resume = false)
      case "seq-resume" => new SeqWorkload(workload, dataDir, runDir,
        scale.seqResumeRows, scale.seqResumeBuckets, seed, resume = true)
      case "curate-text" => new CurateWorkload(dataDir, runDir, scale.curateReplicas, seed)
      case "cde-tables" => new CdeWorkload(dataDir, runDir, scale.cdeSampleRows,
        scale.cdeDataRows, seed, RulesCsv, CdePinned(scaleName))
      case other =>
        System.err.println(s"unknown workload: $other")
        sys.exit(2)
    }

    var attempted, failed = 0L
    var callNo = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val spans = new Spans(runId, enabled = trace)
    val callS = mutable.ArrayBuffer.empty[Double]
    val gapS = mutable.ArrayBuffer.empty[Double]
    val bytesPerRow = mutable.ArrayBuffer.empty[Double]
    var totalBytes = 0L
    var totalRows = 0L

    /** One call, then its untimed output check. A traced call runs inside
      * a span with a [[LayerListener]] registered for it alone, whose
      * counters are read before the check runs. Returns the call's seconds
      * and counters. */
    def runCall(spark: SparkSession, traced: Boolean): (Double, Option[LayerCounts]) = {
      val i = callNo
      callNo += 1
      w.prepare(i)
      val listener = if (traced) Some(LayerListener.install(spark)) else None
      val compile0 = CodeGenerator.compileTime
      val startMs = System.currentTimeMillis()
      val w0 = wcharBytes()
      val t0 = System.nanoTime()
      val out = try Some(
        if (listener.isEmpty) w.call(spark, i) else spans(w.entryPoint)(w.call(spark, i))
      ) catch {
        case NonFatal(e) =>
          e.printStackTrace()
          failures += s"call $i threw $e"
          None
      }
      val t1 = System.nanoTime()
      val bytes = wcharBytes() - w0
      val s = (t1 - t0) / 1e9
      System.err.println(f"[graftbench] call $i: $s%.3f s")
      val counts = listener.map { l =>
        try l.snapshot(spark, startMs, startMs + (t1 - t0) / 1000000L, compile0)
        finally l.uninstall(spark)
      }
      val checked = out.map { o =>
        try w.check(spark, i, o) catch {
          case NonFatal(e) =>
            e.printStackTrace()
            Checked(w.opsPerCall, w.opsPerCall, Seq(s"check $i threw $e"))
        }
      }.getOrElse(Checked(w.opsPerCall, w.opsPerCall, Nil))
      attempted += checked.ops
      failed += checked.failed
      failures ++= checked.messages
      val stamps = t0 +: out.map(_.verdictNs).getOrElse(Seq(t1))
      gapS ++= stamps.zip(stamps.tail).map { case (a, b) => (b - a) / 1e9 }
      bytesPerRow += bytes.toDouble / w.rowsPerCall
      totalBytes += bytes
      totalRows += w.rowsPerCall
      (s, counts)
    }

    /** Closed loop for `budgetS`, at least `minCalls` calls; stops before
      * a call that would overrun the budget. Call `k` of the loop is traced
      * when `traced(k)`. */
    def loop(spark: SparkSession, budgetS: Double, minCalls: Int, traced: Int => Boolean)
        : Seq[(Double, Option[LayerCounts])] = {
      val start = System.nanoTime()
      val done = mutable.ArrayBuffer.empty[(Double, Option[LayerCounts])]
      while (done.size < minCalls ||
          (System.nanoTime() - start) / 1e9 + Stats.median(done.map(_._1).toSeq) <= budgetS)
        done += runCall(spark, traced(done.size))
      done.toSeq
    }

    // set-up: session start, one materialization of the inputs and the
    // untimed warm-up calls, so the timed calls start on warm code and data
    val spark = session()
    val sessionS = (System.nanoTime() - mainStartNs) / 1e9
    w.materialize(spark)
    System.err.println(f"[graftbench] jvm $jvmUptimeS%.3f s, session $sessionS%.3f s, " +
      f"materialize ${(System.nanoTime() - mainStartNs) / 1e9 - sessionS}%.3f s")
    while (callNo < WarmupCalls) runCall(spark, traced = false)
    val setupS = jvmUptimeS + (System.nanoTime() - mainStartNs) / 1e9
    System.err.println(f"[graftbench] $workload setup: $setupS%.3f s")
    gapS.clear(); bytesPerRow.clear(); totalBytes = 0L; totalRows = 0L

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!trace) {
      callS ++= loop(spark, seconds, MinCalls, _ => false).map(_._1)
      val med = Stats.median(callS.toSeq)
      metrics("setup_s") = setupS
      metrics("rows_per_s") = w.rowsPerCall / med
      metrics("verdict_s_p50") = Stats.quantile(gapS.toSeq, 0.5)
      metrics("verdict_s_p90") = Stats.quantile(gapS.toSeq, 0.9)
      metrics("write_bytes_per_row") = totalBytes.toDouble / totalRows
      metrics("heap_retained_mb") = heapRetainedMb(spark)
      metrics("pass_ratio") = (attempted - failed).toDouble / math.max(attempted, 1L)
    } else {
      // untraced and traced calls alternate, at least two of each, so
      // both see the same warm state
      val calls = loop(spark, seconds, 4, k => k % 2 == 1)
      val untraced = calls.collect { case (s, None) => s }
      val traced = calls.collect { case (s, Some(c)) => (s, c) }
      callS ++= traced.map(_._1)
      val layer = w.layers(spark, spans) ++ w.callFacts
      val m = (f: LayerCounts => Double) => Stats.median(traced.map(t => f(t._2)))
      val tracedS = Stats.median(traced.map(_._1))
      metrics ++= Seq(
        "catalyst.plan_s" -> m(_.planS),
        "codegen.compile_s" -> m(_.compileS),
        "driver.gap_s" -> m(_.driverGapS),
        "codegen.fallback_exprs" -> m(_.fallbackExprs.toDouble),
        "codegen.wscg_share" -> m(_.wscgShare),
        "spark.jobs" -> m(_.jobs.toDouble),
        "spark.stages" -> m(_.stages.toDouble),
        "spark.tasks" -> m(_.tasks.toDouble),
        "spark.executor_run_s" -> m(_.executorRunS),
        "spark.executor_cpu_s" -> m(_.executorCpuS),
        "spark.jvm_gc_s" -> m(_.jvmGcS),
        "spark.shuffle_write_bytes" -> m(_.shuffleWriteBytes.toDouble),
        "spark.shuffle_read_bytes" -> m(_.shuffleReadBytes.toDouble),
        "spark.spill_bytes" -> m(_.spillBytes.toDouble),
        "trace.call_s" -> tracedS,
        "trace.overhead_s" -> (tracedS - Stats.median(untraced))) ++ layer
      spans.write(s"$Work/spans/$runId.jsonl")
    }

    failures.take(20).foreach(f => System.err.println(s"[graftbench] FAILED: $f"))
    val stats = s"""{"workload":"$workload","seed":$seed,"scale":"$scaleName",""" +
      s""""trace":$trace,"nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""calls":${callS.size},"setup_s":${Stats.json(setupS)},""" +
      s""""call_s":${Stats.summary(callS.toSeq)},"verdict_s":${Stats.summary(gapS.toSeq)},""" +
      s""""write_bytes_per_row":${Stats.summary(bytesPerRow.toSeq)}}"""
    val metricJson = metrics.map { case (n, v) => s""""$n":${Stats.json(v)}""" }
      .mkString("{", ",", "}")
    val result = s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$metricJson}"""
    spark.stop()
    Workload.deleteTree(new File(dataDir))
    Workload.deleteTree(new File(runDir))
    System.out.println(stats)
    System.out.println(result)
    System.out.flush()
  }
}
