package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.runner.{MonitoredFileSystem, MonitoredFs, ScanRunner}

/** The benchmark's JVM program: one JVM, one closed-loop client. Sets up a
  * session and the workload's inputs, runs two untimed warm-up passes (the
  * library's first also dumps what the output checks need), then timed
  * passes until `--seconds` have passed and at least three have run. Writes
  * one JSON result file; `run.py` checks outputs and prints the metrics.
  *
  * With `--trace 1`, even passes run plain and odd passes run traced
  * (listeners attached, spans around every public call), so the tracing
  * overhead shows as the difference between the two pass times. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: File, fixtures: File,
      pinnedRows: Map[String, Long], result: File, traceOut: File)

  /** One traced call: the span recorded around a public entry point. Its
    * parent is the pass; `startS` counts from the start of the run. */
  final case class Span(pass: Int, name: String, module: String,
      startS: Double, buildS: Double, execS: Double, ok: Boolean, jobs: Long)

  /** What one pass measured. Counts are deltas over the pass. */
  final case class Pass(index: Int, traced: Boolean, callS: Vector[Double],
      clean: Boolean, readOps: Long, readBytes: Long, rows: Long,
      tasks: TaskMeter.Counts, stream: (Long, Long, Long), writeBytes: Long,
      memo: (Long, Long))

  // The paper's scan: 64 files of VPIC-like particles, `ke > θ` with θ
  // chosen so that about 10% of rows pass (ke = ½|u|², u ~ N(0, 1)³).
  val ScanFiles = 64
  val ScanRowsPerFile = 131072
  val Theta = 3.1

  // `library`: two queries from each of the `queries`, `operators` and
  // `streaming` modules, sized so that a pass takes about 7 s on 4 cores.
  val LibraryQueries = Seq("q_tpch_q5", "q_set_union_all",
    "q_dedup_prefix_filter", "q_graph_pagerank", "q_stream_distinct",
    "q_stream_session")

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val spark = session(o)
    try new Run(o, spark).apply()
    finally spark.stop()
  }

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val pinned = Files.readAllLines(Paths.get(m("pinned-rows"))).toArray
      .map(_.toString.split('\t')).collect { case Array(q, n) => q -> n.toLong }
      .toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, new File(m("work")),
      new File(m("fixtures")), pinned, new File(m("result")),
      new File(m("trace-out")))
  }

  /** The session `graft.Bench` uses, sized to this host. */
  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .config("spark.local.dir", new File(o.work, "local").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.dedup.dfCapGuard", "on")
      .config("spark.graft.publish.receipts", "off")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.hadoopConfiguration
      .set(MonitoredFs.ImplKey, classOf[MonitoredFileSystem].getName)
    s
  }

  /** A pass time robust to host stalls: the sum over the pass's calls of
    * each call's median across `passes`. */
  def medianPassS(passes: Seq[Pass]): Double =
    if (passes.isEmpty) 0.0
    else passes.head.callS.indices.map(i => median(passes.map(_.callS(i)))).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length

  /** Write `scan_fanout`'s input: [[ScanFiles]] parquet files whose bytes
    * depend only on the seed. The directory holds data files only, because
    * `ScanRunner` schedules every regular file it finds. */
  def generateScan(spark: SparkSession, dir: File, seed: Long): Seq[File] = {
    val tmp = new File(dir.getPath + ".tmp")
    deleteTree(tmp)
    deleteTree(dir)
    val u = Seq("ux", "uy", "uz")
    spark.range(0L, ScanFiles.toLong * ScanRowsPerFile, 1L, ScanFiles)
      .select(col("id") +: (Seq("x", "y", "z").zipWithIndex.map {
        case (c, i) => rand(seed + i).cast("float").as(c) } ++
        u.zipWithIndex.map { case (c, i) =>
          randn(seed + 3 + i).cast("float").as(c) }): _*)
      .withColumn("ke", (lit(0.5) * u.map(c => col(c).cast("double") *
        col(c).cast("double")).reduce(_ + _)).cast("float"))
      .write.parquet(tmp.getPath)
    dir.mkdirs()
    val parts = tmp.listFiles.filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == ScanFiles, s"expected $ScanFiles files, got ${parts.length}")
    val out = parts.zipWithIndex.map { case (f, i) =>
      val dst = new File(dir, f"particles_$i%03d.parquet")
      Files.move(f.toPath, dst.toPath)
      dst
    }
    deleteTree(tmp)
    out.toSeq
  }

  /** The library's module for a query: the package of the object whose
    * `defs` map holds it. */
  def module(q: String): String =
    if (graft.streaming.EventStreams.defs.contains(q)) "streaming"
    else if (graft.queries.Relational.defs.contains(q) ||
      graft.queries.Extended.defs.contains(q) ||
      graft.queries.Reshape.defs.contains(q)) "queries"
    else "operators"

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => json(other.toString)
  }
}

/** One benchmark run in a live session. */
final class Run(o: Main.Opts, spark: SparkSession) {
  import Main._

  private val sc = spark.sparkContext
  private val taskMeter = new TaskMeter
  private val streamMeter = new StreamMeter
  private val spans = ArrayBuffer.empty[Span]
  private val failures = ArrayBuffer.empty[String]
  private var calls = 0L
  private var failedCalls = 0L
  private val isScan = o.workload == "scan_fanout"
  private val origin = System.nanoTime()

  private val queries: Seq[String] = o.workload match {
    case "scan_fanout" => Nil
    case "library" => LibraryQueries
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }
  private val order = new scala.util.Random(o.seed).shuffle(queries)
  private val defs = graft.SparkEntry.queries
  // Library reads go through the paper's metered filesystem in every run,
  // so the timed runs report read ops and bytes too.
  private val libDir = s"${MonitoredFs.Scheme}:${o.fixtures.getAbsolutePath}"
  private val scanDir = new File(o.work, "scan")
  private val checkDir = new File(o.work, "check")

  private def fail(what: String, n: Long = 1): Unit = {
    failures += what
    failedCalls += n
  }

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString).take(300)

  /** Bench's per-query cleanup, kept outside every timed region. */
  private def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    spark.streams.resetTerminated()
  }

  def apply(): Unit = {
    def uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1e3
    val sessionS = uptime
    val inputBytes =
      if (isScan) generateScan(spark, scanDir, o.seed).map(_.length).sum
      else Option(o.fixtures.listFiles).map(_.map(_.length).sum).getOrElse(0L)
    val inputsS = uptime
    // Two untimed warm-up passes: the JIT keeps speeding passes up well
    // past the first one. The library's first one also dumps each result
    // for the hash check.
    val warm = ArrayBuffer.empty[Pass]
    if (isScan) warm += pass(-2, traced = false) else dumpResults()
    warm += pass(-1, traced = false)
    val setupS = uptime

    // At least three timed passes, so that each call's median drops one
    // stalled sample; a traced run needs two plain and two traced.
    val minPasses = if (o.trace) 4 else 3
    val passes = ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.size < minPasses || elapsed < o.seconds)
      passes += pass(passes.size, traced = o.trace && passes.size % 2 == 1)

    val merged = if (o.trace && isScan) mergedScan() else Nil
    val kat = knownAnswers()
    val timed = passes.filterNot(_.traced)
    val clean = timed.filter(_.clean)
    val result = Map(
      "workload" -> o.workload,
      "cores" -> o.cores,
      "setup_s" -> setupS,
      "setup_phases_s" -> Map("session" -> sessionS,
        "inputs" -> (inputsS - sessionS), "warm_up" -> (setupS - inputsS)),
      "call_s" -> (if (clean.nonEmpty) clean else timed).map(_.callS),
      "calls" -> calls,
      "failed" -> failedCalls,
      "failures" -> failures.take(20).toSeq,
      "input_bytes" -> inputBytes,
      "read_ops" -> timed.map(_.readOps),
      "read_bytes" -> timed.map(_.readBytes),
      "scan_rows" -> (warm ++ passes).map(_.rows),
      "scan_dir" -> scanDir.getPath,
      "merged_rows" -> merged.map(_._2),
      "check_dir" -> checkDir.getPath,
      "order" -> order,
      "kat" -> kat,
      "peak_rss_mb" -> Counters.peakRssMb(),
      "layers" -> (if (o.trace) layers(passes.toSeq, merged, inputBytes) ++ Map(
        "setup.session_s" -> sessionS, "setup.inputs_s" -> (inputsS - sessionS),
        "setup.warm_up_s" -> (setupS - inputsS)) else Map.empty))
    if (o.trace) writeTrace(passes.toSeq, merged, kat)
    Files.write(o.result.toPath, json(result).getBytes(UTF_8))
  }

  /** The library's first warm-up pass: writes each result to parquet for
    * the hash check in `run.py`. */
  private def dumpResults(): Unit = order.foreach { q =>
    calls += 1
    try {
      val df = defs(q)(spark, libDir)
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      try df.coalesce(1).write.parquet(new File(checkDir, q).getPath)
      finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    } catch { case NonFatal(e) => fail(s"warm-up $q: ${message(e)}") }
    cleanup()
  }

  private def pass(index: Int, traced: Boolean): Pass = {
    if (traced) {
      sc.addSparkListener(taskMeter)
      spark.streams.addListener(streamMeter)
    }
    val failed0 = failedCalls
    Bus.drain(sc)
    val t0 = taskMeter.snapshot()
    streamMeter.drain()
    val (ops0, bytes0) = MonitoredFs.snapshot()
    val w0 = Counters.fileBytesWritten()
    val m0 = Counters.memo()
    val callS = Vector.newBuilder[Double]
    var rows = 0L
    if (isScan) {
      val s = System.nanoTime()
      val r = ScanRunner.run(spark, Seq(scanDir.getPath), "ke", Theta, o.cores)
      val wall = (System.nanoTime() - s) / 1e9
      callS += wall
      calls += r.files
      rows = r.totalRows
      if (r.failedFiles > 0)
        fail(s"pass $index: ${r.failedFiles} failed files", r.failedFiles)
      if (traced) {
        Bus.drain(sc)
        spans += Span(index, "ScanRunner.run", "runner", (s - origin) / 1e9, 0.0, wall,
          r.failedFiles == 0, (taskMeter.snapshot() - t0).jobs)
      }
    } else order.foreach { q =>
      val j0 = if (traced) { Bus.drain(sc); taskMeter.snapshot().jobs } else 0L
      calls += 1
      val s = System.nanoTime()
      var built = s
      var ok = false
      try {
        val df: DataFrame = defs(q)(spark, libDir)
        built = System.nanoTime()
        val n = df.queryExecution.toRdd.count()
        ok = o.pinnedRows.get(q).contains(n)
        if (!ok) fail(s"pass $index $q: $n rows, pinned ${o.pinnedRows.get(q)}")
      } catch { case NonFatal(e) => fail(s"pass $index $q: ${message(e)}") }
      val e = System.nanoTime()
      callS += (e - s) / 1e9
      if (traced) {
        Bus.drain(sc)
        spans += Span(index, q, module(q), (s - origin) / 1e9, (built - s) / 1e9,
          (e - built) / 1e9,
          ok, taskMeter.snapshot().jobs - j0)
      }
      cleanup()
    }
    Bus.drain(sc)
    val (ops1, bytes1) = MonitoredFs.snapshot()
    val m1 = Counters.memo()
    val p = Pass(index, traced, callS.result(), failedCalls == failed0, ops1 - ops0,
      bytes1 - bytes0, rows, taskMeter.snapshot() - t0, streamMeter.drain(),
      Counters.fileBytesWritten() - w0, (m1._1 - m0._1, m1._2 - m0._2))
    if (traced) {
      sc.removeSparkListener(taskMeter)
      spark.streams.removeListener(streamMeter)
    }
    p
  }

  /** `ScanRunner.runMerged` over the same files: the single-job floor. */
  private def mergedScan(): Seq[(Double, Long)] = Seq.fill(3) {
    val s = System.nanoTime()
    val n = ScanRunner.runMerged(spark, Seq(scanDir.getPath), "ke", Theta)
    ((System.nanoTime() - s) / 1e9, n)
  }

  /** Known-answer tests for the byte meters. A full scan of a fixture file
    * must read at least the file's bytes through `monitored:`; the task
    * `InputMetrics` and Hadoop `file`-scheme read counts of the same scan
    * are recorded beside it to show why neither is used. Parquet written
    * through `file:`, plus a blob written through `FileContext` (the API of
    * streaming checkpoints), must count exactly the bytes that land on
    * disk. */
  private def knownAnswers(): Map[String, Any] = {
    val f = new File(o.fixtures, "lineitem.parquet").getAbsoluteFile
    val (_, b0) = MonitoredFs.snapshot()
    spark.read.parquet(s"${MonitoredFs.Scheme}:${f.getPath}")
      .queryExecution.toRdd.count()
    val (_, b1) = MonitoredFs.snapshot()
    val input = new ScanRunner.InputMetricsListener
    sc.addSparkListener(input)
    val r0 = Counters.fileBytesRead()
    spark.read.parquet(s"file:${f.getPath}").queryExecution.toRdd.count()
    Bus.drain(sc)
    sc.removeSparkListener(input)
    val r1 = Counters.fileBytesRead()
    val out = new File(o.work, "kat_write")
    deleteTree(out)
    val w0 = Counters.fileBytesWritten()
    spark.range(0L, 200000L, 1L, 4).selectExpr("id", "cast(id * 7 as string) s")
      .write.parquet(out.getPath)
    val fc = org.apache.hadoop.fs.FileContext.getLocalFSFileContext(
      sc.hadoopConfiguration)
    val blob = fc.create(new org.apache.hadoop.fs.Path(new File(out, "fc.bin").toURI),
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    try blob.write(new Array[Byte](123457)) finally blob.close()
    val written = Counters.fileBytesWritten() - w0
    val onDisk = treeBytes(out)
    deleteTree(out)
    Map(
      "file_bytes" -> f.length,
      "monitored_bytes" -> (b1 - b0),
      "input_metrics_bytes" -> input.bytesRead.sum(),
      "file_scheme_read_bytes" -> (r1 - r0),
      "write_on_disk_bytes" -> onDisk,
      "write_counted_bytes" -> written,
      "monitored_ok" -> (b1 - b0 >= f.length),
      "write_ok" -> (written == onDisk))
  }

  /** Per-layer metrics of the traced passes, each per pass. */
  private def layers(passes: Seq[Pass], merged: Seq[(Double, Long)],
      inputBytes: Long): Map[String, Double] = {
    val tr = passes.filter(_.traced)
    val plain = passes.filterNot(_.traced)
    val n = tr.size.toDouble
    def per(f: Pass => Double) = tr.map(f).sum / n
    val passS = medianPassS(tr)
    val runS = per(_.tasks.taskRunS)
    val cpuS = per(_.tasks.taskCpuS)
    val trSpans = spans.toSeq.filter(_.name != "ScanRunner.run")
    def build(m: String) = trSpans.filter(_.module == m).map(_.buildS).sum / n
    val scanRows = ScanFiles.toDouble * ScanRowsPerFile
    val runner =
      if (!isScan) Seq("jobs_per_file", "tasks", "task_run_s", "task_cpu_s",
        "core_busy", "read_amp", "rows_out", "selectivity", "merged_s")
        .map(_ -> 0.0)
      else Seq(
        "jobs_per_file" -> per(_.tasks.jobs.toDouble) / ScanFiles,
        "tasks" -> per(_.tasks.tasks.toDouble),
        "task_run_s" -> runS,
        "task_cpu_s" -> cpuS,
        "core_busy" -> runS / (passS * o.cores),
        "read_amp" -> per(_.readBytes.toDouble) / inputBytes,
        "rows_out" -> per(_.rows.toDouble),
        "selectivity" -> per(_.rows.toDouble) / scanRows,
        "merged_s" -> median(merged.map(_._1)))
    val perQuery = LibraryQueries.flatMap { q =>
      val s = trSpans.filter(_.name == q)
      val k = s.size.max(1).toDouble
      Seq(s"q.$q.wall_s" -> s.map(x => x.buildS + x.execS).sum / k,
        s"q.$q.jobs" -> s.map(_.jobs).sum / k)
    }
    (Seq(
      "trace.pass_s" -> passS,
      "trace.untraced_pass_s" -> medianPassS(plain),
      "trace.overhead_s" -> (passS - medianPassS(plain))) ++
      runner.map { case (k, v) => s"runner.$k" -> v } ++ Seq(
      "queries.build_s" -> build("queries"),
      "operators.build_s" -> build("operators"),
      "streaming.build_s" -> build("streaming"),
      "spark.exec_s" -> (if (isScan) passS
        else trSpans.map(_.execS).sum / n),
      "spark.jobs" -> per(_.tasks.jobs.toDouble),
      "spark.stages" -> per(_.tasks.stages.toDouble),
      "spark.tasks" -> per(_.tasks.tasks.toDouble),
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> cpuS,
      "spark.gc_s" -> per(_.tasks.gcS),
      "spark.offcpu_frac" -> (if (runS > 0) 1.0 - cpuS / runS else 0.0),
      "spark.shuffle_write_bytes" -> per(_.tasks.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> per(_.tasks.spillBytes.toDouble),
      "streaming.batches" -> per(_.stream._1.toDouble),
      "streaming.state_commit_ms" -> per(_.stream._2.toDouble),
      "streaming.state_rows" -> per(_.stream._3.toDouble),
      "streaming.write_bytes" -> per(_.writeBytes.toDouble),
      "sources.read_ops" -> per(_.readOps.toDouble),
      "sources.read_bytes" -> per(_.readBytes.toDouble),
      "memo.hits" -> per(_.memo._1.toDouble),
      "memo.misses" -> per(_.memo._2.toDouble)) ++ perQuery).toMap
  }

  /** The traced run's spans and per-pass counts, written once at the end. */
  private def writeTrace(passes: Seq[Pass], merged: Seq[(Double, Long)],
      kat: Map[String, Any]): Unit = {
    val doc = Map(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "call_s" -> p.callS, "clean" -> p.clean, "read_ops" -> p.readOps,
        "read_bytes" -> p.readBytes, "rows" -> p.rows,
        "jobs" -> p.tasks.jobs, "stages" -> p.tasks.stages,
        "tasks" -> p.tasks.tasks, "task_run_s" -> p.tasks.taskRunS,
        "task_cpu_s" -> p.tasks.taskCpuS, "gc_s" -> p.tasks.gcS,
        "shuffle_write_bytes" -> p.tasks.shuffleWriteBytes,
        "spill_bytes" -> p.tasks.spillBytes, "stream_batches" -> p.stream._1,
        "state_commit_ms" -> p.stream._2, "state_rows" -> p.stream._3,
        "file_write_bytes" -> p.writeBytes, "memo_hits" -> p.memo._1,
        "memo_misses" -> p.memo._2)),
      "spans" -> spans.toSeq.map(s => Map("pass" -> s.pass, "name" -> s.name,
        "module" -> s.module, "start_s" -> s.startS, "build_s" -> s.buildS,
        "exec_s" -> s.execS,
        "ok" -> s.ok, "jobs" -> s.jobs)),
      "merged" -> merged.map { case (t, n) => Map("s" -> t, "rows" -> n) },
      "memo" -> graft.MemoStats.json(),
      "known_answers" -> kat)
    o.traceOut.getParentFile.mkdirs()
    Files.write(o.traceOut.toPath, json(doc).getBytes(UTF_8))
  }
}

/** Writes `scan_fanout`'s input alone: `Generate <dir> <seed> <cores>`.
  * Used by the determinism test. */
object Generate {
  def main(argv: Array[String]): Unit = {
    val Array(dir, seed, cores) = argv
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench-generate").config("spark.ui.enabled", "false")
      .getOrCreate()
    try Main.generateScan(spark, new File(dir), seed.toLong)
    finally spark.stop()
  }
}

/** Prints the DuckDB oracle SQL of the named library queries as one JSON
  * object: `Oracles <query>...`. Used to pin expected results. */
object Oracles {
  def main(argv: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    println(Main.json(argv.toSeq.filter(sql.contains).map(q => q -> sql(q)).toMap))
  }
}
