package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  * {{{
  * perfbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * perfbench.Main --selftest --work <dir>
  * }}}
  *
  * A run first sets up ([[setUp]], timed from JVM start), then writes the
  * seeded input table and the checks' reference, warms up, repeats the
  * workload for the requested seconds and checks the output. The last
  * stdout line is the result object (see README.md in this directory for
  * every metric). `--selftest` runs every workload small, in one JVM.
  */
object Main {
  val MiB: Double = 1024.0 * 1024.0
  val Cores = 4
  val WarmUpReps = 2
  val MinReps = 4
  val MinTracedReps = 2

  final case class Args(
      workload: String = null,
      seed: Long = 1L,
      seconds: Double = 10,
      trace: Boolean = false,
      work: String = null,
      scale: Double = 1.0,
      fault: Fault = Fault.NoFault,
      selftest: Boolean = false)

  final case class Metric(name: String, value: Double, unit: String)

  final case class Result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric], errors: Seq[String]) {
    def json: String = {
      def num(v: Double) = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
    }
  }

  /** End-to-end metrics, reported with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s", "cpu_ms_per_doc" -> "ms", "setup_s" -> "s",
    "output_mb" -> "MiB", "cache_peak_mb" -> "MiB")

  /** Per-layer metrics, reported with `--trace 1` (0 for layers a workload
    * never calls).
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "extract.html_ms_per_doc" -> "ms", "extract.pdf_parse_ms_per_doc" -> "ms",
    "extract.pdf_layout_ms_per_doc" -> "ms", "extract.heavy_ms_per_doc" -> "ms",
    "extract.fast_ms_per_doc" -> "ms", "extract.heavy_rows" -> "count",
    "extract.heavy_useful_ratio" -> "ratio",
    "text.quality_ms_per_doc" -> "ms", "text.garbled_ms_per_doc" -> "ms",
    "text.dictionary_ms_per_doc" -> "ms", "text.postprocess_ms_per_doc" -> "ms",
    "job.extract_s" -> "s", "job.commit_s" -> "s", "job.resume_probe_s" -> "s",
    "job.spark_jobs" -> "count", "job.tasks" -> "count", "job.executor_cpu_s" -> "s",
    "job.gc_s" -> "s", "job.shuffle_write_mb" -> "MiB", "job.spill_mb" -> "MiB",
    "job.task_skew" -> "ratio", "job.parallel_efficiency" -> "ratio",
    "ops.pairs_s" -> "s", "ops.clusters_s" -> "s", "ops.keep_best_s" -> "s",
    "ops.pairs" -> "count", "ops.clusters" -> "count", "ops.cc_spark_jobs" -> "count",
    "ops.shuffle_write_mb" -> "MiB", "ops.spill_mb" -> "MiB", "ops.executor_cpu_s" -> "s",
    "trace.docs_per_s" -> "docs/s", "trace.overhead_share" -> "ratio",
    "jvm.jit_ms_per_doc" -> "ms")

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--selftest" :: rest => parse(rest, a.copy(selftest = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.work != null, "--work is required")
    if (a.selftest) sys.exit(if (SelfTest.run(a.work)) 0 else 1)
    require(a.workload != null, "--workload is required")
    val r = runWorkload(a)
    r.errors.foreach(e => println(s"check failed: $e"))
    println(r.json)
  }

  /** Set-up: from JVM start to ready for the first repetition, that is the
    * engine's Spark session built and the workload's first touch of the
    * engine done (kernels initialized, functions registered, one Spark job
    * through them). Returns the session and the seconds it took.
    */
  def setUp(w: Workload, work: String): (SparkSession, Double) = {
    val spark = session(Cores, work)
    w.touch(spark)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (System.currentTimeMillis() - jvmStart) / 1e3)
  }

  /** The engine's session shape (as `graft.Main` builds it), with every
    * scratch path inside the run's work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Milliseconds the JIT compilers and the collectors have run so far. */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Bytes of the data files under `dir` (checksums and markers excluded). */
  def dataBytes(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.map(dataBytes).sum
    else if (dir.getName.startsWith(".") || dir.getName.startsWith("_")) 0L
    else dir.length()

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  final case class Rep(
      seconds: Double, cpuNs: Long, jitMs: Long, gcMs: Long, outBytes: Long, peakBytes: Long,
      errors: Seq[String], out: String) {
    def ok: Boolean = errors.isEmpty
  }

  /** Prints how long each phase of a run took (to stdout, before the result). */
  private final class Phases {
    private val t0 = System.nanoTime()
    private var last = t0
    def done(phase: String): Unit = {
      val now = System.nanoTime()
      println(f"phase $phase%-12s ${(now - last) / 1e9}%7.2f s (at ${(now - t0) / 1e9}%.2f s)")
      last = now
    }
  }

  def runWorkload(a: Args): Result = {
    val phases = new Phases
    val w = Workloads.byName(a.workload, a.seed, a.scale)
    val input = s"${a.work}/input"
    val reference = s"${a.work}/reference"
    val (spark0, setupS) = setUp(w, a.work)
    var spark = spark0
    phases.done(f"setup $setupS%.3f s from JVM start")
    // after set-up, so that generating does not warm set-up
    w.generate(spark, input, reference)
    phases.done("generate")
    val storage = new StoragePeak(spark.sparkContext)
    var outs = 0
    def nextOut(): String = { outs += 1; s"${a.work}/out-$outs" }

    def rep(tracer: Option[Tracer]): Rep = {
      val out = nextOut()
      System.gc()
      storage.start()
      val (cpu0, jit0, gc0) = (processCpuNs(), jitMs(), gcMs())
      val t0 = System.nanoTime()
      val errors =
        try w.run(spark, Seq(input), out, tracer, a.fault)
        catch { case NonFatal(e) => Seq(s"repetition threw $e") }
      val secs = (System.nanoTime() - t0) / 1e9
      val cpu = processCpuNs() - cpu0
      Rep(secs, cpu, jitMs() - jit0, gcMs() - gc0, dataBytes(new File(out)), storage.peakBytes, errors, out)
    }

    // warm-up: untimed repetitions (JIT, Spark's code caches); after one,
    // a repetition still runs ~25% slower than after two
    (1 to WarmUpReps).foreach { _ =>
      try w.run(spark, Seq(input), nextOut(), None, a.fault) catch { case NonFatal(_) => Nil }
    }
    phases.done("warm-up")

    val timed = Vector.newBuilder[Rep]
    val layers = Vector.newBuilder[Map[String, Double]]
    val untraced = Vector.newBuilder[Rep]
    val start = System.nanoTime()
    var n = 0
    var last: Rep = null
    while (n < (if (a.trace) MinTracedReps else MinReps) || (System.nanoTime() - start) / 1e9 < a.seconds) {
      if (last != null) delete(new File(last.out))
      if (a.trace) {
        // traced and untraced repetitions interleave, in alternating order
        // so JIT warm-up favours neither, and their docs/s difference is the
        // tracing overhead
        def untracedRep(): Unit = { val u = rep(None); untraced += u; delete(new File(u.out)) }
        if (n % 2 == 0) untracedRep()
        val tracer = new Tracer(spark.sparkContext)
        last = rep(Some(tracer))
        tracer.flush()
        if (last.ok) layers += w.layerMetrics(tracer, spark, last.out)
        tracer.close()
        if (n % 2 == 1) untracedRep()
      } else last = rep(None)
      timed += last
      n += 1
    }
    var reps = timed.result()
    phases.done(s"${reps.size} reps")
    reps.foreach(r =>
      println(f"rep ${r.seconds}%.3f s  cpu ${r.cpuNs / 1e9}%.3f s  jit ${r.jitMs / 1e3}%.3f s  gc ${r.gcMs / 1e3}%.3f s"))
    val checkErrors =
      try w.check(spark, input, reference, last.out, a.fault)
      catch { case NonFatal(e) => Seq(s"check threw $e") }
    if (checkErrors.nonEmpty) reps = reps.init :+ last.copy(errors = last.errors ++ checkErrors)
    phases.done("check")
    val good = reps.filter(_.ok)
    val measured = if (good.nonEmpty) good else reps
    def med(f: Rep => Double): Double = Stats.median(measured.map(f))
    val docsPerS = w.docs / med(_.seconds)

    val metrics: Seq[Metric] =
      if (!a.trace) {
        val values = Map(
          "docs_per_s" -> docsPerS,
          // without the JIT compilers, whose time still falls from repetition
          // to repetition long after the warm-up (README.md, cpu_ms_per_doc)
          "cpu_ms_per_doc" -> med(r => r.cpuNs / 1e6 - r.jitMs) / w.docs,
          "setup_s" -> setupS,
          "output_mb" -> med(_.outBytes / MiB),
          "cache_peak_mb" -> med(_.peakBytes / MiB))
        EndToEnd.map { case (k, u) => Metric(k, values(k), u) }
      } else {
        val perRep = layers.result()
        val fromSpans = perRep.flatMap(_.keys).distinct.map(k => k -> Stats.median(perRep.map(_.getOrElse(k, 0.0))))
        val kernels = w match {
          case e: ExtractionWorkload => KernelPass.run(e.kernelSample, e.extractorConfig)
          case _ => Map.empty[String, Double]
        }
        phases.done("kernel pass")
        val untracedDocsPerS = w.docs / Stats.median(untraced.result().map(_.seconds))
        val efficiency = w match {
          case e: ExtractionWorkload =>
            storage.close()
            val (eff, next) = parallelEfficiency(e, spark, input, a.work, () => nextOut())
            spark = next
            Map("job.parallel_efficiency" -> eff)
          case _ => Map.empty[String, Double]
        }
        val values = (fromSpans ++ kernels ++ efficiency).toMap ++ Map(
          "trace.docs_per_s" -> docsPerS,
          "trace.overhead_share" -> (1.0 - docsPerS / untracedDocsPerS),
          "jvm.jit_ms_per_doc" -> med(_.jitMs.toDouble) / w.docs)
        phases.done("efficiency")
        PerLayer.map { case (k, u) => Metric(k, values.getOrElse(k, 0.0), u) }
      }
    spark.stop()
    Result(
      correct = reps.forall(_.ok),
      attempted = reps.size,
      failed = reps.count(!_.ok),
      metrics = metrics,
      errors = reps.flatMap(_.errors).distinct)
  }

  /** Seconds on `Cores` threads against seconds on one thread for the same
    * quarter of the input (every fourth input file, so the same mix of heavy
    * and light files): T1 / (Cores * TN), 1.0 for perfect scaling. Stops
    * `spark`; returns the efficiency and the session left running.
    */
  private def parallelEfficiency(
      w: ExtractionWorkload,
      spark: SparkSession,
      input: String,
      work: String,
      nextOut: () => String): (Double, SparkSession) = {
    val dir = new org.apache.hadoop.fs.Path(input)
    val files = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted
      .zipWithIndex.collect { case (f, i) if i % 4 == 0 => f }.toSeq
    def timedRun(s: SparkSession): Double = {
      val t0 = System.nanoTime()
      w.run(s, files, nextOut(), None, Fault.NoFault)
      (System.nanoTime() - t0) / 1e9
    }
    val tN = timedRun(spark)
    spark.stop()
    val one = session(1, work)
    one.read.parquet(files: _*).count()
    val t1 = timedRun(one)
    (t1 / (Cores * tN), one)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
