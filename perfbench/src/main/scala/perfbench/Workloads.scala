package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.extract.Extractor
import graft.job.{CommitStore, ExtractionJob, ParquetCommitStore}
import graft.model.{Engines, Lineage, RawPage}

/** A fault injected into a run so the self-test can show a check failing. */
sealed trait Fault
object Fault {
  case object NoFault extends Fault
  case object FlipDigest extends Fault // one committed row's digest altered
  case object DropEdge extends Fault // the only pair of one planted cluster removed
  case object DropGroup extends Fault // one commit group never committed
}

/** One benchmark workload: seeded input generation, the engine's first
  * touch, one timed repetition through the engine's public entry points,
  * and the output checks.
  */
trait Workload {
  def name: String

  /** Input docs processed by one repetition. */
  def docs: Int

  /** Writes the input table to `input` and what the checks compare
    * against to `reference` (both parquet), before anything is measured.
    */
  def generate(spark: SparkSession, input: String, reference: String): Unit

  /** The engine's first touch, the last step of set-up: initializes the
    * kernels the workload calls (object state, function registration) by
    * one Spark job that runs them on one row.
    */
  def touch(spark: SparkSession): Unit

  /** One repetition over the input table (or some of its files), results
    * written under `out`. Returns the check failures that can be read off
    * the call's own result (empty when fine).
    */
  def run(spark: SparkSession, input: Seq[String], out: String, tracer: Option[Tracer], fault: Fault): Seq[String]

  /** Full output checks on a repetition's output; empty when correct. */
  def check(spark: SparkSession, input: String, reference: String, out: String, fault: Fault): Seq[String]

  /** Per-layer metrics of one traced repetition that wrote to `out`. */
  def layerMetrics(tracer: Tracer, spark: SparkSession, out: String): Map[String, Double]
}

object Workloads {
  val InputFiles = 16

  /** The workload `name` on the inputs of `seed`; `scale` shrinks the input
    * for self-tests (1.0 in measured runs).
    */
  def byName(name: String, seed: Long, scale: Double): Workload = name match {
    case "crawl_mix" =>
      new ExtractionWorkload("crawl_mix", seed, math.max(200, (3500 * scale).toInt),
        ExtractionJob.JobConfig(), Gen.crawl, Gen.crawlEngines, sample = 1000)
    case "pdf_heavy" =>
      new ExtractionWorkload("pdf_heavy", seed, math.max(160, (1000 * scale).toInt),
        ExtractionJob.JobConfig(batchedHeavy = true), Gen.pdfHeavy, Gen.pdfHeavyEngines, sample = 160)
    case "near_dup" =>
      new NearDupWorkload(seed, math.max(400, (6000 * scale).toInt))
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  val names: Seq[String] = Seq("crawl_mix", "pdf_heavy", "near_dup")
}

/** Row generators. Each row is a pure function of (seed, index[, size]), so
  * the checks can regenerate any input row without reading the table.
  */
object Gen {
  /** The standard 20-class crawl taxonomy ([[CorpusGen.genRow]]). */
  def crawl(seed: Long, n: Int, idx: Long): RawPage = CorpusGen.genRow(seed, idx)

  /** Engines each class of the crawl taxonomy may end in (CorpusGen's class
    * comments): clean and boilerplate HTML, and garbled text layers over
    * clean HTML, re-extract as html; good or unrepairable text layers pass
    * through; fragmented HTML (11) is flagged and re-segmented by the heavy
    * engine; a jittered PDF (13) is flagged and re-segmented whole, or
    * spliced when one of its pages passes the per-page gate; no payload, a
    * truncated PDF and an unknown language fail, as does the oversized
    * payload of class 17, which only the first 1000 rows carry.
    */
  def crawlEngines(n: Int, idx: Long): Set[String] = CorpusGen.rowClass(idx) match {
    case 0 | 1 | 2 | 5 | 10 => Set(Engines.Html)
    case 17 => Set(if (idx < 1000) Engines.None_ else Engines.Html)
    case 3 | 4 | 6 | 7 | 8 | 9 | 19 => Set(Engines.Passthrough)
    case 11 => Set(Engines.Heavy)
    case 13 => Set(Engines.Heavy, Engines.Mixed)
    case 12 | 14 => Set(Engines.Pdf)
    case _ => Set(Engines.None_)
  }

  /** Heavy rows (jittered and spliced multi-page PDFs) fill the first
    * `HeavyFiles` of the [[Workloads.InputFiles]] input files, so flagged
    * rows are clustered in a minority of files (flag-rate skew). The other
    * files hold real ISO 32000 containers cycling through four
    * serializations.
    */
  val HeavyFiles = 6

  private def fileOf(n: Int, idx: Long): Int = ((idx * Workloads.InputFiles) / n).toInt

  def pdfHeavyKind(n: Int, idx: Long): Int =
    if (fileOf(n, idx) < HeavyFiles) (if (idx % 3 == 2) 5 else 4) else (idx % 4).toInt

  def pdfHeavy(seed: Long, n: Int, idx: Long): RawPage = pdfHeavyKind(n, idx) match {
    case 0 => CorpusGen.realPdfRow(seed, idx)
    case 1 => CorpusGen.modernPdfRow(seed, idx)
    case 2 => CorpusGen.cidPdfRow(seed, idx)
    case 3 => CorpusGen.encryptedPdfRow(seed, idx)
    case 4 =>
      RawPage(CorpusGen.url(seed, idx), new Timestamp(1700000000000L + idx * 1000L),
        CorpusGen.jitteredPdfPayload(seed, idx), "", "en")
    case _ => CorpusGen.splicedRow(seed, idx)
  }

  /** Real containers are never flagged; jittered payloads re-segment (or
    * splice, as in the crawl taxonomy); spliced payloads splice.
    */
  def pdfHeavyEngines(n: Int, idx: Long): Set[String] = pdfHeavyKind(n, idx) match {
    case 4 => Set(Engines.Heavy, Engines.Mixed)
    case 5 => Set(Engines.Mixed)
    case _ => Set(Engines.Pdf)
  }
}

/** Digest of one result row, computed the same way on both sides of the
  * comparison.
  */
object Digest {
  def of(url: String, text: String, engine: String, success: Boolean): Long = {
    val s = s"$url\u0000$text\u0000$engine\u0000$success"
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }
}

/** Extraction through `ExtractionJob.runCheckpointed` into a fresh
  * `ParquetCommitStore` per repetition.
  */
final class ExtractionWorkload(
    val name: String,
    seed: Long,
    val docs: Int,
    val cfg: ExtractionJob.JobConfig,
    gen: (Long, Int, Long) => RawPage,
    expectedEngines: (Int, Long) => Set[String],
    sample: Int
) extends Workload {

  def extractorConfig: Extractor.Config = cfg.extractorConfig

  override def generate(spark: SparkSession, input: String, reference: String): Unit = {
    import spark.implicits._
    // the reference needs no Spark: computed while the input is written
    var want = Seq.empty[(String, Long)]
    val prepared = new Thread(() => want = referenceDigests(), "perfbench-reference")
    prepared.start()
    // local copies: the task closure must not capture the workload
    val (s, n, g) = (seed, docs, gen)
    spark.range(0, n, 1, Workloads.InputFiles).map(i => g(s, n, i)).write.parquet(input)
    prepared.join()
    want.toDF("url", "digest").coalesce(1).write.parquet(reference)
  }

  override def touch(spark: SparkSession): Unit = {
    import spark.implicits._
    val (s, n, g, ex) = (seed, docs, gen, cfg.extractorConfig)
    Seq(0L).toDS().map(i => Extractor.extractWithFallback(g(s, n, i), ex).engine).collect()
  }

  private def store(out: String, tracer: Option[Tracer], fault: Fault): CommitStore = {
    val base: CommitStore = new ParquetCommitStore(out)
    val faulty = if (fault == Fault.DropGroup) new DroppingStore(base, group = 0) else base
    tracer.fold(faulty)(t => new TracedStore(faulty, t))
  }

  override def run(
      spark: SparkSession, input: Seq[String], out: String, tracer: Option[Tracer], fault: Fault): Seq[String] = {
    val pages = spark.read.parquet(input: _*)
    val lineage = Tracer.span(tracer, "runCheckpointed") {
      ExtractionJob.runCheckpointed(pages, cfg, store(out, tracer, fault))(spark)
    }
    val committed = lineage.map(_.doc_count).sum
    if (committed == docs) Nil else Seq(s"lineage doc_count sum $committed != $docs input rows")
  }

  /** Reference digests: plain `Extractor.extractWithFallback` calls,
    * outside Spark, over regenerated input rows (rows are independent, so
    * a small thread pool only shortens the generation).
    */
  private def referenceDigests(): Seq[(String, Long)] = {
    val ex = cfg.extractorConfig
    val pool = Executors.newFixedThreadPool(4)
    try {
      val chunks = (0 until docs).grouped(256).toSeq.map { ids =>
        pool.submit(new Callable[Seq[(String, Long)]] {
          override def call(): Seq[(String, Long)] = ids.map { i =>
            val d = Extractor.extractWithFallback(gen(seed, docs, i.toLong), ex)
            d.url -> Digest.of(d.url, d.extracted_text, d.engine, d.success)
          }
        })
      }
      chunks.flatMap(_.get())
    } finally pool.shutdownNow()
  }

  override def check(spark: SparkSession, input: String, reference: String, out: String, fault: Fault): Seq[String] = {
    val errors = Seq.newBuilder[String]
    val want = spark.read.parquet(reference).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val digest = udf((u: String, t: String, e: String, s: Boolean) => Digest.of(u, t, e, s))
    val got0 = spark.read.parquet(s"$out/results")
      .select(col("url"), digest(col("url"), col("extracted_text"), col("engine"), col("success")),
        col("engine"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getString(2))))
    if (got0.length != got0.map(_._1).distinct.length) errors += "duplicate urls in committed results"
    val got = {
      val m = got0.toMap
      if (fault == Fault.FlipDigest && m.nonEmpty) {
        val (u, (d, e)) = m.minBy(_._1)
        m.updated(u, (d ^ 1L, e))
      } else m
    }
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val differ = want.keySet.intersect(got.keySet).filter(u => want(u) != got(u)._1)
    if (missing.nonEmpty) errors += s"${missing.size} urls missing from committed results, e.g. ${missing.min}"
    if (extra.nonEmpty) errors += s"${extra.size} unexpected urls in committed results"
    if (differ.nonEmpty)
      errors += s"${differ.size} urls differ from the single-threaded reference, e.g. ${differ.min}"

    // urls end in the generator's row index (CorpusGen.url)
    val offTaxonomy = got0.filterNot { case (u, (_, e)) =>
      expectedEngines(docs, u.substring(u.lastIndexOf('/') + 1).toLong).contains(e)
    }
    if (offTaxonomy.nonEmpty) {
      val (u, (_, e)) = offTaxonomy.minBy(_._1)
      errors += s"${offTaxonomy.length} rows outside the class taxonomy's engines, e.g. $u -> $e"
    }

    val lineageDocs = spark.read.parquet(s"$out/lineage").agg(sum("doc_count")).first().getLong(0)
    if (lineageDocs != docs) errors += s"lineage doc_count sum $lineageDocs != $docs"

    val pages = spark.read.parquet(input)
    val again = ExtractionJob.runCheckpointed(pages, cfg, new ParquetCommitStore(out))(spark)
    val recommitted = again.map(_.doc_count).sum
    if (recommitted != 0) errors += s"a second run on the same output committed $recommitted docs"
    errors.result()
  }

  override def layerMetrics(t: Tracer, spark: SparkSession, out: String): Map[String, Double] = {
    val job = t.named("runCheckpointed")
    val commit = t.named("commitBatch")
    val probe = t.named("committedGroups")
    val w = t.workUnder(job)
    val total = job.map(_.seconds).sum
    val commitS = commit.map(_.seconds).sum
    val probeS = probe.map(_.seconds).sum
    Map(
      "job.extract_s" -> (total - commitS - probeS),
      "job.commit_s" -> commitS,
      "job.resume_probe_s" -> probeS,
      "job.spark_jobs" -> w.jobs.toDouble,
      "job.tasks" -> w.tasks.toDouble,
      "job.executor_cpu_s" -> w.cpuNs / 1e9,
      "job.gc_s" -> w.gcMs / 1e3,
      "job.shuffle_write_mb" -> w.shuffleWriteBytes / Main.MiB,
      "job.spill_mb" -> w.spillBytes / Main.MiB,
      "job.task_skew" -> t.taskSkew(job)
    )
  }

  /** Seeded sample of input rows for the single-thread kernel pass. */
  def kernelSample: IndexedSeq[RawPage] = {
    val rng = new SplittableRandom(seed ^ 0x5eedL)
    Iterator.continually(rng.nextLong(docs.toLong)).distinct.take(math.min(sample, docs))
      .toIndexedSeq.sorted.map(i => gen(seed, docs, i))
  }
}

/** Drops one commit group on its way into the wrapped store: the results
  * and lineage of that group are never written (a lost commit).
  */
final class DroppingStore(inner: CommitStore, group: Int) extends CommitStore {
  override def committedGroups()(implicit spark: SparkSession): Set[Int] = inner.committedGroups()

  override def commitBatch(
      results: org.apache.spark.sql.Dataset[ExtractionJob.ResultRow],
      lineageRows: Seq[Lineage],
      batch: Seq[Int]
  )(implicit spark: SparkSession): Unit =
    inner.commitBatch(
      results.filter(col("commit_group") =!= group),
      lineageRows.filter(_.commit_group != group),
      batch.filter(_ != group))
}
