package graft.job

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.corpus.CorpusGen
import graft.model.Engines

class CorpusGenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("generation is deterministic and partition-invariant") {
    import spark.implicits._
    val a = CorpusGen.pages(spark, 100, partitions = 1)
      .map(p => (p.url, p.text, if (p.html == null) -1 else p.html.length))
      .collect().sortBy(_._1)
    val b = CorpusGen.pages(spark, 100, partitions = 7)
      .map(p => (p.url, p.text, if (p.html == null) -1 else p.html.length))
      .collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("host distribution is skewed (host0 ~40%)") {
    val hosts = (0L until 1000L).map(i => CorpusGen.host(42L, i))
    val share = hosts.count(_ == "host0").toDouble / hosts.size
    assert(share > 0.3 && share < 0.5, s"host0 share $share")
  }

  test("every taxonomy class appears") {
    val classes = (0L until 40L).map(CorpusGen.rowClass).toSet
    assert(classes == (0 until 20).toSet)
  }
}

class ExtractionJobSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  private val cfg = ExtractionJob.JobConfig(numGroups = 8, groupsPerCommit = 4, numPartitions = 4)

  test("end-to-end on the tiny corpus: engines, failures, flags") {
    val pages = CorpusGen.pages(spark, 200).toDF()
    val results = ExtractionJob.extract(pages, cfg).collect()
    assert(results.length == 200)

    val byEngine = results.groupBy(_.engine).view.mapValues(_.length).toMap
    assert(byEngine.getOrElse(Engines.Html, 0) >= 20, s"engines: $byEngine")
    assert(byEngine.getOrElse(Engines.Pdf, 0) >= 20)
    assert(byEngine.getOrElse(Engines.Passthrough, 0) >= 20)

    // failure classes 15,16,17,18 = 4/20 of rows
    val failures = results.filterNot(_.success)
    assert(failures.length == 40, s"failures: ${failures.length}")
    assert(failures.forall(_.engine == Engines.None_))

    // clean html rows extract real content
    val htmlDocs = results.filter(r => r.engine == Engines.Html && r.success)
    assert(htmlDocs.forall(_.extracted_text.nonEmpty))
    // no boilerplate leaked
    assert(htmlDocs.forall(!_.extracted_text.contains("Copyright")))
  }

  test("heavy stage recovers fragmented-content rows the fast path missed") {
    val pages = CorpusGen.pages(spark, 200).toDF()
    val results = ExtractionJob.extract(pages, cfg).collect()
    val heavy = results.filter(_.engine == Engines.Heavy)
    // class-11 rows (10 of 200) are engineered to defeat the fast classifier
    assert(heavy.length >= 5, s"heavy rows: ${heavy.length}")
    assert(heavy.forall(_.success))
    assert(heavy.forall(_.extracted_text.length > 100))
  }

  test("lineage counts add up") {
    val pages = CorpusGen.pages(spark, 200).toDF()
    val results = ExtractionJob.extract(pages, cfg)
    val lin = ExtractionJob.lineage(results).collect()
    assert(lin.map(_.doc_count).sum == 200)
    assert(lin.map(_.failure_count).sum == 40)
    assert(lin.forall(l => l.commit_group >= 0 && l.commit_group < cfg.numGroups))
  }

  test("checkpointed run commits all groups and is resumable + idempotent") {
    val out = Files.createTempDirectory("graft-ckpt").toString
    val pages = CorpusGen.pages(spark, 120).toDF()

    // first run commits only the first batch (simulate a kill by limiting groups)
    val partial = cfg.copy(numGroups = 8, groupsPerCommit = 8)
    val firstBatchCfg = partial.copy(groupsPerCommit = 4)
    // run only the first commit batch by calling extract+write manually
    val skewed = ExtractionJob.detectSkewedHosts(pages, partial)
    val firstGroups = Some(Seq(0, 1, 2, 3))
    import spark.implicits._
    val firstResults = ExtractionJob.extract(pages, firstBatchCfg, skewed, firstGroups)
    firstResults.write.mode("append").partitionBy("commit_group").parquet(s"$out/results")
    ExtractionJob.lineage(firstResults).coalesce(1)
      .write.mode("append").parquet(s"$out/lineage")

    // resume: must process only the remaining groups
    val lin2 = ExtractionJob.runCheckpointed(pages, partial, out)
    assert(lin2.nonEmpty)
    assert(lin2.forall(l => l.commit_group >= 4), s"re-processed committed groups: $lin2")

    // final state: every row exactly once
    val all = spark.read.parquet(s"$out/results")
    assert(all.count() == 120)
    assert(all.select("url").distinct().count() == 120)

    // second resume is a no-op
    val lin3 = ExtractionJob.runCheckpointed(pages, partial, out)
    assert(lin3.isEmpty)
    assert(spark.read.parquet(s"$out/results").count() == 120)
  }

  test("crash between results write and lineage append does not duplicate rows") {
    // simulate: a batch's results land but the commit record (lineage) never
    // does — the resumed run must REPLACE the orphan partitions, not append
    val out = Files.createTempDirectory("graft-orphan").toString
    val pages = CorpusGen.pages(spark, 120).toDF()
    val c = cfg.copy(numGroups = 8, groupsPerCommit = 8)
    val orphan = ExtractionJob.extract(pages, c, Set.empty, Some(Seq(0, 1, 2, 3)))
    orphan.write.mode("append").partitionBy("commit_group").parquet(s"$out/results")
    // no lineage written -> nothing is committed -> full run reprocesses all
    ExtractionJob.runCheckpointed(pages, c, out)
    val all = spark.read.parquet(s"$out/results")
    assert(all.count() == 120, "orphan batch rows must be replaced, not duplicated")
    assert(all.select("url").distinct().count() == 120)
  }

  test("summarize rolls up the mixed engine for spliced fast+heavy docs") {
    import spark.implicits._
    // one clean page + two jittered pages in one PDF -> selective per-page
    // reprocessing yields engine=mixed (Extractor test covers mechanics);
    // here: the batch rollup must surface it as its own engine row
    val clean = CorpusGen.genRow(42L, 12)
    val jit = CorpusGen.genRow(42L, 13)
    val header = "%PDF-GRAFT 1.0\n".getBytes("UTF-8")
    val spliced = clean.copy(
      url = "https://host0.example/doc/9012",
      html = clean.html ++ jit.html.drop(header.length))
    val pages = Seq(spliced, CorpusGen.genRow(42L, 0)).toDF()
    val c = cfg.copy(threshold = 0.9)
    val roll = ExtractionJob.summarize(ExtractionJob.extract(pages, c)).collect()
      .map(r => r.getAs[String]("engine") -> r.getAs[Long]("docs")).toMap
    assert(roll.get(Engines.Mixed).contains(1L), s"rollup: $roll")
  }

  test("runCheckpointed speaks only the CommitStore trait (resume honors the store's view)") {
    import org.apache.spark.sql.{Dataset, SparkSession}
    val pages = CorpusGen.pages(spark, 60).toDF()
    val c = cfg.copy(numGroups = 8, groupsPerCommit = 4)
    def expected(batch: Seq[Int]): Seq[String] =
      ExtractionJob.extract(pages, c, Set.empty, Some(batch)).collect().map(_.url).sorted.toSeq
    // fake store pre-seeded with half the groups committed: the run must
    // consult the STORE for resume state (not any filesystem path) and
    // commit only the remainder, in groupsPerCommit-sized batches
    val committed = scala.collection.mutable.Set[Int](0, 1, 2, 3)
    val batches = scala.collection.mutable.ListBuffer.empty[Seq[Int]]
    val store = new CommitStore {
      override def committedGroups()(implicit s: SparkSession): Set[Int] = committed.toSet
      override def commitBatch(
          results: Dataset[ExtractionJob.ResultRow],
          lineageRows: Seq[graft.model.Lineage],
          batch: Seq[Int])(implicit s: SparkSession): Unit = {
        val urls = results.collect().map { r =>
          assert(batch.contains(r.commit_group))
          r.url
        }
        // the batch's rows, all of them and only them
        assert(urls.sorted.toSeq == expected(batch))
        batches += batch
        committed ++= batch
      }
    }
    val lin = ExtractionJob.runCheckpointed(pages, c, store)
    assert(lin.map(_.commit_group).toSet == Set(4, 5, 6, 7))
    assert(batches.toList == List(Seq(4, 5, 6, 7)))
    // second run: store says everything is committed -> no-op
    assert(ExtractionJob.runCheckpointed(pages, c, store).isEmpty)
  }

  /** Records what a checkpointed run hands its store, batch by batch,
    * then commits through the parquet store.
    */
  private final class RecordingStore(out: String) extends CommitStore {
    import org.apache.spark.sql.{Dataset, SparkSession}
    private val inner = new ParquetCommitStore(out)
    val plans = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.execution.SparkPlan]
    val lineage = scala.collection.mutable.ListBuffer.empty[(Seq[Int], Seq[graft.model.Lineage])]
    override def committedGroups()(implicit s: SparkSession): Set[Int] = inner.committedGroups()(s)
    override def commitBatch(
        results: Dataset[ExtractionJob.ResultRow],
        lineageRows: Seq[graft.model.Lineage],
        batch: Seq[Int])(implicit s: SparkSession): Unit = {
      plans += results.queryExecution.executedPlan
      lineage += batch -> lineageRows
      inner.commitBatch(results, lineageRows, batch)(s)
    }
  }

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange

    /** Exchanges in `plan` itself, not inside the cached relations it reads. */
    def exchanges(plan: SparkPlan): Seq[Exchange] = collect(plan) { case e: Exchange => e }

    def cachedPlans(plan: SparkPlan): Seq[SparkPlan] =
      collect(plan) { case s: InMemoryTableScanExec => s.relation.cachedPlan }
  }

  test("results are shuffled into commit groups once, before the cache; batch writes add no exchange") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val out = Files.createTempDirectory("graft-shape").toString
    val pages = CorpusGen.pages(spark, 120).toDF()
    val c = cfg.copy(numGroups = 8, groupsPerCommit = 2)
    val store = new RecordingStore(out)
    ExtractionJob.runCheckpointed(pages, c, store)
    assert(store.plans.size == 4)
    store.plans.foreach { plan =>
      assert(Plans.exchanges(plan).isEmpty, s"batch write input shuffles:\n$plan")
      val cached = Plans.cachedPlans(plan)
      assert(cached.size == 1, s"batch must read the one cached result:\n$plan")
      val ex = Plans.exchanges(cached.head)
      assert(ex.size == 1, s"cached results plan:\n${cached.head}")
      ex.head match {
        case ShuffleExchangeExec(HashPartitioning(Seq(a: AttributeReference), n), _, _, _) =>
          assert(a.name == "commit_group")
          assert(n == c.numPartitions)
        case other => fail(s"expected hashpartitioning(commit_group): $other")
      }
    }
  }

  test("each non-empty commit group is written as exactly one data file") {
    val out = Files.createTempDirectory("graft-onefile")
    val pages = CorpusGen.pages(spark, 120).toDF()
    val c = cfg.copy(numGroups = 8, groupsPerCommit = 2)
    val lin = ExtractionJob.runCheckpointed(pages, c, out.toString)
    val nonEmpty = lin.filter(_.doc_count > 0).map(_.commit_group).distinct
    assert(nonEmpty.size == c.numGroups, s"tiny corpus should fill every group: $lin")
    nonEmpty.foreach { g =>
      val dir = out.resolve(s"results/commit_group=$g")
      val files = Files.list(dir).toArray.map(_.toString.split('/').last)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(files.length == 1, s"group $g: ${files.toSeq}")
    }
  }

  test("each batch's lineage rows are the extraction lineage of its groups") {
    val out = Files.createTempDirectory("graft-batchlineage").toString
    val pages = CorpusGen.pages(spark, 120).toDF()
    val c = cfg.copy(numGroups = 8, groupsPerCommit = 3)
    val store = new RecordingStore(out)
    ExtractionJob.runCheckpointed(pages, c, store)
    val want = ExtractionJob.lineage(
      ExtractionJob.extract(pages, c, Set.empty, Some(0 until c.numGroups))).collect().toSeq
    assert(store.lineage.map(_._1).toList == List(Seq(0, 1, 2), Seq(3, 4, 5), Seq(6, 7)))
    store.lineage.foreach { case (batch, rows) =>
      val key = (l: graft.model.Lineage) => (l.commit_group, l.partition_id)
      assert(rows.sortBy(key) == want.filter(l => batch.contains(l.commit_group)).sortBy(key),
        s"batch $batch")
    }
  }

  test("skew detection is scheme-case-robust (HTTPS:// hosts land in the salted branch)") {
    import spark.implicits._
    // 60% of rows on one host, written with an UPPERCASE scheme and
    // mixed-case authority — a case-sensitive host extract would read an
    // empty host for every one of them and the mega-host would evade salting
    val urls = (0 until 100).map { i =>
      if (i < 60) s"HTTPS://Skew.Example.COM/page$i" else s"https://unique$i.org/p"
    }.toDF("url")
    val c = cfg.copy(skewSampleFraction = 1.0, skewHostShare = 0.3)
    val skewed = ExtractionJob.detectSkewedHosts(urls, c)
    assert(skewed == Set("skew.example.com"), s"got $skewed")
  }

  test("results are independent of parallelism, salting and heavy mode (plan-only knobs)") {
    val pages = CorpusGen.pages(spark, 100).toDF()
    def run(c: ExtractionJob.JobConfig, hosts: Set[String]) =
      ExtractionJob.extract(pages, c, hosts)
        .collect().map(r => (r.url, r.extracted_text, r.engine, r.quality.score))
        .sortBy(_._1).toSeq
    val r1 = run(cfg.copy(numPartitions = 1), Set.empty)
    val r2 = run(
      cfg.copy(numPartitions = 7, skewSalts = 3, repartitionInput = true),
      Set("host0.example"))
    val r3 = run(cfg.copy(numPartitions = 5, batchedHeavy = true), Set.empty)
    assert(r1 == r2)
    assert(r1 == r3, "inline and batched heavy modes must produce identical results")
  }

  test("diagnostics survive the parquet sink roundtrip") {
    val out = Files.createTempDirectory("graft-diag").toString
    val pages = CorpusGen.pages(spark, 60).toDF()
    val c = cfg.copy(diagnostics = true, numGroups = 4, groupsPerCommit = 4)
    ExtractionJob.runCheckpointed(pages, c, out)
    val back = spark.read.parquet(s"$out/results")
    import org.apache.spark.sql.functions.col
    val heavyRows = back.filter(col("engine") === Engines.Heavy)
      .select("diagnostics.fastText", "diagnostics.engineDiff.summary",
        "diagnostics.struggleCategories", "diagnostics.postprocessCounts")
      .collect()
    assert(heavyRows.nonEmpty)
    heavyRows.foreach { r =>
      assert(r.getString(0) != null, "fastText must be preserved for diffing")
      assert(r.getAs[Map[String, Int]](1).nonEmpty, "engine diff summary present")
    }
    // non-diagnostics runs write null structs
    val out2 = Files.createTempDirectory("graft-nodiag").toString
    ExtractionJob.runCheckpointed(pages, c.copy(diagnostics = false), out2)
    val nodiag = spark.read.parquet(s"$out2/results")
    assert(nodiag.filter(col("diagnostics").isNotNull).count() == 0)
  }

  test("a lineage dir with no data files (first-write crash) reads as fresh") {
    val out = Files.createTempDirectory("graft-emptylineage")
    // simulate a crash during the FIRST lineage write: directory exists,
    // only hidden/marker entries inside (no data files)
    Files.createDirectories(out.resolve("lineage"))
    Files.write(out.resolve("lineage/_started"), Array[Byte](1))
    val pages = CorpusGen.pages(spark, 60).toDF()
    val c = cfg.copy(numGroups = 4, groupsPerCommit = 4)
    val lin = ExtractionJob.runCheckpointed(pages, c, out.toString)
    assert(lin.nonEmpty, "recovery from an empty lineage dir must reprocess")
    assert(spark.read.parquet(s"${out}/results").count() == 60)
    // and a CORRUPTED table with a real (non-parquet) data file still surfaces
    val out2 = Files.createTempDirectory("graft-corruptlineage")
    Files.createDirectories(out2.resolve("lineage"))
    Files.write(out2.resolve("lineage/part-00000.parquet"), "not parquet".getBytes)
    intercept[Exception] {
      ExtractionJob.runCheckpointed(pages, c, out2.toString)
    }
  }

  test("B6: byte-budgeted sub-batching bounds chunks and never changes results") {
    // chunker unit behavior: order kept, >=1 row per chunk, budget respected
    val rows = Seq(10L, 20L, 5L, 100L, 1L, 1L, 50L)
    val chunks = ExtractionJob.byteBatches[Long](rows.iterator, identity, 30L).toSeq
    assert(chunks.flatten == rows, "order must be preserved")
    assert(chunks.forall(_.nonEmpty))
    chunks.foreach { c =>
      assert(c.map(identity[Long]).sum <= 30L || c.size == 1,
        s"chunk over budget with >1 row: $c")
    }
    assert(chunks.exists(_.size > 1), "budget should coalesce small rows")
    // an oversized single row still travels (alone)
    assert(chunks.exists(c => c == Seq(100L)))

    // end-to-end: a 1-byte budget (every chunk = one row) and the default
    // budget produce identical batched-heavy results
    val pages = CorpusGen.pages(spark, 100).toDF()
    def run(c: ExtractionJob.JobConfig) =
      ExtractionJob.extract(pages, c).collect()
        .map(r => (r.url, r.extracted_text, r.engine)).sortBy(_._1).toSeq
    val tiny = run(cfg.copy(batchedHeavy = true, maxHeavyBatchBytes = 1L))
    val big = run(cfg.copy(batchedHeavy = true))
    assert(tiny == big)
  }

  test("input is scanned once across commit batches, not once per batch") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("input-rows-read")
    val n = 200L
    val counted = CorpusGen.pages(spark, n).map { p => acc.add(1); p }.toDF()
    val out = Files.createTempDirectory("graft-onescan").toString
    // 8 groups, 2 per commit -> 4 commit batches over the same input
    ExtractionJob.runCheckpointed(counted, cfg.copy(groupsPerCommit = 2), out)
    // one pass (plus slack for speculative/retried tasks) — the old
    // per-batch rescan would read ~4n rows here
    assert(acc.value <= 2 * n,
      s"input rows read ${acc.value} must not scale with the 4 commit batches")
    assert(spark.read.parquet(s"$out/results").count() == n)
  }

  test("forceHeavy routes every successful row through the heavy engine") {
    val pages = CorpusGen.pages(spark, 40).toDF()
    val results = ExtractionJob.extract(pages, cfg.copy(forceHeavy = true)).collect()
    val successes = results.filter(_.success)
    // heavyExtract keeps the fast output where it cannot do better
    // (text-only rows), but every successful html AND pdf row must show the
    // heavy engine
    val payloadCapable = successes.filter(r =>
      Seq(Engines.Heavy, Engines.Html, Engines.Pdf).contains(r.engine))
    assert(payloadCapable.nonEmpty)
    assert(payloadCapable.forall(_.engine == Engines.Heavy),
      s"payload rows must be heavy under forceHeavy: ${payloadCapable.map(r => r.url -> r.engine).toSeq}")
  }

  test("summarize produces the batch rollup") {
    val pages = CorpusGen.pages(spark, 100).toDF()
    val s = ExtractionJob.summarize(ExtractionJob.extract(pages, cfg)).collect()
    assert(s.map(_.getAs[Long]("docs")).sum == 100)
    assert(s.exists(_.getAs[String]("engine") == Engines.Html))
  }
}
