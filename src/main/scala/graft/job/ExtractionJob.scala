package graft.job

import java.sql.Timestamp

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.extract.Extractor
import graft.model._

/** The extraction job: Iceberg/parquet scan -> NARROW mapPartitions fast
  * extraction on the scan partitions (payloads never shuffle) -> flagged-row
  * heavy stage over a url-hash rebatch of the small flagged subset ->
  * union -> results + per-partition lineage, committed in resumable
  * url-hash checkpoint groups.
  *
  * Spark re-expression of the reference's two-phase pipeline
  * (reference: pipeline.py:299-835): Phase-1 worker pool = stage-1 tasks;
  * the cross-file GPU batch gather (pipeline.py:450-533, batch.py:299-395)
  * = the flagged-row repartition + mapPartitions stage (batch amortization
  * via JVM-singleton parser state); the phase barrier = the Spark stage
  * boundary; per-file error containment (pipeline.py:284-296) = failure
  * rows + lineage failure counts.
  *
  * Shuffle discipline at 10^12 rows: the only full-width data movement is
  * the OPTIONAL input repartition (`repartitionInput`), for scans whose
  * file layout clusters by host (WARC-by-host crawls) — that path salts
  * skewed hosts explicitly. The default path moves (a) the flagged ~5%
  * (with payloads) into uniform url-hash batches for the heavy stage
  * (batched mode only) and (b) the extracted results (payload-free) into
  * commit groups ONCE, before the checkpointed run caches them; lineage
  * and every commit batch then read that cache without another exchange.
  * Everything else is narrow.
  */
object ExtractionJob {

  final case class JobConfig(
      threshold: Double = 0.85,
      diagnostics: Boolean = false,
      forceHeavy: Boolean = false,
      maxBytes: Int = 512 * 1024,
      numGroups: Int = 64, // commit groups (url-hash buckets); resume unit
      groupsPerCommit: Int = 16, // commit-batch size
      numPartitions: Int = 0, // 0 -> spark default parallelism
      repartitionInput: Boolean = false, // host-salted input shuffle (skewed scans only)
      batchedHeavy: Boolean = false, // separate rebatched heavy stage (model-served engines)
      // B6 memory-aware sub-batching (reference: batch.py split_into_batches):
      // the batched heavy stage feeds the engine sub-batches whose summed
      // payload bytes stay under this budget, so one partition of oversized
      // flagged payloads can never be materialized as a single engine call
      maxHeavyBatchBytes: Long = 64L * 1024 * 1024,
      skewSalts: Int = 16, // salt fan-out for skewed hosts
      skewSampleFraction: Double = 0.01, // host-frequency detection sample
      skewHostShare: Double = 0.05, // host is "skewed" above this row share
      maxKernelSteps: Long = 64L * 1024 * 1024 // B3 per-row work budget
  ) {
    def extractorConfig: Extractor.Config = Extractor.Config(
      threshold = threshold,
      diagnostics = diagnostics,
      forceHeavy = forceHeavy,
      maxBytes = maxBytes,
      maxKernelSteps = maxKernelSteps
    )
  }

  /** Stage-1 output row. `html` is retained ONLY for rows that need the
    * heavy stage (reference keeps flagged pages for Phase 2,
    * batch.py:299-342) — the unflagged majority sheds its payload before any
    * shuffle, which is what keeps the heavy stage's input small at scale.
    */
  final case class FastRow(
      doc: DocResult,
      commit_group: Int,
      partition_id: Int,
      needsHeavy: Boolean,
      html: Array[Byte],
      text: String,
      lang: String,
      warc_ts: Timestamp
  )

  final case class KeyedPage(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String,
      commit_group: Int
  )

  final case class ResultRow(
      url: String,
      extracted_text: String,
      spans: Seq[Span],
      quality: Quality,
      engine: String,
      success: Boolean,
      error: String,
      diagnostics: Option[Diagnostics],
      commit_group: Int,
      partition_id: Int
  )

  /** Committed commit groups from the lineage table. ONLY two states read
    * as "fresh run": the table is missing (PATH_NOT_FOUND), or the
    * directory exists with NO data files — a crash during the very first
    * lineage write leaves `_temporary`/marker entries only, and treating
    * the resulting UNABLE_TO_INFER_SCHEMA as fatal would make that crash
    * permanently unrecoverable (the results write is idempotent, so redoing
    * is safe). Any OTHER read failure — a corrupted table with real data
    * files — still surfaces: silently redoing committed work would append
    * duplicate lineage rows.
    */
  def readCommittedGroups(lineagePath: String)(implicit spark: SparkSession): Set[Int] =
    try spark.read.parquet(lineagePath).select("commit_group").distinct()
      .collect().map(_.getInt(0)).toSet
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getErrorClass == "PATH_NOT_FOUND" =>
        Set.empty
      case e: org.apache.spark.sql.AnalysisException
          if e.getErrorClass == "UNABLE_TO_INFER_SCHEMA" && !hasDataFiles(lineagePath) =>
        Set.empty
    }

  /** True if the directory holds at least one non-hidden data file
    * (Hadoop FS — works for local and distributed paths alike).
    */
  private[graft] def hasDataFiles(path: String)(implicit spark: SparkSession): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next()
        // listFiles recurses into _temporary; require every path segment
        // visible, not just the leaf
        val rel = f.getPath.toUri.getPath.stripPrefix(p.toUri.getPath)
        found = rel.split("/").filter(_.nonEmpty).forall(visible)
      }
      found
    }
  }

  /** Detect skewed hosts from a sample: any host holding more than
    * `skewHostShare` of sampled rows (SURVEY.md §4.1). Sampled, not exact —
    * salting is a physical-plan decision, results never depend on it.
    */
  def detectSkewedHosts(pages: DataFrame, cfg: JobConfig): Set[String] = {
    val sampled =
      if (cfg.skewSampleFraction >= 1.0) pages else pages.sample(cfg.skewSampleFraction, 42L)
    val counts = sampled
      .select(graft.ops.TextAnalysis.hostOf(col("url")).as("host"))
      .groupBy("host")
      .count()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val totalRow = counts.agg(sum("count")).first()
      val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
      if (total == 0) Set.empty
      else
        counts
          .filter(col("count") > lit(math.max(1.0, total * cfg.skewHostShare)))
          .select("host")
          .collect()
          .map(_.getString(0))
          .toSet
    } finally { counts.unpersist(); () }
  }

  /** Keyed input for one commit batch. The commit group is pure url-hash
    * (`pmod(xxhash64(url), numGroups)`), deterministic and independent of
    * physical partitioning, so resume keys never shift.
    *
    * By default the input is consumed on its scan partitions — no shuffle,
    * payloads never move. With `repartitionInput` (for scans whose file
    * layout clusters rows by host, e.g. WARC-by-host crawls) the input is
    * hash-partitioned on host with hosts above `skewHostShare` explicitly
    * salted across `skewSalts` sub-keys, so one mega-host cannot pin a task.
    */
  private def keyed(
      pages: DataFrame,
      cfg: JobConfig,
      skewedHosts: Set[String],
      groups: Option[Seq[Int]]
  )(implicit spark: SparkSession): Dataset[KeyedPage] = {
    import spark.implicits._
    var df = pages
      .withColumn("commit_group", pmod(xxhash64(col("url")), lit(cfg.numGroups)).cast("int"))
    groups.foreach(g => df = df.filter(col("commit_group").isInCollection(g)))
    if (cfg.repartitionInput) {
      df = df
        .withColumn("host", graft.ops.TextAnalysis.hostOf(col("url")))
        .withColumn(
          "salted_key",
          when(
            col("host").isInCollection(skewedHosts + " none"),
            concat(col("host"), lit("#"), pmod(xxhash64(col("url")), lit(cfg.skewSalts)))
          ).otherwise(col("host"))
        )
        .repartition(partitions(cfg), col("salted_key"))
    }
    df.select("url", "warc_ts", "html", "text", "lang", "commit_group")
      .as[KeyedPage]
  }

  private def partitions(cfg: JobConfig)(implicit spark: SparkSession): Int =
    if (cfg.numPartitions > 0) cfg.numPartitions else spark.sparkContext.defaultParallelism

  /** Fast extraction + heavy fallback over (a batch of) the input. Pure
    * transformation — no writes.
    *
    * Two physical modes, identical results:
    *   - inline (default): ONE narrow mapPartitions stage — fast extract,
    *     and flagged rows fall through to the heavy kernel in place. Right
    *     whenever the heavy engine is a CPU kernel whose state is already
    *     JVM-singleton: zero shuffles, zero caching, scales linearly.
    *   - batchedHeavy: the reference's phase structure (pipeline.py:441-533)
    *     — flagged rows (payloads kept) are REBATCHED by url-hash into
    *     uniform partitions and run through a separate mapPartitions stage.
    *     Right when the heavy engine has expensive per-process state (a
    *     served model) whose loads must be amortized over large uniform
    *     batches, or when flag-rate skew would starve inline tasks.
    */
  def extract(
      pages: DataFrame,
      cfg: JobConfig,
      skewedHosts: Set[String] = Set.empty,
      groups: Option[Seq[Int]] = None,
      cacheRegistry: scala.collection.mutable.Buffer[Dataset[_]] = null
  )(implicit spark: SparkSession): Dataset[ResultRow] = {
    import spark.implicits._
    val exCfg = cfg.extractorConfig
    val input = keyed(pages, cfg, skewedHosts, groups)

    if (!cfg.batchedHeavy) {
      // Inline mode: single narrow stage, payloads never leave their
      // scan/generation partition.
      return input.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        it.map { p =>
          val raw = RawPage(p.url, p.warc_ts, p.html, p.text, p.lang)
          toResult(Extractor.extractWithFallback(raw, exCfg), p.commit_group, pid)
        }
      }
    }

    // Batched mode below.
    // Stage 1: fast path. Parser/wordlist state is JVM-singleton (object
    // initializers + lazy vals), instantiated once per executor and amortized
    // across every row of every partition (reference: model_cache.py:25-179
    // TTL cache -> executor-lifetime cache).
    val fast: Dataset[FastRow] = input.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      it.map { p =>
        val raw = RawPage(p.url, p.warc_ts, p.html, p.text, p.lang)
        val doc = Extractor.fastExtract(raw, exCfg)
        val needsHeavy = Extractor.needsHeavy(doc, exCfg)
        FastRow(
          doc, p.commit_group, pid, needsHeavy,
          if (needsHeavy) p.html else null,
          if (needsHeavy) p.text else null,
          p.lang, p.warc_ts)
      }
    }

    // Phase barrier analogue: persist so the good/heavy split doesn't
    // recompute extraction. Serialized, spills to disk; unflagged rows have
    // already dropped their payload so the cached footprint ~= output size.
    // The handle is registered so the caller can unpersist it once the
    // returned (lazy) result has been materialized.
    val persisted = fast.persist(StorageLevel.MEMORY_AND_DISK_SER)
    if (cacheRegistry != null) cacheRegistry += persisted

    val good = persisted
      .filter(!_.needsHeavy)
      .map(r => toResult(r.doc, r.commit_group, r.partition_id))

    // Stage 2: heavy re-segmentation of still-flagged rows only (selective
    // reprocessing, pipeline.py:451). The flagged subset (~5-10% of rows,
    // still carrying payloads) is REBATCHED by url-hash into uniform
    // partitions before the expensive kernel — the Spark form of the
    // reference's cross-file batch gather (batch.py:299-395): flagged work
    // is redistributed so stragglers from uneven flag rates can't pin tasks.
    val heavy = persisted
      .filter(_.needsHeavy)
      .repartition(partitions(cfg), xxhash64(col("doc.url")))
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        // B6: byte-budgeted sub-batches — the unit a batch-served engine
        // (the reference's GPU model, batch.py:299-395) receives per call.
        // The CPU kernel applies per row within the chunk; chunk boundaries
        // never affect results (mode-equivalence tested).
        byteBatches[FastRow](
          it,
          r => (if (r.html == null) 0L else r.html.length.toLong) +
            (if (r.text == null) 0L else 2L * r.text.length),
          cfg.maxHeavyBatchBytes
        ).flatMap { chunk =>
          chunk.iterator.map { r =>
            val raw = RawPage(r.doc.url, r.warc_ts, r.html, r.text, r.lang)
            val doc = Extractor.heavyExtract(raw, r.doc, exCfg)
            toResult(doc, r.commit_group, pid)
          }
        }
      }

    good.union(heavy)
  }

  /** Greedy byte-budgeted chunking of a row iterator: each chunk holds at
    * least one row and otherwise stops before its summed `bytesOf` exceeds
    * `maxBytes`. Order-preserving; never buffers more than one chunk.
    */
  private[job] def byteBatches[T](
      it: Iterator[T],
      bytesOf: T => Long,
      maxBytes: Long
  ): Iterator[Seq[T]] = new Iterator[Seq[T]] {
    private val in = it.buffered
    override def hasNext: Boolean = in.hasNext
    override def next(): Seq[T] = {
      val chunk = Seq.newBuilder[T]
      var used = 0L
      var n = 0
      var done = false
      while (!done && in.hasNext) {
        val size = bytesOf(in.head)
        if (n == 0 || used + size <= maxBytes) {
          chunk += in.next()
          used += size
          n += 1
        } else done = true
      }
      chunk.result()
    }
  }

  private def toResult(doc: DocResult, group: Int, pid: Int): ResultRow =
    ResultRow(doc.url, doc.extracted_text, doc.spans, doc.quality, doc.engine,
      doc.success, doc.error, doc.diagnostics, group, pid)

  /** Per-partition lineage aggregation (north rule: partition id, doc count,
    * byte count, failure count; reference analogue: BatchResult counters,
    * types.py:201-214).
    */
  def lineage(results: Dataset[ResultRow])(implicit spark: SparkSession): Dataset[Lineage] = {
    import spark.implicits._
    results
      .groupBy(col("commit_group"), col("partition_id"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum(octet_length(col("extracted_text"))).as("byte_count"),
        sum(when(!col("success"), 1L).otherwise(0L)).as("failure_count")
      )
      .as[Lineage]
  }

  /** Checkpointed run: processes commit groups in batches; each batch writes
    * its results (parquet partitioned by commit_group) then appends its
    * lineage rows — the lineage append IS the commit record. A killed run
    * resumes by anti-joining groups against committed lineage
    * (north rule; reference analogue: per-file isolation + final/ dir
    * idempotency, pipeline.py:801-812).
    *
    * The input is scanned ONCE for all remaining groups: extraction results
    * (payload-free — unflagged rows shed payloads inside the extract stage)
    * are hash-partitioned by commit_group ONCE and persisted, and each
    * commit batch filters the CACHE, so input scans do not grow with batch
    * count (O(corpus), not O(batches x corpus)). One job computes the
    * lineage of every remaining group (and fills the cache); each batch
    * then hands the store its own rows — clustered, so the write needs no
    * exchange — and its own lineage rows. A crash mid-run loses only the
    * cache; the resumed run re-scans once for the still-uncommitted
    * groups. On the production Iceberg table the url-hash bucket layout
    * additionally turns the remaining-groups filter into partition pruning.
    */
  def runCheckpointed(
      pages: DataFrame,
      cfg: JobConfig,
      outputDir: String
  )(implicit spark: SparkSession): Seq[Lineage] =
    runCheckpointed(pages, cfg, new ParquetCommitStore(outputDir))

  /** Store-injected form: the commit/resume protocol is identical for the
    * parquet stand-in and a production Iceberg catalog ([[CommitStore]]).
    */
  def runCheckpointed(
      pages: DataFrame,
      cfg: JobConfig,
      store: CommitStore
  )(implicit spark: SparkSession): Seq[Lineage] = {
    val committed: Set[Int] = store.committedGroups()

    val remaining = (0 until cfg.numGroups).filterNot(committed)
    if (remaining.isEmpty) return Seq.empty
    val skewed =
      if (cfg.repartitionInput) detectSkewedHosts(pages, cfg) else Set.empty[String]

    // every dataset the run caches (incl. the batched-heavy mode's internal
    // FastRow persist) is registered and released at the end via its Dataset
    // handle — raw-RDD unpersist would leak CacheManager entries and turn
    // same-plan re-persists into no-ops
    val caches = scala.collection.mutable.Buffer.empty[Dataset[_]]
    // the commit path's one shuffle: each commit group lands whole in one
    // partition, and filtering to a batch keeps that partitioning, so the
    // lineage job and every batch write plan no exchange and a partitioned
    // write emits one file per group
    val persisted = extract(pages, cfg, skewed, Some(remaining), caches)
      .repartition(partitions(cfg), col("commit_group"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    caches += persisted

    val all = Seq.newBuilder[Lineage]
    try {
      // one job for every batch's commit records; it also fills the cache
      val byGroup = lineage(persisted).collect().toSeq.groupBy(_.commit_group)
      remaining.grouped(cfg.groupsPerCommit).foreach { batch =>
        val subset = persisted.filter(col("commit_group").isInCollection(batch))
        // groups with zero rows still need a commit record, else every
        // resume re-scans them forever (found by CLI resume verification)
        val lin = batch.flatMap(g => byGroup.getOrElse(g, Seq(Lineage(g, -1, 0L, 0L, 0L))))
        // results first, lineage second (the store contract): a crash
        // between the two leaves replaceable orphans, never a committed
        // group without data
        store.commitBatch(subset, lin, batch)
        all ++= lin
      }
    } finally caches.foreach(_.unpersist())
    all.result()
  }

  /** Driver-side batch summary (reference: BatchResult counters +
    * engine rollup, types.py:109-229 / cli.py:83-141).
    */
  def summarize(results: Dataset[ResultRow]): DataFrame =
    results
      .groupBy(col("engine"))
      .agg(
        count(lit(1)).as("docs"),
        sum(when(!col("success"), 1L).otherwise(0L)).as("errors"),
        sum(when(col("quality.flagged"), 1L).otherwise(0L)).as("flagged"),
        avg(col("quality.score")).as("mean_quality"),
        sum(octet_length(col("extracted_text"))).as("bytes")
      )
      .orderBy(col("engine"))
}
