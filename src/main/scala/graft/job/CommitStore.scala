package graft.job

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Lineage

/** Transactional result + lineage store for checkpointed extraction runs —
  * the injection seam between the job's commit protocol (SURVEY.md §4.3:
  * results and lineage committed together, lineage append = the commit
  * record, resume = anti-join against committed groups) and whatever table
  * format the deployment provides. `runCheckpointed` speaks only this
  * trait, so moving from the parquet stand-in to a production Iceberg
  * catalog is an injection, not a rewrite.
  *
  * Contract per batch (enforced by the caller's ordering, relied on by
  * resume): results for the batch's commit groups become durably visible
  * FIRST, the batch's lineage rows are appended SECOND, and a group counts
  * as committed iff its lineage rows are readable. A crash between the two
  * steps leaves orphan results that the re-run must replace, not duplicate.
  *
  * Layout contract: `results` arrive already clustered by `commit_group` —
  * hash-partitioned once by the caller, before its cache, so each group
  * sits whole in one partition. A store writes them as they are (a
  * partitioned write then emits one file per group) and must not
  * reshuffle: a per-batch repartition would re-read and re-shuffle the
  * cache for every batch.
  */
trait CommitStore {

  /** Commit groups whose lineage (= commit record) is durably readable.
    * Must return the empty set for a store that has never committed.
    */
  def committedGroups()(implicit spark: SparkSession): Set[Int]

  /** Durably write one batch: results (replacing any orphan data for these
    * groups from a crashed previous attempt), then the lineage rows whose
    * visibility marks the groups committed. `results` holds exactly the
    * batch's rows, clustered by commit group; `lineageRows` exactly the
    * batch's lineage.
    */
  def commitBatch(
      results: Dataset[ExtractionJob.ResultRow],
      lineageRows: Seq[Lineage],
      batch: Seq[Int]
  )(implicit spark: SparkSession): Unit
}

/** Parquet stand-in for the production table format (the only format
  * available in this sandbox). Idempotence without table transactions:
  *
  *   - results: DYNAMIC partition overwrite keyed by commit_group — a
  *     re-run of a crashed batch REPLACES its orphan partition dirs
  *     instead of appending duplicates,
  *   - lineage: plain append; the append IS the commit record (the
  *     reference analogue: the idempotent `final/` dir, pipeline.py:801-812).
  *
  * The crash window between the two writes is handled by resume semantics
  * (orphan replacement), not by atomicity — that is the one property the
  * parquet stand-in cannot provide and [[IcebergCommitStore]] can.
  */
final class ParquetCommitStore(outputDir: String) extends CommitStore {
  private val resultsPath = s"$outputDir/results"
  private val lineagePath = s"$outputDir/lineage"

  override def committedGroups()(implicit spark: SparkSession): Set[Int] =
    ExtractionJob.readCommittedGroups(lineagePath)

  override def commitBatch(
      results: Dataset[ExtractionJob.ResultRow],
      lineageRows: Seq[Lineage],
      batch: Seq[Int]
  )(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    results.write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("commit_group")
      .parquet(resultsPath)
    lineageRows.toDS().coalesce(1).write.mode("append").parquet(lineagePath)
  }
}

/** Iceberg-catalog store: the production implementation the parquet
  * stand-in shims. Uses only the Spark DataFrameWriterV2 / catalog API, so
  * it compiles against plain Spark; at runtime it requires an Iceberg
  * catalog on the session (`spark.sql.catalog.<name>` = SparkCatalog +
  * iceberg-spark-runtime on the classpath — NOT available in this sandbox;
  * the contract tests run against [[ParquetCommitStore]]). Probed against
  * the built-in session catalog: `committedGroups` and the first-batch
  * `create()` path work as written, and the replace path fails exactly at
  * the V2 boundary ("Cannot write into v1 table") — i.e. the one untested
  * behavior is `overwritePartitions` itself, which is Iceberg's own
  * contract surface.
  *
  * What Iceberg buys over the stand-in: each of the two writes is an
  * ATOMIC snapshot commit (no torn partition dirs, no `_temporary`
  * half-states), `overwritePartitions` is a serializable replace of
  * exactly the touched commit groups, and the resume read prunes on the
  * commit_group partition column through catalog metadata instead of
  * directory listing. The remaining two-table crash window is closed the
  * same way as the stand-in (orphan replacement on re-run); a REST catalog
  * with multi-table transactions could merge the two commits into one, at
  * which point `commitBatch` becomes a single transaction body.
  */
final class IcebergCommitStore(resultsTable: String, lineageTable: String)
    extends CommitStore {

  override def committedGroups()(implicit spark: SparkSession): Set[Int] =
    if (!spark.catalog.tableExists(lineageTable)) Set.empty
    else
      spark.read.table(lineageTable).select("commit_group").distinct()
        .collect().map(_.getInt(0)).toSet

  override def commitBatch(
      results: Dataset[ExtractionJob.ResultRow],
      lineageRows: Seq[Lineage],
      batch: Seq[Int]
  )(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    if (!spark.catalog.tableExists(resultsTable))
      results.writeTo(resultsTable).partitionedBy(col("commit_group")).create()
    else results.writeTo(resultsTable).overwritePartitions()
    val lin = lineageRows.toDS().coalesce(1)
    if (!spark.catalog.tableExists(lineageTable)) lin.writeTo(lineageTable).create()
    else lin.writeTo(lineageTable).append()
  }
}
