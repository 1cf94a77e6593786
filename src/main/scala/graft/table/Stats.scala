package graft.table

import graft.pipeline.ExtractKernel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ops surface over the lineage/results tables — the relational
  * re-expression of the reference's control-plane endpoints:
  *  - task-status lookup (O4, app/main.py:474-574): there, a linear scan
  *    over every `celery-task-meta-*` key; here, a filter over one bucket.
  *    Buckets are keyed by task id, and a url gives its task id, so both
  *    [[taskLookup]] and [[lookupByUrl]] read only that bucket's file in
  *    each dir holding it ([[LineageTable.readBucket]]);
  *  - stats aggregation (O5, app/main.py:250-286): worker-counter sums;
  *    here, one hash aggregation over lineage (metadata-scale, never
  *    touching payloads).
  */
object Stats {

  /** O4: status row for one task id, read from its bucket alone; no row
    * when `taskId` is not a task id. */
  def taskLookup(table: LineageTable, spark: SparkSession, taskId: String): DataFrame =
    table.readBucket(spark, taskId)
      .where(col("task_id") === taskId)
      .select("task_id", "url", "status", "document_type", "page_count",
        "processing_time_ms", "error", "created_at", "completed_at")

  /** O4 by url: the row of the url's task id, read from its bucket alone. */
  def lookupByUrl(table: LineageTable, spark: SparkSession, url: String): DataFrame =
    table.readBucket(spark, ExtractKernel.taskIdFor(url))
      .where(col("url") === url)

  /** O5: StatsResponse-shaped aggregate (app/models.py:203-212) from
    * lineage rows only. */
  def statsResponse(table: LineageTable, spark: SparkSession): DataFrame =
    table.readLineage(spark).agg(
      sum(col("rows")).as("total_tasks"),
      lit(0L).as("pending_tasks"), // batch table: nothing pending post-commit
      sum(col("completed")).as("completed_tasks"),
      sum(col("failed")).as("failed_tasks"),
      round(sum(col("wall_ms")) / greatest(sum(col("rows")), lit(1L)), 2).as("avg_processing_time_ms"),
    )

  /** Per-status counts over results (the groupBy the reference's O(n)
    * key-scan could not do). */
  def statusCounts(table: LineageTable, spark: SparkSession): DataFrame =
    table.readVisible(spark).groupBy(col("status")).count().orderBy(col("status"))
}
