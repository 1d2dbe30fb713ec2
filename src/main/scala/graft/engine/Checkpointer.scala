package graft.engine

import graft.Json
import graft.catalog.{CatalogAdapter, LocalCatalog}
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Iteration-state checkpoints with atomic commit and resume.
  *
  * Mirrors the reference's pause/resume protocol (`core/master.tpp:30-110`:
  * a resume file is detected and the computation continues from durable
  * state; commit-by-rename at `core/master.tpp:104-109`) at the table layer:
  * every superstep commits its state as a snapshot of catalog table
  * `runId` under `root`, its iteration in the snapshot summary. The
  * catalog renames the snapshot into place and appends its log line LAST,
  * so a crash between the two leaves the previous commit as the resume
  * point; a resume continues the most recent commit.
  *
  * Checkpointing also truncates plan lineage: each iteration re-reads its
  * state from disk, so the logical plan stays O(1) across thousands of
  * supersteps (the Spark analog of the reference's disk-backed task queue,
  * `core/priority_queue.tpp`).
  */
final class Checkpointer(val root: String, val runId: String) {
  private val catalog: CatalogAdapter = new LocalCatalog(root)
  private val metricsLog = Paths.get(root, runId, "_metrics.jsonl")

  /** Commit one iteration's state; returns the re-read (lineage-truncated)
    * DataFrame, read with its recorded schema (no job infers it). */
  def commit(spark: SparkSession, state: DataFrame, iter: Int): DataFrame =
    catalog.readSnapshot(spark, runId,
      catalog.createOrReplace(runId, state, Map("iter" -> iter.toString)))

  /** Durably record one iteration's metrics next to its checkpoint
    * (`_metrics.jsonl`) — the north rule's "iteration/shuffle metrics
    * recorded" at the table layer, not just in the driver's memory. */
  def recordMetric(m: IterationMetric): Unit = {
    val line = s"""{"algo":${Json.quote(m.algo)},""" +
      s""""run":${Json.quote(m.runId)},"iter":${m.iter},""" +
      s""""rows":${m.rows},"delta":${m.delta},"wall_ms":${m.wallMs},""" +
      s""""shuffle_read":${m.shuffleReadBytes},"shuffle_write":${m.shuffleWriteBytes}}"""
    Files.write(metricsLog, java.util.List.of(line),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Recorded metrics lines (raw JSON), commit order. */
  def recordedMetrics(): Seq[String] =
    if (!Files.exists(metricsLog)) Seq.empty
    else Files.readAllLines(metricsLog).asScala.toSeq

  /** The most recent commit and its iteration, if any — the resume
    * point. */
  def latest(spark: SparkSession): Option[(Int, DataFrame)] =
    catalog.snapshots(runId).maxOption.map { s =>
      (catalog.summary(runId, s)("iter").toInt,
        catalog.readSnapshot(spark, runId, s))
    }
}
