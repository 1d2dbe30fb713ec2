package graft.engine

import graft.Json
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Iteration-state checkpoints with atomic commit and resume.
  *
  * Mirrors the reference's pause/resume protocol (`core/master.tpp:30-110`:
  * a resume file is detected and the computation continues from durable
  * state; commit-by-rename at `core/master.tpp:104-109`) at the table layer:
  * every superstep writes `state_<iter>` as parquet into a temp dir, then
  * atomically renames it into place and appends a manifest line LAST — a
  * crash between the two leaves the previous iteration as the resume point.
  * At production scale the same API maps onto Iceberg snapshot commits
  * (SURVEY §7.4.2); locally it is parquet + `_manifest.json`.
  *
  * Checkpointing also truncates plan lineage: each iteration re-reads its
  * state from disk, so the logical plan stays O(1) across thousands of
  * supersteps (the Spark analog of the reference's disk-backed task queue,
  * `core/priority_queue.tpp`).
  */
final class Checkpointer(val root: String, val runId: String) {
  private def runDir: Path = Paths.get(root, runId)
  private def manifest: Path = runDir.resolve("_manifest.jsonl")
  Files.createDirectories(runDir)

  private def stateDir(iter: Int): Path = runDir.resolve(f"state_$iter%05d")

  /** Commit one iteration's state; returns the re-read (lineage-truncated)
    * DataFrame. */
  def commit(spark: SparkSession, state: DataFrame, iter: Int): DataFrame = {
    val tmp = runDir.resolve(f"_tmp_state_$iter%05d")
    deleteRecursively(tmp)
    state.write.mode("overwrite").parquet(tmp.toString)
    val dst = stateDir(iter)
    deleteRecursively(dst)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    // per-partition lineage: the committed part files ARE the partitions;
    // record their count so the manifest describes the physical layout
    // (stream closed explicitly — it holds an open directory handle)
    val listing = Files.list(dst)
    val nParts =
      try listing.iterator().asScala
        .count(_.getFileName.toString.startsWith("part-"))
      finally listing.close()
    val line = s"""{"iter":$iter,"path":${Json.quote(dst.toString)},""" +
      s""""partitions":$nParts}"""
    Files.write(manifest,
      java.util.List.of(line),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    // the schema is the written one: passing it skips the Spark job that
    // infers it from a part-file footer on every commit
    spark.read.schema(state.schema).parquet(dst.toString)
  }

  /** Durably record one iteration's metrics next to its checkpoint
    * (`_metrics.jsonl`) — the north rule's "iteration/shuffle metrics
    * recorded" at the table layer, not just in the driver's memory. */
  def recordMetric(m: IterationMetric): Unit = {
    val line = s"""{"algo":${Json.quote(m.algo)},""" +
      s""""run":${Json.quote(m.runId)},"iter":${m.iter},""" +
      s""""rows":${m.rows},"delta":${m.delta},"wall_ms":${m.wallMs},""" +
      s""""shuffle_read":${m.shuffleReadBytes},"shuffle_write":${m.shuffleWriteBytes}}"""
    Files.write(runDir.resolve("_metrics.jsonl"),
      java.util.List.of(line),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** Recorded metrics lines (raw JSON), commit order. */
  def recordedMetrics(): Seq[String] = {
    val p = runDir.resolve("_metrics.jsonl")
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.toSeq
  }

  /** Latest committed iteration, if any — the resume point. */
  def latest(spark: SparkSession): Option[(Int, DataFrame)] =
    if (!Files.exists(manifest)) None
    else {
      val iters = Files.readAllLines(manifest).asScala
        .flatMap { l =>
          """"iter":(\d+)""".r.findFirstMatchIn(l).map(_.group(1).toInt)
        }
        .filter(i => Files.exists(stateDir(i)))
      if (iters.isEmpty) None
      else {
        val i = iters.max
        Some((i, spark.read.parquet(stateDir(i).toString)))
      }
    }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
}
