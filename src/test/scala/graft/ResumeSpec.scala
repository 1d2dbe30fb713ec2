package graft

import graft.engine.Checkpointer
import graft.graph.Edges
import graft.kernels.{ConnectedComponents, LabelPropagation, PageRank}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** North-rule resume requirement: kill after iteration k, resume from the
  * checkpoint, final state equals the uninterrupted run (bitwise for CC/LP,
  * allclose for PR) — the Spark realization of the reference's
  * pause/resume protocol (`core/master.tpp:30-110`).
  */
class ResumeSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-ckpt").toString

  test("CC: interrupted-then-resumed equals straight run (exact)") {
    val sym = Edges.symmetrize(edgeDF(Oracles.sample15))
    val straight = ConnectedComponents.run(spark, sym)
      .components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val root = tmp()
    // "crash" after 2 supersteps
    val partial = ConnectedComponents.run(spark, sym, maxIter = 2,
      ckpt = Some(new Checkpointer(root, "cc-run")))
    assert(!partial.converged)
    // new driver resumes from the manifest's latest committed iteration
    val resumed = ConnectedComponents.run(spark, sym,
      ckpt = Some(new Checkpointer(root, "cc-run")), resume = true)
    assert(resumed.converged)
    val got = resumed.components.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === straight)
    // resumption actually skipped completed supersteps
    assert(resumed.metrics.head.iter === 3)
  }

  test("LP: resume at iteration 2 of 5 is bitwise-equal to straight run") {
    val sym = Edges.symmetrize(edgeDF(Oracles.powerLaw(50, seed = 11)))
    val straight = LabelPropagation.run(spark, sym, 5)
      .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val root = tmp()
    LabelPropagation.run(spark, sym, 2,
      ckpt = Some(new Checkpointer(root, "lp-run")))
    val resumed = LabelPropagation.run(spark, sym, 5,
      ckpt = Some(new Checkpointer(root, "lp-run")), resume = true)
    val got = resumed.labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === straight)
  }

  test("PR: resume allclose 1e-12 to straight run") {
    val sym = Edges.symmetrize(edgeDF(Oracles.sample15))
    val straight = PageRank.run(spark, sym, fixedIter = Some(8))
      .ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val root = tmp()
    PageRank.run(spark, sym, fixedIter = Some(3),
      ckpt = Some(new Checkpointer(root, "pr-run")))
    val resumed = PageRank.run(spark, sym, fixedIter = Some(8),
      ckpt = Some(new Checkpointer(root, "pr-run")), resume = true)
    resumed.ranks.collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - straight(r.getLong(0))) < 1e-12)
    }
  }

  test("checkpointer records per-iteration manifest with metrics meta") {
    val root = tmp()
    val ck = new Checkpointer(root, "meta-run")
    val sym = Edges.symmetrize(edgeDF(golden))
    val res = ConnectedComponents.run(spark, sym, ckpt = Some(ck))
    assert(res.converged)
    val manifest = java.nio.file.Paths.get(root, "meta-run", "_manifest.jsonl")
    assert(Files.exists(manifest))
    val lines = Files.readAllLines(manifest)
    assert(lines.size() === res.iterations + 1) // init + each superstep
    // per-partition lineage: every committed state records its part count
    lines.forEach(l => assert(l.contains("\"partitions\":"), l))
    // metrics observed per superstep: rows, wall, shuffle bytes
    assert(res.metrics.nonEmpty)
    assert(res.metrics.forall(_.rows > 0))
    assert(res.metrics.forall(_.wallMs >= 0))
    // ...and recorded DURABLY next to the checkpoints, one line per
    // executed superstep, iters parseable and in commit order
    val recorded = ck.recordedMetrics()
    assert(recorded.size === res.iterations)
    val iters = recorded.map(l =>
      """"iter":(\d+)""".r.findFirstMatchIn(l).get.group(1).toInt)
    assert(iters === (1 to res.iterations))
  }

  test("checkpoint logs stay valid JSON when the run id holds a quote") {
    val sym = Edges.symmetrize(edgeDF(Oracles.sample15))
    val straight = ConnectedComponents.run(spark, sym)
      .components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val root = tmp()
    val runId = "cc \"quoted\" run"
    ConnectedComponents.run(spark, sym, maxIter = 2,
      ckpt = Some(new Checkpointer(root, runId)))
    val resumed = ConnectedComponents.run(spark, sym,
      ckpt = Some(new Checkpointer(root, runId)), resume = true)
    assert(resumed.components.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === straight)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val dir = java.nio.file.Paths.get(root, runId)
    def parsed(file: String) = {
      val lines = Files.readAllLines(dir.resolve(file))
      assert(!lines.isEmpty, file)
      lines.asScala.map(mapper.readTree(_))
    }
    parsed("_manifest.jsonl").foreach { j =>
      assert(j.get("path").asText().startsWith(dir.toString))
    }
    parsed("_metrics.jsonl").foreach { j =>
      assert(j.get("run").asText() === runId)
      assert(j.get("algo").asText() === "cc")
    }
  }

  private val golden = Seq((1L, 2L), (2L, 3L), (4L, 5L))
}
