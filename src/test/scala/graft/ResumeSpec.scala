package graft

import graft.engine.{Checkpointer, IterationMetric}
import graft.graph.Edges
import graft.kernels.{ConnectedComponents, LabelPropagation, PageRank}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** North-rule resume requirement: kill after iteration k, resume from the
  * checkpoint, final state equals the uninterrupted run (bitwise for CC/LP,
  * allclose for PR) — the Spark realization of the reference's
  * pause/resume protocol (`core/master.tpp:30-110`).
  */
class ResumeSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-ckpt").toString

  private def components(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The run's snapshot-log lines, parsed, commit order. */
  private def snapshotLog(root: String, runId: String) =
    Files.readAllLines(Paths.get(root, runId, "_snapshots.jsonl")).asScala
      .map(Json.mapper.readTree(_)).toSeq

  test("CC: interrupted-then-resumed equals straight run (exact)") {
    val sym = Edges.symmetrize(edgeDF(Oracles.sample15))
    val straight = ConnectedComponents.run(spark, sym)
      .components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val root = tmp()
    // "crash" after 2 supersteps
    val partial = ConnectedComponents.run(spark, sym, maxIter = 2,
      ckpt = Some(new Checkpointer(root, "cc-run")))
    assert(!partial.converged)
    // new driver resumes from the most recent committed snapshot
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

  test("PR: resumed equals straight bit for bit (directed, dangling, weighted)") {
    import spark.implicits._
    // the blocks fold in a fixed order, so a state re-read from its
    // checkpoint reproduces every later superstep exactly
    val es = Oracles.powerLaw(60, seed = 3).map { case (a, b) =>
      if ((a + b) % 3 == 0) (b, a, a % 5 + 1) else (a, b, b % 7 + 1) }
    val df = es.toDF("src", "dst", "w")
    def ranks(r: PageRank.Result) =
      r.ranks.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val straight = ranks(PageRank.run(spark, df, fixedIter = Some(8),
      weightCol = Some("w")))
    val root = tmp()
    PageRank.run(spark, df, fixedIter = Some(3), weightCol = Some("w"),
      ckpt = Some(new Checkpointer(root, "pr-bits")))
    val resumed = ranks(PageRank.run(spark, df, fixedIter = Some(8),
      weightCol = Some("w"), ckpt = Some(new Checkpointer(root, "pr-bits")),
      resume = true))
    assert(resumed === straight)
  }

  test("checkpointer records per-iteration manifest with metrics meta") {
    val sym = Edges.symmetrize(edgeDF(Oracles.sample15))
    // (supersteps, checkpointer, resume) => (result, metrics, iterations);
    // the budget is CC's maxIter, LP's iterations and PR's fixedIter
    type Run = (Int, Option[Checkpointer], Boolean) =>
      (Map[Long, Double], Seq[IterationMetric], Int)
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) ->
        r.get(1).asInstanceOf[Number].doubleValue).toMap
    val kernels: Seq[(String, Int, Run)] = Seq(
      ("cc", 200, (i, ck, res) => {
        val r = ConnectedComponents.run(spark, sym, maxIter = i, ckpt = ck,
          resume = res)
        (rows(r.components), r.metrics, r.iterations)
      }),
      ("lp", 5, (i, ck, res) => {
        val r = LabelPropagation.run(spark, sym, i, ckpt = ck, resume = res)
        (rows(r.labels), r.metrics, r.iterations)
      }),
      ("pagerank", 8, (i, ck, res) => {
        val r = PageRank.run(spark, sym, fixedIter = Some(i), ckpt = ck,
          resume = res)
        (rows(r.ranks), r.metrics, r.iterations)
      }))
    kernels.foreach { case (name, budget, run) =>
      val (straight, _, _) = run(budget, None, false)
      val root = tmp()
      // stopped after 2 supersteps, resumed from a new handle
      run(2, Some(new Checkpointer(root, name)), false)
      val ck = new Checkpointer(root, name)
      val (got, metrics, iterations) = run(budget, Some(ck), true)
      assert(got.keySet === straight.keySet, name)
      got.foreach { case (v, x) =>
        assert(math.abs(x - straight(v)) <= 1e-12, s"$name vid=$v")
      }
      // one snapshot per committed state (init + each superstep), its
      // iteration in the snapshot summary
      val log = snapshotLog(root, name)
      assert(log.map(_.get("summary").get("iter").asText.toInt) ===
        (0 to iterations), name)
      // per-partition lineage: every committed state records its part count
      log.foreach(j => assert(j.get("files").asInt >= 1, j.toString))
      // metrics observed per superstep: rows, wall, shuffle bytes
      assert(metrics.nonEmpty, name)
      assert(metrics.forall(m => m.rows > 0 && m.wallMs >= 0), name)
      // ...and recorded DURABLY next to the checkpoints, one line per
      // executed superstep (paused and resumed), in commit order
      val recorded = ck.recordedMetrics()
      assert(recorded.size === iterations, name)
      val iters = recorded.map(l =>
        """"iter":(\d+)""".r.findFirstMatchIn(l).get.group(1).toInt)
      assert(iters === (1 to iterations), name)
      recorded.foreach { l =>
        assert(""""rows":(\d+)""".r.findFirstMatchIn(l)
          .exists(_.group(1).toLong > 0), l)
      }
    }
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
    parsed("_snapshots.jsonl").foreach { j =>
      assert(j.get("files").asInt >= 1)
      assert(j.get("summary").has("iter"))
    }
    parsed("_metrics.jsonl").foreach { j =>
      assert(j.get("run").asText() === runId)
      assert(j.get("algo").asText() === "cc")
    }
  }

  test("resume continues the most recent commit, not the longest run") {
    val path = Edges.symmetrize(edgeDF((0L until 10L).map(i => (i, i + 1))))
    val sym = Edges.symmetrize(edgeDF(Oracles.sample15))
    val straight = components(ConnectedComponents.run(spark, sym).components)
    val root = tmp()
    // an earlier, longer run under the same id reaches its fixpoint...
    assert(ConnectedComponents.run(spark, path,
      ckpt = Some(new Checkpointer(root, "r"))).converged)
    // ...then a fresh run on another graph stops after 2 supersteps
    ConnectedComponents.run(spark, sym, maxIter = 2,
      ckpt = Some(new Checkpointer(root, "r")))
    val resumed = ConnectedComponents.run(spark, sym,
      ckpt = Some(new Checkpointer(root, "r")), resume = true)
    assert(resumed.metrics.head.iter === 3)
    assert(components(resumed.components) === straight)
  }

  test("the resume point is read without a Spark job") {
    val sym = Edges.symmetrize(edgeDF(Oracles.sample15))
    val root = tmp()
    ConnectedComponents.run(spark, sym, maxIter = 2,
      ckpt = Some(new Checkpointer(root, "z")))
    val (jobs, latest) = graft.tools.QProbe.countJobs(spark)(
      new Checkpointer(root, "z").latest(spark))
    assert(jobs === 0)
    assert(latest.map(_._1) === Some(2))
  }

  test("an orphan snapshot dir is neither resumed from nor in the way") {
    val sym = Edges.symmetrize(edgeDF(Oracles.sample15))
    val straight = components(ConnectedComponents.run(spark, sym).components)
    val root = tmp()
    ConnectedComponents.run(spark, sym, maxIter = 2,
      ckpt = Some(new Checkpointer(root, "o")))
    // the init state renamed into place as snapshot 4 by a commit whose
    // log line never landed
    val dir = Paths.get(root, "o")
    val orphan = dir.resolve("snap_000004")
    Files.createDirectory(orphan)
    Files.list(dir.resolve("snap_000001")).forEach(f =>
      Files.copy(f, orphan.resolve(f.getFileName)))
    val resumed = ConnectedComponents.run(spark, sym,
      ckpt = Some(new Checkpointer(root, "o")), resume = true)
    assert(resumed.metrics.head.iter === 3)
    assert(components(resumed.components) === straight)
    assert(snapshotLog(root, "o").map(_.get("snapshot").asLong) ===
      (1L to 3L + resumed.metrics.size))
  }
}
