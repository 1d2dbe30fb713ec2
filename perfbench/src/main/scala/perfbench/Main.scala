package perfbench

import graft.SparkEntry
import graft.corpus.{CorpusGen, EdgeDeriver}
import graft.engine.{Checkpointer, IterationMetric}
import graft.graph.Edges
import graft.kernels.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

/** Closed-loop, one-client harness over the engine's public entry points.
  *
  * One JVM runs one workload on one seed: it sets up (session and inputs
  * three times, so set-up time is a median, then one warm-up), then runs
  * passes of the workload's fixed
  * operation list until the measuring window is spent. Every operation is
  * timed on its own, its output is dumped (untimed) for the checker, and
  * one JSON record per event goes to `events.jsonl`. The checks and the
  * summary statistics are computed by `run.py`.
  *
  * With `--trace 1` every operation runs twice, untraced and traced (see
  * `op`): the traced execution records spans and attaches the job-group
  * listener, the untraced one is the same-run baseline the tracing
  * overhead is measured against, and per-layer probes run once per pass.
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, out: String, data: String,
                        cores: Int, partitions: Int, localDir: String,
                        ckptRoot: String, costs: String)

  // ---- workload sizing (README.md "Sizing") ----
  /** per-group cap of the path co-occurrence derivation. */
  val Cap = 200
  val LpIters = 5
  /** supersteps run before the durable kernels are stopped and resumed. */
  val Pause = Map("pagerank" -> 3, "cc" -> 2, "lp" -> 2)
  val SetupRepeats = 3

  final case class Graph(can: DataFrame, sym: DataFrame, nCan: Long, nSym: Long)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("out"), m("data"),
      m("cores").toInt, m("partitions").toInt, m("local-dir"),
      m("ckpt-root"), m("costs"))
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    new Harness(c).run()
  }
}

final class Harness(c: Main.Conf) {
  import Main._

  private val events = new PrintWriter(new File(c.out, "events.jsonl"))
  private def emit(kind: String, fields: (String, Any)*): Unit = {
    events.println(Json(Map("kind" -> kind) ++ fields))
    events.flush()
  }

  private val tracer = new Tracer(false, s"${c.workload}-${c.seed}")
  private val counters = new GroupCounters
  private var spark: SparkSession = _
  private def sc = spark.sparkContext

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (now - t0) / 1e9

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName(s"perfbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", c.localDir)
      .config("spark.sql.warehouse.dir", new File(c.out, "warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- operations ----

  /** Current pass, and whether the running execution is traced. */
  private var pass = 0
  private var traced = false
  private var opIndex = 0

  private def group(call: String, name: String): Unit =
    sc.setJobGroup(s"p$pass/$call/$name", name, interruptOnCancel = false)

  /** Tracing on for `f`: spans recorded, job-group listener attached (and
    * drained before it is detached, so no event of `f` is lost). */
  private def tracing[A](on: Boolean)(f: => A): A = {
    traced = on
    tracer.enabled = on
    if (on) sc.addSparkListener(counters)
    try f
    finally {
      if (on) {
        counters.snapshot(sc)
        sc.removeSparkListener(counters)
      }
      traced = false
      tracer.enabled = false
    }
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threadBean = ManagementFactory.getThreadMXBean

  /** CPU time of the whole JVM so far (every thread, JIT compiler and GC
    * threads included), in ns. */
  private def processCpuNs(): Long = osBean.getProcessCpuTime

  /** CPU time so far of each live Java thread (the driver, Spark's task
    * threads; not the JIT compiler or GC threads), in ns. */
  private def threadCpuNs(): Map[Long, Long] =
    threadBean.getAllThreadIds.iterator
      .map(id => id -> threadBean.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** Java-thread CPU time since `before`; a thread started since then
    * counts from 0. */
  private def threadCpuSince(before: Map[Long, Long]): Double =
    threadCpuNs().iterator.map { case (id, ns) =>
      ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** Heap in use right after a full collection, in MiB. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** One timed operation. In a trace run it executes twice, untraced and
    * traced, the order alternating from op to op (U T, T U, ...) so that
    * warm-up favours neither (`once`: a single, traced execution);
    * `release` frees the first execution's
    * result. A throw is a failed execution (no time). `after` runs untimed
    * on success and returns the extra fields of the op's record (result
    * dumps for the checker, engine metrics). */
  private def op[A](name: String, call: String, layer: String,
                    once: Boolean = false)(body: => A)(
      after: A => Map[String, Any], release: A => Unit = (_: A) => ()): Option[A] = {
    val order =
      if (!c.trace) Seq(false)
      else if (once) Seq(true)
      else if (opIndex % 2 == 0) Seq(false, true)
      else Seq(true, false)
    opIndex += 1
    // the first execution's result is released before the second runs, so
    // the second neither reuses its cached blocks nor competes with them
    order.init.foreach(t =>
      tracing(t)(execute(name, call, layer)(body)(after)).foreach(release))
    tracing(order.last)(execute(name, call, layer)(body)(after))
  }

  private def execute[A](name: String, call: String, layer: String)(
      body: => A)(after: A => Map[String, Any]): Option[A] = {
    group(call, name)
    val t0 = now
    val p0 = processCpuNs()
    val j0 = threadCpuNs()
    val r = Try(tracer.span(name, layer)(body))
    val wall = secs(t0)
    val cpu = threadCpuSince(j0)
    val processCpu = (processCpuNs() - p0) / 1e9
    group("dump", name)
    val extra = r.flatMap(a => Try(after(a)))
    sc.clearJobGroup()
    val heap = heapAfterGcMb()
    val err = extra match {
      case Failure(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case _ => None
    }
    emit("op", Seq[(String, Any)]("pass" -> pass, "traced" -> traced,
      "name" -> name, "call" -> call, "layer" -> layer,
      "s" -> (if (err.isEmpty) wall else Double.NaN),
      "cpu_s" -> (if (err.isEmpty) cpu else Double.NaN),
      "process_cpu_s" -> (if (err.isEmpty) processCpu else Double.NaN),
      "ok" -> err.isEmpty, "error" -> err, "heap_mb" -> heap) ++
      extra.getOrElse(Map.empty): _*)
    r.toOption.filter(_ => err.isEmpty)
  }

  /** Untimed probe of a trace run: per-layer numbers only. */
  private def probe(name: String, layer: String)(body: => Map[String, Any]): Unit =
    if (c.trace) tracing(on = true) {
      group("probe", name)
      val r = Try(tracer.span(name, layer)(body))
      sc.clearJobGroup()
      emit("probe", Seq[(String, Any)]("pass" -> pass, "name" -> name,
        "ok" -> r.isSuccess,
        "error" -> r.failed.toOption.map(_.toString)) ++
        r.getOrElse(Map.empty): _*)
    }

  private def timeNoop(df: => DataFrame): Double = {
    val t0 = now
    df.write.format("noop").mode("overwrite").save()
    secs(t0)
  }

  /** Writes an op's result for the checker, under a directory of its own
    * per pass and execution (u/t). */
  private def dump(df: DataFrame, name: String): String = {
    val p = new File(c.out,
      s"dump/p$pass-${if (traced) "t" else "u"}/$name").toString
    df.write.mode("overwrite").parquet(p)
    p
  }

  private def steps(ms: Seq[IterationMetric]): Map[String, Any] = Map(
    "step_s" -> ms.map(_.wallMs / 1e3),
    "step_rows" -> ms.map(_.rows),
    "step_delta" -> ms.map(_.delta),
    "step_shuffle_read" -> ms.map(_.shuffleReadBytes),
    "step_shuffle_write" -> ms.map(_.shuffleWriteBytes))

  // ---- inputs ----

  private def corpusPath: String = new File(c.out, "input/corpus").toString

  private def writeCorpus(): Unit =
    CorpusGen.corpus(spark, CorpusGen.Small, c.seed)
      .write.mode("overwrite").parquet(corpusPath)

  // ---- graph workloads ----

  /** derive: corpus parquet → persisted, counted canonical + symmetric edges. */
  private def derive(): Option[Graph] = {
    val corpus = spark.read.parquet(corpusPath)
    op("derive", "derive", "corpus") {
      val can = tracer.span("pathEdges", "corpus") {
        val e = EdgeDeriver.pathEdges(corpus, 1L, Cap)
          .select(col("src"), col("dst")).persist()
        e.count(); e
      }
      val (sym, nSym) = tracer.span("symmetrize", "graph") {
        val s = Edges.symmetrize(can).persist()
        (s, s.count())
      }
      Graph(can, sym, can.count(), nSym)
    }(gr => Map("edges" -> gr.nCan, "directed_edges" -> gr.nSym,
      "edges_dump" -> dump(gr.can, "edges"), "corpus" -> corpusPath,
      "cap" -> Cap), release).map { gr =>
      probe("graph_shapes", "graph") {
        Map("symmetrize_rows" -> gr.nSym,
          "orient_s" -> tracer.span("orientByDegree", "graph")(
            timeNoop(Edges.orientByDegree(gr.can))),
          "adjacency_s" -> tracer.span("adjacency", "graph")(
            timeNoop(Edges.adjacency(gr.sym))))
      }
      gr
    }
  }

  private def release(gr: Graph): Unit = {
    gr.sym.unpersist(); gr.can.unpersist()
  }

  /** Jobs of a kernel's pre-loop alone (maxIter 0), for jobs/superstep. */
  private def preloopJobs(k: String)(run: => Any): Unit =
    probe(s"$k.preloop", "kernels") {
      val grp = s"p$pass/pre/$k"
      sc.setJobGroup(grp, grp, interruptOnCancel = false)
      run
      Map("kernel" -> k, "jobs" -> counters.jobs(sc, grp))
    }

  private def pagerank(gr: Graph, maxIter: Int = 100,
                       ckpt: Option[Checkpointer] = None,
                       resume: Boolean = false): PageRank.Result =
    PageRank.run(spark, gr.sym, tol = 1e-6, maxIter = maxIter,
      symmetric = true, ckpt = ckpt, resume = resume)

  /** The straight (ephemeral) runs the resumed ones are compared with;
    * trace run only, one traced execution each. */
  private def straightKernels(gr: Graph): Unit = {
    op("pagerank", "pagerank", "kernels", once = true)(pagerank(gr)) { r =>
      Map("iterations" -> r.iterations, "converged" -> r.converged,
        "result" -> dump(r.ranks, "pagerank")) ++ steps(r.metrics)
    }
    preloopJobs("pagerank")(pagerank(gr, maxIter = 0))
    op("cc", "cc", "kernels", once = true)(ConnectedComponents.run(spark, gr.sym)) { r =>
      Map("iterations" -> r.iterations, "converged" -> r.converged,
        "result" -> dump(r.components, "cc")) ++ steps(r.metrics)
    }
    preloopJobs("cc")(ConnectedComponents.run(spark, gr.sym, maxIter = 0))
    op("lp", "lp", "kernels", once = true)(LabelPropagation.run(spark, gr.sym, LpIters)) { r =>
      Map("iterations" -> r.iterations, "converged" -> r.converged,
        "result" -> dump(r.labels, "lp")) ++ steps(r.metrics)
    }
    preloopJobs("lp")(LabelPropagation.run(spark, gr.sym, 0))
  }

  private def triangles(gr: Graph): Unit = {
    op("tc", "tc", "kernels")(TriangleCount.total(gr.can).head().getLong(0)) {
      t => Map("triangles" -> t)
    }
  }

  private def dirStats(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum,
        files.count(_.getFileName.toString.startsWith("part-")).toLong)
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** A durable kernel stopped after `Pause(k)` supersteps, then resumed
    * from a new Checkpointer handle to its fixpoint. */
  private def durable[R](k: String, result: R => DataFrame,
                         metrics: R => Seq[IterationMetric],
                         iterations: R => Int, converged: R => Boolean)(
      run: (Int, Option[Checkpointer], Boolean) => R): Unit = {
    val runId = s"$k-p$pass"
    val dir = Paths.get(c.ckptRoot, runId)
    var pauseS, resumeS = 0.0
    var paused: Seq[IterationMetric] = Nil
    op(s"${k}_durable", k, "kernels", once = true) {
      deleteTree(dir) // a stale run would be resumed instead of started
      val t0 = now
      paused = metrics(run(Pause(k), Some(new Checkpointer(c.ckptRoot, runId)), false))
      pauseS = secs(t0)
      group("resume", s"${k}_resume")
      val t1 = now
      val r = tracer.span(s"${k}_resume", "kernels") {
        run(1000, Some(new Checkpointer(c.ckptRoot, runId)), true)
      }
      resumeS = secs(t1)
      r
    } { r =>
      val (bytes, parts) = dirStats(dir)
      val ckRead = {
        val t0 = now
        val n = tracer.span("Checkpointer.latest", "engine") {
          new Checkpointer(c.ckptRoot, runId).latest(spark).map(_._2.count())
        }
        (secs(t0), n.getOrElse(-1L))
      }
      val out = dump(result(r), s"${k}_durable")
      deleteTree(dir)
      Map("iterations" -> iterations(r), "converged" -> converged(r),
        "result" -> out, "pause_s" -> pauseS, "resume_s" -> resumeS,
        "paused_step_s" -> paused.map(_.wallMs / 1e3),
        "ckpt_bytes" -> bytes, "ckpt_parts" -> parts,
        "resume_read_s" -> ckRead._1, "resume_read_rows" -> ckRead._2) ++
        steps(metrics(r))
    }
  }

  private def interactivePass(): Unit = {
    derive().foreach { gr =>
      // the straight runs the resumed ones are compared with (and the
      // per-superstep engine numbers) belong to the trace run; the
      // measured runs check each resumed result against the exact oracle
      if (c.trace) straightKernels(gr)
      durable[PageRank.Result]("pagerank", _.ranks, _.metrics, _.iterations,
        _.converged) { (it, ck, res) =>
        pagerank(gr, maxIter = it, ckpt = ck, resume = res)
      }
      durable[ConnectedComponents.Result]("cc", _.components, _.metrics,
        _.iterations, _.converged) { (it, ck, res) =>
        ConnectedComponents.run(spark, gr.sym, maxIter = it, ckpt = ck, resume = res)
      }
      durable[LabelPropagation.Result]("lp", _.labels, _.metrics,
        _.iterations, _.converged) { (it, ck, res) =>
        LabelPropagation.run(spark, gr.sym, math.min(it, LpIters), ckpt = ck,
          resume = res)
      }
      triangles(gr)
      release(gr)
    }
  }

  // ---- query workload ----

  /** The query sample, in stratum order, and the order it runs in
    * (README.md "query-sample"). */
  private lazy val suite: Seq[String] =
    (SparkEntry.queries.keySet -- SparkEntry.benchGated).toSeq.sorted
  private lazy val sample: Seq[String] =
    if (c.workload == "query-sweep") suite
    else QuerySample.draw(suite, QuerySample.loadCosts(c.costs),
      QuerySample.DrawSeed)
  private lazy val runOrder: Seq[String] =
    if (c.workload == "query-sweep") suite
    else QuerySample.order(sample, c.seed)

  private def queryPass(): Unit =
    runOrder.foreach { name =>
      op(name, "query", "query") {
        val df = SparkEntry.queries(name)(spark, c.data)
        (df.schema, df.collect())
      } { case (schema, rows) =>
        val p = dump(spark.createDataFrame(rows.toSeq.asJava, schema)
          .coalesce(1), name)
        Map("result" -> p, "rows" -> rows.length)
      }
    }

  // ---- set-up and the measuring loop ----

  /** The repeatable part of set-up: a new session and the run's inputs. */
  private def setupOnce(): Unit = {
    spark = session()
    if (c.workload == "interactive-resume") writeCorpus()
  }

  /** Session warm-up, once per run. */
  private def warmUp(): Unit =
    if (c.workload == "interactive-resume") warmGraph() else warmQueries()

  /** Warm-up: one PageRank and one CC superstep on a tiny graph (JIT,
    * codegen caches).
    * A long-lived session pays it once before its first request, so it
    * is set-up time, not measured time. */
  private def warmGraph(): Unit = {
    val sym = Edges.symmetrize(EdgeDeriver.pathEdges(
      CorpusGen.corpus(spark, CorpusGen.Tiny, c.seed), 1L, Cap)
      .select(col("src"), col("dst"))).persist()
    PageRank.run(spark, sym, maxIter = 1, symmetric = true).ranks.count()
    ConnectedComponents.run(spark, sym, maxIter = 1).components.count()
    sym.unpersist()
  }

  /** Session warm-up: one scan of the largest table (parquet reader and
    * scan codegen). */
  private def warmQueries(): Unit =
    spark.read.parquet(s"${c.data}/lineitem.parquet")
      .write.format("noop").mode("overwrite").save()

  def run(): Unit = {
    try {
      // a trace run reports no set-up time: one set-up is enough
      for (i <- 0 until (if (c.trace) 1 else SetupRepeats)) {
        if (spark != null) spark.stop()
        val t0 = now
        setupOnce()
        emit("setup", "i" -> i, "s" -> secs(t0))
      }
      val tw = now
      warmUp()
      emit("warmup", "s" -> secs(tw))
      if (c.workload.startsWith("query"))
        emit("sample", "queries" -> sample, "order" -> runOrder,
          "suite" -> suite, "oracle" ->
          sample.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
      val start = now
      var last = 0.0
      // another pass only if it is expected to end inside the window
      def more: Boolean = pass == 0 ||
        (c.workload != "query-sweep" && secs(start) + last <= c.seconds)
      while (more) {
        val t0 = now
        if (c.workload == "interactive-resume") interactivePass() else queryPass()
        last = secs(t0)
        emit("pass", "pass" -> pass, "wall_s" -> last)
        pass += 1
      }
      if (c.trace) {
        emit("groups", "counters" -> counters.snapshot(sc))
        val w = new PrintWriter(new File(c.out, "spans.jsonl"))
        try tracer.lines.foreach(w.println) finally w.close()
      }
      emit("end")
    } finally {
      events.close()
      if (spark != null) spark.stop()
    }
  }
}
