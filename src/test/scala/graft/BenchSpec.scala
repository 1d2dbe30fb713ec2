package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Golden test of `graft.Bench`'s contract output: for fixed
  * records, both stdout lines and the `target/bench_full.json` body must
  * match `bench_golden.txt` byte for byte — every key, its order and its
  * number format. The golden file holds three lines per record (name,
  * full line, compact line). Needs no SparkSession. */
class BenchSpec extends AnyFunSuite {
  import Bench.{Leg, Record}

  private val golden: Map[String, (String, String)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/bench_golden.txt"), "UTF-8")
    try src.getLines().grouped(3)
      .map { case Seq(name, full, compact) => name -> (full, compact) }.toMap
    finally src.close()
  }

  private val big = 50512345L
  private val tri = 123456789L

  /** (name, record, elapsed seconds at rendering) */
  private val records: Seq[(String, Record, Double)] = Seq(
    // a kill before the first section: only the run's setup is known
    ("empty", Record("/root/testdata/sf0.1", 2700, 32), 0.4),
    ("leg_median", Record("/root/testdata/sf0.1", 2700, 32,
      legs = Map(2 -> Leg(big, Vector(19.314, 17.125, 18.0)),
        8 -> Leg(big, Vector(5.031, 5.115, 5.205)),
        32 -> Leg(big, Vector(3.104, 2.975))),
      legsSkipped = 1,
      tcRuns = Vector((31.234, tri), (30.505, tri), (33.0, tri)),
      tcControls = Vector(0.441, 0.525, 0.47), tcWarmSec = 25.678,
      ctlFloor = 0.45, m = big, prSec = 2.971, prControl = 0.462,
      prWall = 45.6789, prStepsSec = 33.375, prPreloopSec = 12.3039,
      ccSec = 106.215, ccIters = 7, lpSec = 207.555, convM = 477123L,
      convIters = 57, convConverged = true, convSec = 11.875,
      convTp = (477123.0 * 57 / 11.875).toLong,
      queries = Vector("q01_cooc" -> 1.2345, "q02_degree" -> 0.0004,
        "q10_cc" -> 123.4567),
      queriesGated = 3), 2412.51),
    ("leg_single", Record("/root/testdata/sf0.01", 1800, 32,
      legs = Map(2 -> Leg(1000L, Vector(20.0, 19.5)),
        8 -> Leg(1000L, Vector(5.5)), 32 -> Leg(1000L, Vector(2.5))),
      legsSkipped = 3, tcRuns = Vector((40.125, 77L)),
      tcControls = Vector(0.995), tcWarmSec = 20.0, ctlFloor = 0.45,
      m = 1000L, prSec = 3.0, prControl = 1.1, prRedrawSec = 4.0,
      prRedrawControl = 0.96, prWall = 40.0, prStepsSec = 31.0,
      prPreloopSec = 9.0, ccSec = 20.0, ccIters = 5, convM = 500L,
      convIters = 200, convSec = 90.0,
      convTp = (500.0 * 200 / 90.0).toLong,
      queries = Vector("q01_cooc" -> 2.5, "q05_rank" -> 0.0005),
      queriesSkipped = 5, queriesGated = 3), 1500.0),
    ("insession_steady", Record("/root/testdata/sf0.1", 2700, 32,
      legs = Map(2 -> Leg(big, Vector(20.0, 21.0)),
        8 -> Leg(big, Vector(6.0, 5.0)), 32 -> Leg(big, Vector(7.53))),
      legsSkipped = 2, tcRuns = Vector((35.0, tri), (36.0, tri)),
      tcControls = Vector(1.2, 1.3), tcWarmSec = 28.5, ctlFloor = 0.45,
      m = big, prSec = 2.97, prControl = 1.2, prRedrawSec = 2.5,
      prRedrawControl = 0.5, prWall = 47.25, prStepsSec = 35.5,
      prPreloopSec = 11.75, ccSec = 110.0, ccIters = 7, lpSec = 215.125,
      convM = 477123L, convIters = 57, convConverged = true, convSec = 12.0,
      convTp = (477123.0 * 57 / 12.0).toLong,
      queries = Vector("q01_cooc" -> 1.0, "q02_degree" -> 0.25),
      queriesGated = 3), 2699.6),
    // killed after the first two rounds of the headline pair
    ("none", Record("/root/testdata/sf0.1", 2700, 32,
      legs = Map(2 -> Leg(big, Vector(19.0, 18.5)),
        8 -> Leg(big, Vector(5.0, 5.25)))), 300.25),
    // a 4-core run: the headline pair is (1, 4), and the saturated pair
    // (4N / 4, 4N) is the same one, so it is not drawn twice
    ("failed_query", Record("/root/testdata/sf0.001", 2700, 4,
      legs = Map(1 -> Leg(98765L, Vector(0.812, 0.9, 0.85)),
        4 -> Leg(98765L, Vector(0.33, 0.31, 0.35))),
      tcRuns = Vector((1.5, 321L), (1.25, 321L), (1.375, 321L)),
      tcControls = Vector(0.3, 0.31, 0.29), tcWarmSec = 0.75,
      ctlFloor = 0.45, m = 98765L, prSec = 0.4, prControl = 0.31,
      prWall = 6.5, prStepsSec = 4.125, prPreloopSec = 2.375, ccSec = 3.5,
      ccIters = 4, lpSec = 2.0, convM = 477123L, convIters = 57,
      convConverged = true, convSec = 14.5,
      convTp = (477123.0 * 57 / 14.5).toLong,
      queries = Vector("q01_cooc" -> 0.125, "q03_path" -> 3.0),
      queriesFailed = Vector("q02_throws", "q04_oom"), queriesGated = 3),
      95.5))

  test("golden records cover every value_source") {
    assert(records.map(_._1).toSet === golden.keySet)
    assert(records.map(_._2.valueSource).toSet ===
      Set("leg_median", "leg_single", "insession_steady", "none"))
  }

  records.foreach { case (name, r, elapsed) =>
    test(s"bench lines and bench_full.json are byte-identical to golden: $name") {
      val (full, compact) = golden(name)
      assert(r.json(elapsed, compact = false) === full)
      assert(r.json(elapsed, compact = true) === compact)
      val dir = Files.createTempDirectory("bench-golden")
      val p = dir.resolve("target/bench_full.json")
      Bench.writeFull(r.json(elapsed, compact = false), p)
      assert(Files.readString(p) === full + "\n")
    }
  }
}
