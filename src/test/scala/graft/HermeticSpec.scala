package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The test suite reads no input outside the repository and the shared
  * test data tables (TESTDATA.md): fixtures are written in-test or come
  * from temp dirs. */
class HermeticSpec extends AnyFunSuite {

  test("no test source names an absolute path outside the test data root") {
    val allowed = "/root/testdata/"
    val testRoot = Paths.get("src/test")
    assert(Files.isDirectory(testRoot), "run from the project root")
    // a slash opening a path (not a division or a relative suffix) whose
    // first segment is an existing top-level directory of this filesystem
    val absPath = """(?<![\w.)\]}>/])/([A-Za-z0-9_.-]+)/[^\s"'`)]*""".r
    val offenders = Files.walk(testRoot).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (l, i) =>
          absPath.findAllMatchIn(l)
            .filter(m => Files.isDirectory(Paths.get("/" + m.group(1))))
            .map(_.matched).filterNot(_.startsWith(allowed))
            .map(m => s"$p:${i + 1}: $m")
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
