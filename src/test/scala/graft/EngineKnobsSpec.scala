package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Engine code takes its settings from its callers only: a process-wide
  * environment variable or system property read inside the engine could
  * re-plan every wave without showing up in any result. Bench and CLI
  * mains (the `graft` package root) stay free to read the environment. */
class EngineKnobsSpec extends AnyFunSuite {

  private val enginePackages = Seq("plans", "operators", "functions", "sources", "streaming")
  private val knobRead = """sys\.env|System\.getenv|sys\.props""".r

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("engine packages read no environment variables or system properties") {
    val reads = enginePackages.flatMap { pkg =>
      val dir = Paths.get("src/main/scala/graft", pkg)
      val files = scalaFiles(dir)
      assert(files.nonEmpty, s"no sources under $dir (tests must run from the repo root)")
      for {
        f <- files
        (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
        if knobRead.findFirstIn(line).isDefined
      } yield s"$f:${i + 1}: ${line.trim}"
    }
    assert(reads.isEmpty, reads.mkString("engine reads process-wide settings:\n", "\n", ""))
  }
}
