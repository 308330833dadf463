package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine has one code path per operation: no package under it reads
  * an environment variable or a JVM system property to pick a branch.
  * The diagnostic mains in `tools/` take their inputs as arguments, so
  * they are scanned too and cannot grow knobs. Only the benchmark and
  * verification mains (`Bench`, `BenchExtra`, `Verify`) sit outside these
  * packages and may read the environment. */
class NoEnvKnobSpec extends AnyFunSuite {
  private val packages = Seq("engine", "lake", "streaming", "flatten",
    "schema", "catalog", "cdc", "ops", "functions", "tools")
  private val knobRead = """sys\.env|sys\.props|System\.getenv|System\.getProperty""".r

  test("engine packages read no env variable or system property") {
    val base = Paths.get("src", "main", "scala", "graft")
    val sources: Seq[Path] = packages.flatMap { p =>
      val dir = base.resolve(p)
      assert(Files.isDirectory(dir), s"missing package dir $dir")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.size >= packages.size)
    val hits = for {
      f <- sources
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if knobRead.findFirstIn(line).isDefined
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("env/property reads:\n", "\n", ""))
  }
}
