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

  // session conf writes: RuntimeConfig / SQLConf setters and unsetters
  private val confWrite = """\.conf\.(set|unset)\b|\bsetConf(String)?\(""".r

  private def sources(dirs: Seq[Path]): Seq[Path] = dirs.flatMap { dir =>
    assert(Files.isDirectory(dir), s"missing package dir $dir")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def hits(files: Seq[Path], pattern: scala.util.matching.Regex) =
    for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"$f:${n + 1}: ${line.trim}"

  private val base = Paths.get("src", "main", "scala", "graft")

  test("engine packages read no env variable or system property") {
    val files = sources(packages.map(base.resolve))
    assert(files.size >= packages.size)
    val found = hits(files, knobRead)
    assert(found.isEmpty, found.mkString("env/property reads:\n", "\n", ""))
  }

  /** Flipping a session flag (say, the V2 bucketing or co-partition
    * switches) would change every other query of the caller's session;
    * the engine's plans must hold at the session's own conf (ADVICE r4).
    * The Spark-package seam under src/main is scanned too. */
  test("engine packages never write session conf") {
    val files = sources(packages.map(base.resolve) :+
      Paths.get("src", "main", "scala", "org"))
    assert(files.size > packages.size)
    val found = hits(files, confWrite)
    assert(found.isEmpty, found.mkString("session conf writes:\n", "\n", ""))
  }
}
