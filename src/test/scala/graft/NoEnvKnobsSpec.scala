package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The engine's operators read no process environment: every declared
  * key runs one implementation, chosen in code, so its result and plan
  * cannot depend on the shell that launched it. Environment and system
  * properties belong to the command-line mains (`Bench`, `Verify`,
  * `ScaleSmoke`, the audits), which sit outside the scanned packages. */
class NoEnvKnobsSpec extends GraftSuite {

  private val scanned =
    Seq("operators", "sources", "streaming", "functions", "plans")
  private val knob = """sys\.env|System\.getenv|System\.getProperty""".r

  test("no environment or system-property reads in the engine packages") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val hits = for {
      pkg <- scanned
      file <- Files.walk(root.resolve(pkg)).iterator().asScala.toSeq.sorted
      if file.toString.endsWith(".scala")
      (line, n) <- Files.readAllLines(file).asScala.zipWithIndex
      if knob.findFirstIn(line).isDefined
    } yield s"$file:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
