package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The one catch rule of the program sources: a handler that swallows or
  * converts failures matches `NonFatal`, so OOM, StackOverflowError,
  * linkage errors and interrupts always propagate. Only the frozen
  * benchmark mains (`Bench.scala`, `Verify.scala`) keep broader catches. */
class CatchRuleSpec extends AnyFunSuite {

  test("src/main catches NonFatal, never Throwable or Exception, outside Bench and Verify") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    val broad = """case\s+(_|e)\s*:\s*(Throwable|Exception)\b""".r
    val frozen = Set("Bench.scala", "Verify.scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !frozen(p.getFileName.toString)).toSeq
    assert(files.size > 50, s"only ${files.size} sources found under $root")
    val hits = files.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if broad.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("broad catches:\n", "\n", ""))
  }
}
