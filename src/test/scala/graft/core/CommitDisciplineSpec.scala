package graft.core

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps the "how staged bytes become durable state" decision behind one
  * module: outside [[Commit]], no main source renames a file or directory.
  */
class CommitDisciplineSpec extends AnyFunSuite {
  /** file name -> why it may still rename on its own */
  private val allowed = Map(
    "Commit.scala" -> "the durable-commit primitive itself",
    "IvfIndex.scala" -> ("rebuild swaps a multi-component index in place " +
      "through the Hadoop filesystem, documented as non-atomic"))

  test("ATOMIC_MOVE and .rename( appear only in Commit.scala (and the allow-list)") {
    val src = Paths.get("src/main/scala")
    assert(Files.isDirectory(src), s"main sources not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(src)
    val offenders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed.contains(p.getFileName.toString))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("ATOMIC_MOVE") || line.contains(".rename(") =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toVector
    finally walk.close()
    assert(offenders.isEmpty,
      s"durable renames outside Commit.scala:\n${offenders.mkString("\n")}")
  }
}
