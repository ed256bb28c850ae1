package graft.core

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps each engine-wide decision behind one module: outside its owning
  * file (and a reasoned allow-list), no main source spells the calls that
  * make it — how staged bytes become durable state ([[Commit]]), how
  * an engine session is configured ([[graft.Session]]), how an ingest
  * gate versions its state ([[graft.stream.IngestState]]), how a
  * batch probes admitted substring fingerprints
  * ([[graft.ext.SubstringDedup]]), which relations the driver holds
  * ([[Diff.collectIfSmall]]), and how task metrics are read
  * ([[graft.observe.StageMetrics]]).
  */
class CommitDisciplineSpec extends AnyFunSuite {
  /** what the patterns do, the patterns, the owning file, and
    * file name -> why it may still use them */
  private case class Rule(what: String, patterns: Seq[String], owner: String,
                          allowed: Map[String, String])

  private val rules = Seq(
    Rule("durable renames", Seq("ATOMIC_MOVE", ".rename("), "Commit.scala", Map.empty),
    Rule("session builders", Seq("SparkSession.builder"), "Session.scala", Map.empty),
    Rule("gate state layout", Seq("_params.json", "batch=$", "batch=0"), "IngestState.scala",
      Map.empty),
    Rule("substring probe steps", Seq("postingPairs(", "\"n_c\""), "SubstringDedup.scala",
      Map.empty),
    Rule("broadcast-threshold reads", Seq("conf.autoBroadcastJoinThreshold"), "Diff.scala",
      Map.empty),
    Rule("Spark listeners", Seq("extends SparkListener", "addSparkListener("),
      "StageMetrics.scala", Map.empty))

  rules.foreach { case Rule(what, patterns, owner, allowed) =>
    test(s"${patterns.mkString(" and ")} appear only in $owner (and the allow-list)") {
      val src = Paths.get("src/main/scala")
      assert(Files.isDirectory(src), s"main sources not found from ${Paths.get("").toAbsolutePath}")
      val walk = Files.walk(src)
      val offenders = try walk.iterator.asScala
        .filter { p =>
          val name = p.getFileName.toString
          name.endsWith(".scala") && name != owner && !allowed.contains(name)
        }
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if patterns.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
          }
        }.toVector
      finally walk.close()
      assert(offenders.isEmpty,
        s"$what outside $owner:\n${offenders.mkString("\n")}")
    }
  }

  test("Session.builder(n) yields n shuffle partitions and re-plannable cached exchanges") {
    // the shared test session is built by Session.builder(TestSpark.Cores)
    val conf = graft.TestSpark.spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == graft.TestSpark.Cores.toString)
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(graft.TestSpark.spark.sparkContext.master == s"local[${graft.TestSpark.Cores}]")
  }
}
