package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, in the engine's own posture. */
object TestSpark {
  val Cores = 4
  lazy val spark: SparkSession = Session.builder(Cores)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
  val Sf = "/root/testdata/sf0.001"
}
