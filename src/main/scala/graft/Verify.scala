package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.builder(Session.cores).getOrCreate()
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for fast local iteration; the
    // driver never sets this so the gate always runs everything. A subset
    // run is loud + leaves a marker file so stale parquet from a previous
    // full run can never masquerade as a full verification.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    only.foreach { names =>
      System.err.println(s"[verify] *** PARTIAL RUN (SPARK_GRAFT_ONLY=${names.mkString(",")}) — NOT a full verification ***")
      Files.writeString(Paths.get(s"$outDir/_PARTIAL_RUN"), names.mkString(","))
    }
    if (only.isEmpty) Files.deleteIfExists(Paths.get(s"$outDir/_PARTIAL_RUN"))
    val requested = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // manifest of every REQUESTED query, written before any runs: the
    // checker derives its expected set from this instead of the oracle
    // keys, so a rows-only query that errors inside Verify is flagged as
    // missing output rather than silently skipped (r10 ADVICE #1)
    Files.writeString(Paths.get(s"$outDir/queries_requested.json"),
      requested.keys.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]"))
    requested.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
