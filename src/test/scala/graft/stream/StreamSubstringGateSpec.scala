package graft.stream

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class StreamSubstringGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randText(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed * 2654435761L + 0x9e3779b9L)
    (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }

  // one 60-char verbatim run (> L+w-1 = 47) planted across specific docs
  private val run = randText(70, 60)
  private def withRun(seed: Int) = randText(seed, 80) + run + randText(seed + 500, 80)

  test("seed + two batches: overlap vs seed, vs earlier batch, within batch; replay idempotent") {
    val st = java.nio.file.Files.createTempDirectory("graft_ssg").toString
    StreamSubstringGate.seedCorpus(
      Seq(1L -> withRun(1), 2L -> randText(2, 200)).toDF("doc_id", "text"), st,
      StreamSubstringGate.Params(minShared = 1))

    def pairSet() = StreamSubstringGate.pairs(spark, st)
      .select("id_a", "id_b", "ingest_version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val otherRun = randText(71, 60)
    val b1 = Seq(10L -> withRun(10), // shares the run with seed doc 1
      11L -> (randText(11, 80) + otherRun + randText(511, 80))).toDF("doc_id", "text")
    StreamSubstringGate.processBatch(b1, st, 1L)
    assert(pairSet() == Set((1L, 10L, 1L)))

    val b2 = Seq(
      20L -> (randText(20, 80) + otherRun + randText(520, 80)), // dups doc 11 from batch 1
      21L -> withRun(21), // dups seed doc 1 AND doc 10
      22L -> randText(22, 200)).toDF("doc_id", "text")
    StreamSubstringGate.processBatch(b2, st, 2L)
    assert(pairSet() == Set((1L, 10L, 1L), (11L, 20L, 2L), (1L, 21L, 2L), (10L, 21L, 2L)))

    // crash-replay of batch 2 after absorption: identical pairs, no dups
    StreamSubstringGate.processBatch(b2, st, 2L)
    assert(pairSet() == Set((1L, 10L, 1L), (11L, 20L, 2L), (1L, 21L, 2L), (10L, 21L, 2L)))
    assert(StreamSubstringGate.pairs(spark, st).count() == 4)
    assert(StreamSubstringGate.pairs(spark, st).schema("ingest_version").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("in-batch twins are detected through the capped posting path") {
    val st = java.nio.file.Files.createTempDirectory("graft_ssg2").toString
    StreamSubstringGate.seedCorpus(
      Seq(1L -> randText(31, 200)).toDF("doc_id", "text"), st,
      StreamSubstringGate.Params(minShared = 1))
    val twin = withRun(40)
    StreamSubstringGate.processBatch(
      Seq(40L -> twin, 41L -> twin).toDF("doc_id", "text"), st, 1L)
    val got = StreamSubstringGate.pairs(spark, st)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((40L, 41L)))
  }

  test("hub fingerprints are capped at probe time: boilerplate shared by all docs pairs nothing") {
    val st = java.nio.file.Files.createTempDirectory("graft_ssg3").toString
    val boiler = randText(50, 104)
    // 8 seed docs + 4 delta docs all carry the boilerplate prefix; with
    // maxDf = 5 < 12 every boilerplate fingerprint is template noise and
    // must be dropped BEFORE the pair join — only the genuinely planted
    // run may pair
    val seed = (1L to 8L).map(i => (i, boiler + randText(100 + i.toInt, 80)))
      .toDF("doc_id", "text")
    StreamSubstringGate.seedCorpus(seed, st,
      StreamSubstringGate.Params(minShared = 1, maxDf = 5))
    val delta = Seq(
      20L -> (boiler + withRun(20)),
      21L -> (boiler + withRun(21)),
      22L -> (boiler + randText(122, 160)),
      23L -> (boiler + randText(123, 160))).toDF("doc_id", "text")
    StreamSubstringGate.processBatch(delta, st, 1L)
    val got = StreamSubstringGate.pairs(spark, st)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((20L, 21L)),
      s"boilerplate must cap out, only the planted run may pair; got $got")
  }

  test("md5 mode and the geometry manifest: a caller's divergent params are overridden") {
    val st = java.nio.file.Files.createTempDirectory("graft_ssg4").toString
    StreamSubstringGate.seedCorpus(
      Seq(1L -> withRun(60)).toDF("doc_id", "text"), st,
      StreamSubstringGate.Params(minShared = 1, md5Mode = true))
    // caller passes DIFFERENT geometry — the seed manifest must win, so
    // the probe still matches the seeded md5 fingerprint space
    StreamSubstringGate.processBatch(
      Seq(10L -> withRun(61)).toDF("doc_id", "text"), st, 1L,
      StreamSubstringGate.Params(minShared = 5, md5Mode = false, L = 20, w = 2))
    val got = StreamSubstringGate.pairs(spark, st)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L)))
  }

  test("crash between the index and pairs writes: replay converges to the uninterrupted run") {
    // processBatch writes index/batch=N, THEN pairs/batch=N — a crash in
    // between leaves an absorbed index with no pairs. The contract is
    // that replaying the same (batch, version) heals the window: both
    // writes are per-version Overwrite, and the probe reads strictly
    // below `version`, so the leftover own-index can neither poison the
    // probe nor survive as a stale layout. Drive the same three batches
    // through a clean dir and a crashed-then-replayed dir; every state
    // surface must match.
    def drive(st: String, crashBatch2: Boolean): Unit = {
      StreamSubstringGate.seedCorpus(
        Seq(1L -> withRun(90), 2L -> randText(91, 200)).toDF("doc_id", "text"), st,
        StreamSubstringGate.Params(minShared = 1))
      StreamSubstringGate.processBatch(
        Seq(10L -> withRun(92)).toDF("doc_id", "text"), st, 1L)
      val b2 = Seq(20L -> withRun(93), 21L -> randText(95, 200))
        .toDF("doc_id", "text")
      StreamSubstringGate.processBatch(b2, st, 2L)
      if (crashBatch2) {
        // simulate the crash window: batch 2's index write survived, its
        // pairs write never happened
        graft.core.Pipeline.deleteRecursively(
          java.nio.file.Paths.get(s"$st/pairs/batch=2"))
        assert(java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(s"$st/index/batch=2")),
          "precondition: the absorbed index must outlive the crash")
        StreamSubstringGate.processBatch(b2, st, 2L) // replay
      }
    }
    val clean = java.nio.file.Files.createTempDirectory("graft_ssg6a").toString
    val crashed = java.nio.file.Files.createTempDirectory("graft_ssg6b").toString
    drive(clean, crashBatch2 = false)
    drive(crashed, crashBatch2 = true)
    def pairRows(st: String) = StreamSubstringGate.pairs(spark, st)
      .select("id_a", "id_b", "n_shared", "ingest_version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // read per-batch dir, the way the gate's own pruned reads do: the
    // seed (batch=0) is pb-partitioned while deltas are flat, so a
    // naive recursive read of index/ trips over the mixed layouts
    def indexRows(st: String) = {
      val root = new java.io.File(s"$st/index")
      root.listFiles().filter(_.getName.startsWith("batch=")).toSeq
        .flatMap { d =>
          val b = d.getName.stripPrefix("batch=").toInt
          spark.read.parquet(d.toString).select("id", "h").collect()
            .map(r => (r.getLong(0), r.getLong(1), b))
        }.sorted
    }
    assert(pairRows(crashed) == pairRows(clean),
      s"replayed pairs diverge: ${pairRows(crashed)} vs ${pairRows(clean)}")
    assert(indexRows(crashed) == indexRows(clean),
      "replayed index diverges from the uninterrupted run")
    assert(pairRows(clean).map(p => (p._1, p._2)) == Set((1L, 10L), (1L, 20L), (10L, 20L)),
      s"fixture sanity: ${pairRows(clean)}")
  }

  test("compaction folds deltas into the partitioned seed without changing future probes") {
    val st = java.nio.file.Files.createTempDirectory("graft_ssg5").toString
    StreamSubstringGate.seedCorpus(
      Seq(1L -> withRun(80)).toDF("doc_id", "text"), st,
      StreamSubstringGate.Params(minShared = 1))
    StreamSubstringGate.processBatch(
      Seq(10L -> randText(81, 200)).toDF("doc_id", "text"), st, 1L)
    StreamSubstringGate.compactIndex(spark, st, 2L)
    // post-compaction probe still sees both the seed and batch-1 rows
    StreamSubstringGate.processBatch(
      Seq(20L -> withRun(82)).toDF("doc_id", "text"), st, 2L)
    val got = StreamSubstringGate.pairs(spark, st)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 20L)))
  }
}
