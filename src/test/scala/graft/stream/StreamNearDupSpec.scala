package graft.stream

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.observe.StageMetrics

class StreamNearDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val tB = "one two three four five six seven eight nine ten eleven"
  private val tC = "entirely different filler sentence with many unique tokens in it"

  test("seed + two ingest batches: dups vs seed, vs earlier batch, within batch; replay is idempotent") {
    val st = java.nio.file.Files.createTempDirectory("graft_snd").toString
    StreamNearDup.seedCorpus(Seq(1L -> tA, 2L -> tB).toDF("doc_id", "text"), st)

    val b1 = Seq(10L -> tA, 11L -> tC).toDF("doc_id", "text") // 10 dups seed doc 1
    StreamNearDup.processBatch(b1, st, 1L)
    def pairSet() = StreamNearDup.pairs(spark, st)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet() == Set((1L, 10L)))

    val b2 = Seq(
      20L -> tC, // dups doc 11 from the PREVIOUS batch — the index grew
      21L -> "twin text planted twice inside one single ingest batch here",
      22L -> "twin text planted twice inside one single ingest batch here")
      .toDF("doc_id", "text")
    StreamNearDup.processBatch(b2, st, 2L)
    assert(pairSet() == Set((1L, 10L), (11L, 20L), (21L, 22L)))

    // crash-replay of batch 2 after its state was already absorbed:
    // identical pairs, no duplicate rows, no self-pairs
    StreamNearDup.processBatch(b2, st, 2L)
    assert(pairSet() == Set((1L, 10L), (11L, 20L), (21L, 22L)))
    assert(StreamNearDup.pairs(spark, st).count() == 3)
    assert(StreamNearDup.pairs(spark, st).schema("ingest_version").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("sketch geometry is adopted from the seed manifest, not the caller's Params") {
    // seed with non-default bands/prefixes, then process with DEFAULT
    // Params (bands = 4, indexPrefixes = 256): the delta must be sketched
    // in the seed's geometry, or it probes a disjoint bucket space
    val st = java.nio.file.Files.createTempDirectory("graft_snd4").toString
    StreamNearDup.seedCorpus(Seq(1L -> tA, 2L -> tB).toDF("doc_id", "text"), st,
      StreamNearDup.Params(bands = 2, indexPrefixes = 8))
    StreamNearDup.processBatch(Seq(10L -> tA, 11L -> tC).toDF("doc_id", "text"), st, 1L)
    val got = StreamNearDup.pairs(spark, st)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L)), s"cross-geometry batch missed the planted duplicate: $got")
    val idx = spark.read.parquet(s"$st/index/batch=1")
    val rowsPerDoc = idx.groupBy("id").count().collect().map(_.getLong(1)).toSet
    assert(rowsPerDoc == Set(2L), s"delta not sketched with the seed's 2 bands: $rowsPerDoc")
    val pbs = idx.select("pb").distinct().collect().map(_.getInt(0))
    assert(pbs.forall(pb => pb >= 0 && pb < 8),
      s"batch index written outside the seeded prefix space: ${pbs.toSeq}")
  }

  test("crash between the index and pairs/docs writes: replay converges to the uninterrupted run") {
    // processBatch writes index/batch=N, THEN pairs/batch=N, THEN
    // docs/batch=N — a crash after the first write leaves an absorbed
    // index with no pairs and no corpus docs for that version. Healing
    // contract (same as StreamSubstringGate/StreamVecDup): per-version
    // Overwrite everywhere, probe and corpus reads pruned STRICTLY
    // below `version`, so the leftover own-version index neither
    // poisons the replay's probe nor survives as stale layout.
    def drive(st: String, crashBatch2: Boolean): Unit = {
      StreamNearDup.seedCorpus(Seq(1L -> tA, 2L -> tB).toDF("doc_id", "text"), st)
      StreamNearDup.processBatch(
        Seq(10L -> tA, 11L -> tC).toDF("doc_id", "text"), st, 1L)
      val b2 = Seq(
        20L -> tC,
        21L -> "twin text planted twice inside one single ingest batch here",
        22L -> "twin text planted twice inside one single ingest batch here")
        .toDF("doc_id", "text")
      StreamNearDup.processBatch(b2, st, 2L)
      if (crashBatch2) {
        graft.core.Pipeline.deleteRecursively(
          java.nio.file.Paths.get(s"$st/pairs/batch=2"))
        graft.core.Pipeline.deleteRecursively(
          java.nio.file.Paths.get(s"$st/docs/batch=2"))
        assert(java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(s"$st/index/batch=2")),
          "precondition: the absorbed index must outlive the crash")
        StreamNearDup.processBatch(b2, st, 2L) // replay
      }
    }
    val clean = java.nio.file.Files.createTempDirectory("graft_snd6a").toString
    val crashed = java.nio.file.Files.createTempDirectory("graft_snd6b").toString
    drive(clean, crashBatch2 = false)
    drive(crashed, crashBatch2 = true)
    def pairRows(st: String) = StreamNearDup.pairs(spark, st)
      .select(org.apache.spark.sql.functions.col("id_a"),
        org.apache.spark.sql.functions.col("id_b"),
        org.apache.spark.sql.functions.col("ingest_version").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def perBatch(st: String, sub: String, cols: Seq[String]) = {
      val root = new java.io.File(s"$st/$sub")
      root.listFiles().filter(_.getName.startsWith("batch=")).toSeq
        .flatMap { d =>
          val b = d.getName.stripPrefix("batch=").toInt
          spark.read.parquet(d.toString).select(cols.head, cols.tail: _*)
            .collect().map(r => (r.toSeq.map(String.valueOf), b))
        }.sortBy(_.toString)
    }
    assert(pairRows(crashed) == pairRows(clean),
      s"replayed pairs diverge: ${pairRows(crashed)} vs ${pairRows(clean)}")
    assert(perBatch(crashed, "index", Seq("id", "bucket")) ==
      perBatch(clean, "index", Seq("id", "bucket")),
      "replayed index diverges from the uninterrupted run")
    assert(perBatch(crashed, "docs", Seq("doc_id")) ==
      perBatch(clean, "docs", Seq("doc_id")),
      "replayed corpus docs diverge from the uninterrupted run")
    assert(pairRows(clean).map(p => (p._1, p._2)) ==
      Set((1L, 10L), (11L, 20L), (21L, 22L)), s"fixture sanity: ${pairRows(clean)}")
  }

  test("probe is bucket-pruned: a small batch reads a fraction of the accumulated index") {
    val st = java.nio.file.Files.createTempDirectory("graft_snd3").toString
    // 2000 seed docs with token-disjoint texts: index = 2000 × 4 bands =
    // 8000 rows spread across the 256 default bucket prefixes
    val seed = spark.range(1, 2001).selectExpr("id AS doc_id",
      "concat_ws(' ', 'w', id*7, id*7+1, id*7+2, id*7+3, id*7+4) AS text")
    StreamNearDup.seedCorpus(seed, st)
    val fullIndex = spark.read.parquet(s"$st/index").count()
    assert(fullIndex == 8000L)

    // 2 docs × 4 bands = ≤8 of 256 prefixes → the probe may open at
    // most 8/256 of the index (~250 of 8000 rows expected)
    val recordsRead = StageMetrics.measure(spark)(StreamNearDup.processBatch(
      Seq(5000L -> tA, 5001L -> tC).toDF("doc_id", "text"), st, 1L))._2.totals.inputRecords

    // read budget: 2×2000 corpus-docs rows (both sides of the candidate
    // text-fetch join — the one place the corpus legitimately enters) +
    // ≤8/256 of the 8000-row index + the batch re-reads. An UNPRUNED
    // probe adds the full 8000-row index scan and blows far past this.
    assert(recordsRead < 6000,
      s"probe read $recordsRead rows — index not bucket-pruned")
  }

  test("file-stream wiring: a streamed batch is gated against the seeded corpus") {
    val st = java.nio.file.Files.createTempDirectory("graft_snd2").toString
    val in = java.nio.file.Files.createTempDirectory("graft_snd_in").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_snd_ck").toString
    StreamNearDup.seedCorpus(Seq(1L -> tA, 2L -> tB).toDF("doc_id", "text"), st)
    Seq(100L -> tB, 101L -> tC).toDF("doc_id", "text").write.parquet(s"$in/data")
    StreamNearDup.runIngestDedup(spark, s"$in/data", ck, st)
    val got = StreamNearDup.pairs(spark, st)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 100L)))
  }
}
