package graft.stream

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.observe.StageMetrics

class StreamVecDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic unit-ish test vectors: e(k) is the k-th basis direction,
  // near(k) is e(k) nudged by 0.01 in the next dimension (cos ≈ 0.99995 —
  // far above the 0.9 gate), distinct k's are orthogonal (cos 0)
  private def e(k: Int): Array[Float] =
    Array.tabulate(64)(i => if (i == k) 1.0f else 0.0f)
  private def near(k: Int): Array[Float] =
    Array.tabulate(64)(i => if (i == k) 1.0f else if (i == k + 1) 0.01f else 0.0f)

  test("seed + two ingest batches: dups vs seed, vs earlier batch, within batch; replay idempotent") {
    val st = java.nio.file.Files.createTempDirectory("graft_svd").toString
    StreamVecDup.seedCorpus(
      Seq(1L -> e(0), 2L -> e(1)).toDF("vec_id", "embedding"), st)

    val b1 = Seq(10L -> near(0), 11L -> e(2)).toDF("vec_id", "embedding")
    StreamVecDup.processBatch(b1, st, 1L)
    def pairSet() = StreamVecDup.pairs(spark, st)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet() == Set((1L, 10L)))

    val b2 = Seq(
      20L -> near(2), // dups vec 11 from the PREVIOUS batch — the index grew
      21L -> e(4),
      22L -> near(4)) // twin planted within one ingest batch
      .toDF("vec_id", "embedding")
    StreamVecDup.processBatch(b2, st, 2L)
    assert(pairSet() == Set((1L, 10L), (11L, 20L), (21L, 22L)))

    // crash-replay of batch 2 after its state was absorbed: identical
    // pairs, no duplicates, no self-pairs
    StreamVecDup.processBatch(b2, st, 2L)
    assert(pairSet() == Set((1L, 10L), (11L, 20L), (21L, 22L)))
    assert(StreamVecDup.pairs(spark, st).count() == 3)
    // verified cosine rides the pair (exact, rounded)
    val cos = StreamVecDup.pairs(spark, st).select("cosine")
      .collect().map(_.getDouble(0))
    assert(cos.forall(_ >= 0.9))
    assert(StreamVecDup.pairs(spark, st).schema("ingest_version").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("sketch geometry is adopted from the seed manifest, not the caller's Params") {
    // the r5 advisory failure mode: seed with auto-sized planes (what
    // dedup_vec_ingest_gate does), then process a batch with DEFAULT
    // Params. Pre-manifest, the delta sketched planes=18 against a
    // planes=24 corpus index — disjoint bucket spaces, the join matched
    // nothing, and the duplicate passed the gate SILENTLY.
    val st = java.nio.file.Files.createTempDirectory("graft_svd4").toString
    StreamVecDup.seedCorpus(
      Seq(1L -> e(0), 2L -> e(1)).toDF("vec_id", "embedding"), st,
      StreamVecDup.Params(planes = 24, bands = 6, indexPrefixes = 64))
    // caller "forgets" the seed geometry: defaults are planes=18/bands=8/
    // prefixes=256 — every value disagrees with the manifest
    StreamVecDup.processBatch(
      Seq(10L -> near(0)).toDF("vec_id", "embedding"), st, 1L)
    val got = StreamVecDup.pairs(spark, st)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L)),
      s"cross-geometry batch missed the planted duplicate: $got")
    // and the absorbed batch's index landed in the SEED's bucket space:
    // its pb partition values stay inside the seed's 64-prefix fan-out
    val pbs = spark.read.parquet(s"$st/index/batch=1")
      .select("pb").distinct().collect().map(_.getInt(0))
    assert(pbs.forall(pb => pb >= 0 && pb < 64),
      s"batch index written outside the seeded prefix space: ${pbs.toSeq}")
  }

  test("probe is bucket-pruned: a small batch reads a fraction of the accumulated index") {
    val st = java.nio.file.Files.createTempDirectory("graft_svd3").toString
    // 2000 pseudo-random 64-dim directions (near-orthogonal in high dim):
    // index = 2000 × 8 bands = 16000 rows across the 256 default prefixes
    val seed = spark.range(1, 2001).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(col("id"), j), lit(2001L)) - lit(1000L)).cast("double") / 1000.0)
          .cast("float")).as("embedding"))
    StreamVecDup.seedCorpus(seed, st)
    assert(spark.read.parquet(s"$st/index").count() == 16000L)

    // 2 vecs × 8 bands = ≤16 of 256 prefixes → the probe may open at
    // most 16/256 of the index (~1000 of 16000 rows expected)
    val recordsRead = StageMetrics.measure(spark)(StreamVecDup.processBatch(
      Seq(5000L -> e(0), 5001L -> e(33)).toDF("vec_id", "embedding"), st, 1L))._2.totals.inputRecords

    // read budget: 2×2000 corpus-vec rows (both sides of the candidate
    // vector-fetch join) + ≤16/256 of the 16000-row index + batch
    // re-reads. An unpruned probe adds the full index scan on top.
    assert(recordsRead < 8000,
      s"probe read $recordsRead rows — index not bucket-pruned")
  }

  test("index compaction folds flat deltas; later batches still gate against everything") {
    val st = java.nio.file.Files.createTempDirectory("graft_svd6").toString
    StreamVecDup.seedCorpus(
      Seq(1L -> e(0), 2L -> e(1)).toDF("vec_id", "embedding"), st)
    StreamVecDup.processBatch(
      Seq(10L -> near(0), 11L -> e(2)).toDF("vec_id", "embedding"), st, 1L)
    StreamVecDup.processBatch(
      Seq(20L -> e(3)).toDF("vec_id", "embedding"), st, 2L)
    // both absorbed versions are durably processed (synchronous drain):
    // folding batches 0-2 into one pb-partitioned batch=0 is safe
    StreamVecDup.compactIndex(spark, st, 3L)
    val dirs = new java.io.File(s"$st/index").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirs == Set("batch=0"), s"compaction left $dirs")
    // the next batch is gated against the WHOLE folded corpus: a dup of
    // the seed (e1), of pre-compaction batch 1 (e2), and of batch 2 (e3)
    StreamVecDup.processBatch(
      Seq(30L -> near(1), 31L -> near(2), 32L -> near(3))
        .toDF("vec_id", "embedding"), st, 3L)
    val got = StreamVecDup.pairs(spark, st)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 30L), (11L, 31L), (20L, 32L)), s"got $got")
  }

  test("pruned probe holds at production prefix fan-out (4096)") {
    val st = java.nio.file.Files.createTempDirectory("graft_svd5").toString
    // same corpus shape as the 256-prefix test, seeded at the O(10^4)
    // fan-out production wants (StreamNearDup.Params scaladoc): the
    // pruning contract must not be an artifact of the small default
    val p = StreamVecDup.Params(indexPrefixes = 4096)
    val seed = spark.range(1, 4001).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(col("id"), j), lit(2001L)) - lit(1000L)).cast("double") / 1000.0)
          .cast("float")).as("embedding"))
    StreamVecDup.seedCorpus(seed, st, p)
    assert(spark.read.parquet(s"$st/index").count() == 32000L)
    // trigger-sized batch: 2 vecs × 8 bands = ≤16 of 4096 prefixes →
    // the probe may open ≤ 16/4096 ≈ 0.4% of the index (~125 rows)
    val recordsRead = StageMetrics.measure(spark)(StreamVecDup.processBatch(
      Seq(9000L -> e(0), 9001L -> e(33)).toDF("vec_id", "embedding"), st, 1L))._2.totals.inputRecords
    // budget: 2×4000 corpus-vec rows (candidate vector-fetch join sides)
    // + ≤16/4096 of the 32000-row index + batch re-reads. At 4096
    // prefixes the index contribution is ~125 rows, so the bound is
    // dominated by the corpus-vec fetch — an unpruned probe would add
    // the full 32000-row index scan and blow straight past it.
    assert(recordsRead < 12000,
      s"probe read $recordsRead rows — index not prefix-pruned at 4096")
  }

  test("cellMode: axis-sign index drives the same machinery; mode adopted from the manifest") {
    val st = java.nio.file.Files.createTempDirectory("graft_svd7").toString
    // sign-structured vectors: plus is all-positive, mixed flips the top
    // half — cos(plus, mixed) = 0, so they can share cells (the lower
    // bands cover dims 0-31, all positive in both) yet must be rejected
    // by the exact-cosine verify; each *Near twin nudges one dim without
    // a sign flip (cos ≈ 0.9999, same buckets in every band)
    val plus = Array.tabulate(64)(_ => 1.0f)
    val plusNear = Array.tabulate(64)(i => if (i == 0) 0.9f else 1.0f)
    val mixed = Array.tabulate(64)(i => if (i < 32) 1.0f else -1.0f)
    val mixedNear = Array.tabulate(64)(i =>
      if (i == 0) 0.9f else if (i < 32) 1.0f else -1.0f)
    StreamVecDup.seedCorpus(
      Seq(1L -> plus, 2L -> mixed).toDF("vec_id", "embedding"), st,
      StreamVecDup.Params(cellMode = true))
    // both batches run with DEFAULT Params: cellMode (and bands) must be
    // adopted from the seed manifest, or the probe sketches hyperplane
    // buckets against an axis-cell corpus index and silently matches
    // nothing — the exact failure mode the manifest exists to prevent
    StreamVecDup.processBatch(
      Seq(10L -> plusNear).toDF("vec_id", "embedding"), st, 1L)
    StreamVecDup.processBatch(
      Seq(20L -> mixedNear).toDF("vec_id", "embedding"), st, 2L)
    val got = StreamVecDup.pairs(spark, st)
      .select(col("id_a"), col("id_b"), col("ingest_version").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 10L, 1L), (2L, 20L, 2L)),
      s"cellMode gate missed a planted twin or passed an orthogonal candidate: $got")
  }

  test("crash between the index and pairs/vecs writes: replay converges to the uninterrupted run") {
    // processBatch writes index/batch=N, THEN pairs/batch=N, THEN
    // vecs/batch=N — a crash after the first write leaves an absorbed
    // index with no pairs and no corpus vectors for that version. The
    // healing contract mirrors StreamSubstringGate's: all three writes
    // are per-version Overwrite, and both the index probe and the
    // corpus-vecs read are pruned to batches STRICTLY below `version`,
    // so the leftover own-version index can neither poison the replay's
    // probe nor survive as a stale layout. Drive the same three batches
    // through a clean dir and a crashed-then-replayed dir; every state
    // surface (pairs, per-batch index, per-batch vecs) must match.
    def drive(st: String, crashBatch2: Boolean): Unit = {
      StreamVecDup.seedCorpus(
        Seq(1L -> e(0), 2L -> e(1)).toDF("vec_id", "embedding"), st)
      StreamVecDup.processBatch(
        Seq(10L -> near(0), 11L -> e(2)).toDF("vec_id", "embedding"), st, 1L)
      val b2 = Seq(20L -> near(2), 21L -> e(4), 22L -> near(4))
        .toDF("vec_id", "embedding")
      StreamVecDup.processBatch(b2, st, 2L)
      if (crashBatch2) {
        // simulate the widest crash window: batch 2's index write
        // survived, pairs and vecs never happened
        graft.core.Pipeline.deleteRecursively(
          java.nio.file.Paths.get(s"$st/pairs/batch=2"))
        graft.core.Pipeline.deleteRecursively(
          java.nio.file.Paths.get(s"$st/vecs/batch=2"))
        assert(java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(s"$st/index/batch=2")),
          "precondition: the absorbed index must outlive the crash")
        StreamVecDup.processBatch(b2, st, 2L) // replay
      }
    }
    val clean = java.nio.file.Files.createTempDirectory("graft_svd6a").toString
    val crashed = java.nio.file.Files.createTempDirectory("graft_svd6b").toString
    drive(clean, crashBatch2 = false)
    drive(crashed, crashBatch2 = true)
    def pairRows(st: String) = StreamVecDup.pairs(spark, st)
      .select(col("id_a"), col("id_b"), col("ingest_version").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // per-batch reads, the way the gate's own pruned reads go: the seed
    // index (batch=0) is pb-partitioned while deltas are flat, so a
    // naive recursive read trips over the mixed layouts
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
    assert(perBatch(crashed, "index", Seq("id", "band", "bucket")) ==
      perBatch(clean, "index", Seq("id", "band", "bucket")),
      "replayed index diverges from the uninterrupted run")
    assert(perBatch(crashed, "vecs", Seq("vec_id")) ==
      perBatch(clean, "vecs", Seq("vec_id")),
      "replayed corpus vecs diverge from the uninterrupted run")
    assert(pairRows(clean).map(p => (p._1, p._2)) ==
      Set((1L, 10L), (11L, 20L), (21L, 22L)), s"fixture sanity: ${pairRows(clean)}")
  }

  test("file-stream wiring: a streamed batch is gated against the seeded corpus") {
    val st = java.nio.file.Files.createTempDirectory("graft_svd2").toString
    val in = java.nio.file.Files.createTempDirectory("graft_svd_in").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_svd_ck").toString
    StreamVecDup.seedCorpus(
      Seq(1L -> e(0), 2L -> e(1)).toDF("vec_id", "embedding"), st)
    Seq(100L -> near(1), 101L -> e(5)).toDF("vec_id", "embedding")
      .write.parquet(s"$in/data")
    StreamVecDup.runIngestDedup(spark, s"$in/data", ck, st)
    val got = StreamVecDup.pairs(spark, st)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 100L)))
  }
}
