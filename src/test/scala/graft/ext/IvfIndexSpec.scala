package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.core.{Commit, Tables}

class IvfIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("IVF probe recall: full-probe equals brute force, partial probe is a subset") {
    val e = Tables.load(spark, TestSpark.Sf, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val idx = IvfIndex.build(spark, e, "vec_id", "embedding", nlist = 8)
    assert(idx.assigned.count() == e.count())
    assert(idx.centroids.length == 8)

    // probing ALL lists must reproduce the exact brute-force top-k
    val full = IvfIndex.topK(spark, idx, q, "vec_id", "embedding", k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted
    assert(full.toSeq == brute.toSeq)

    // partial probe returns k rows per query with scores <= brute best
    val part = IvfIndex.topK(spark, idx, q, "vec_id", "embedding", k = 5, nprobe = 2)
    val bruteBest = Similarity.bruteTopK(e, q, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    part.collect().foreach(r => assert(r.getDouble(2) <= bruteBest(r.getLong(0)) + 1e-9))
  }

  test("buildCells: assignment is the sign pattern; delta assignment lands in the sign cell") {
    // the sim_ivf_md5 oracle's load-bearing claims, pinned Spark-side:
    // (1) buildCells assigns every vector to the sign pattern of its
    // first `bits` dims; (2) applyDelta's nearest-EXISTING-centroid
    // assignment of an upsert lands in the SAME sign cell (argmin
    // ||v-c||^2 over the ±1 sign centroids = sign matching), so the
    // oracle may flatten the delta algebra to a plain set difference
    val e = Tables.load(spark, TestSpark.Sf, "embeddings")
    val bits = 6
    val idx = IvfIndex.buildCells(spark, e, "vec_id", "embedding", bits)
    assert(idx.centroids.length == (1 << bits))
    val signList = (0 until bits).map(i =>
      when(element_at(col("embedding"), i + 1) >= 0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)
    val mismatched = idx.assigned.as("a")
      .join(e.select(col("vec_id").as("vid"), signList.as("want")), Seq("vid"))
      .filter(col("list") =!= col("want")).count()
    assert(mismatched == 0)

    // delta leg: seed excludes % 7 == 3, applyDelta upserts it back —
    // every upsert must land in its sign cell, and the final contents
    // must equal a from-scratch buildCells over the full corpus
    val dir = java.nio.file.Files.createTempDirectory("ivf_cells").toString
    val seed = e.filter(col("vec_id") % 7 =!= 3)
    val delta = e.filter(col("vec_id") % 7 === 3)
    IvfIndex.write(IvfIndex.buildCells(spark, seed, "vec_id", "embedding", bits), dir)
    IvfIndex.applyDelta(spark, dir, upserts = delta,
      deletes = delta.limit(0), "vec_id", "embedding")
    val got = IvfIndex.load(spark, dir).assigned
      .select("vid", "list").collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    val want = idx.assigned.select("vid", "list")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(got.toSeq == want.toSeq)
  }

  test("persisted index: probe parity with in-memory, scan reads only probed partitions") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val e = Tables.load(spark, TestSpark.Sf, "embeddings")
    val idx = IvfIndex.build(spark, e, "vec_id", "embedding", nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    IvfIndex.write(idx, dir)
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.centroids.map(_._1).toSeq == idx.centroids.map(_._1).toSeq)
    assert(loaded.centroids.zip(idx.centroids).forall {
      case ((_, a), (_, b)) => a.sameElements(b)
    })

    val q = e.filter(col("vec_id") < 3)
    val mem = IvfIndex.topK(spark, idx, q, "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).sorted
    val prb = IvfIndex.topK(spark, loaded, q, "vec_id", "embedding", k = 3, nprobe = 2,
      pruneScan = true)
    val disk = prb.collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).sorted
    assert(disk.toSeq == mem.toSeq)

    // the assigned/ scan must be PLAN-TIME pruned to the probed lists:
    // the write lays one file per list, so files read == partitions read
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec => scans(qs.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans(_))
    }
    val assignedScans = scans(prb.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("assigned")))
    assert(assignedScans.nonEmpty, "no FileSourceScanExec over the persisted index")
    val filesRead = assignedScans.map(_.metrics("numFiles").value).sum
    // 3 queries × nprobe=2 touch at most 6 distinct lists of the 8
    assert(filesRead <= 6, s"expected ≤6 of 8 partition files read, got $filesRead")
  }

  test("applyDelta: upserts + deletes land, untouched list partitions are not rewritten") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val e = Tables.load(spark, TestSpark.Sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val idx = IvfIndex.build(spark, e, "vec_id", "embedding", nlist = 8)
    val dir = Files.createTempDirectory("ivf_delta").toString
    IvfIndex.write(idx, dir)

    def partFiles(): Map[String, Set[String]] = {
      val s = Files.list(Paths.get(dir, "assigned"))
      try s.iterator.asScala.filter(p => p.getFileName.toString.startsWith("list="))
        .map { p =>
          val f = Files.list(p)
          try p.getFileName.toString ->
            f.iterator.asScala.map(q => s"${q.getFileName}:${Files.getLastModifiedTime(q)}").toSet
          finally f.close()
        }.toMap
      finally s.close()
    }
    val before = partFiles()

    // delta: UPDATE vec 0 to the opposite point (its stored copy is
    // located BY ID from the index, so a cross-list move cannot strand
    // a stale row), INSERT a brand-new id, DELETE vec 1 (ids suffice —
    // no outgoing vector needed)
    val v0 = e.filter(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).toArray
    import spark.implicits._
    val upserts = Seq((0L, v0.map(x => -x)), (900001L, v0)).toDF("vec_id", "embedding")
    val deletes = Seq(1L).toDF("vec_id")
    IvfIndex.applyDelta(spark, dir, upserts, deletes, "vec_id", "embedding")

    val maintained = IvfIndex.load(spark, dir)
    val n0 = e.count()
    assert(maintained.assigned.count() == n0 + 1 - 1) // +new id, -deleted
    assert(maintained.assigned.filter(col("vid") === 1L).count() == 0)
    assert(maintained.assigned.filter(col("vid") === 900001L).count() == 1)

    // full probe over the MAINTAINED layout == brute force over the
    // updated corpus: any consistent partitioning gives exact results
    // when every list is probed, so this pins the whole delta algebra
    val updated = e.filter(col("vec_id") =!= 0 && col("vec_id") =!= 1)
      .unionByName(upserts)
    val q = updated.filter(col("vec_id") < 5)
    val full = IvfIndex.topK(spark, maintained, q, "vec_id", "embedding",
        k = 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted
    val brute = Similarity.bruteTopK(updated, q, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted
    assert(full.toSeq == brute.toSeq)

    // incremental claim: the 3 delta ids touch at most 4 of the 8 list
    // dirs (old+new list of the update, insert's list, delete's list);
    // the rest are byte-stable (not read, not written)
    val after = partFiles()
    assert(after.keySet == before.keySet)
    val changed = before.keySet.count(k => before(k) != after(k))
    assert(changed <= 4, s"expected ≤4 rewritten list partitions, got $changed")
    assert(before.keySet.size - changed >= 4,
      s"expected ≥4 untouched list partitions, got ${before.keySet.size - changed}")

    // emptying an ENTIRE list must remove its partition directory —
    // dynamic overwrite alone would leave the stale files in place
    val victims = maintained.assigned
      .groupBy("list").agg(org.apache.spark.sql.functions.count("*").as("c"))
      .orderBy(col("c")).first()
    val victimList = victims.getInt(0)
    val victimIds = maintained.assigned.filter(col("list") === victimList)
      .select("vid").as[Long].collect().toSeq
    IvfIndex.applyDelta(spark, dir,
      upserts = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      deletes = victimIds.toDF("vec_id"), "vec_id", "embedding")
    val after2 = IvfIndex.load(spark, dir)
    assert(after2.assigned.filter(col("list") === victimList).count() == 0)
    assert(!partFiles().contains(s"list=$victimList"),
      "emptied list partition directory was not deleted")
    assert(after2.assigned.count() == n0 + 1 - 1 - victimIds.size)
  }

  test("applyDelta crash recovery: replaying the same delta is a no-op") {
    // the documented crash contract (IvfIndex.applyDelta scaladoc): a
    // crash anywhere in the sequence is recovered by REPLAYING the same
    // applyDelta — the remove-then-add algebra is idempotent over one
    // delta (replayed gone-ids match nothing the second time; the
    // upserts land identically). Pin it: contents after one apply ==
    // contents after two.
    import java.nio.file.Files
    import spark.implicits._
    val e = Tables.load(spark, TestSpark.Sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dir = Files.createTempDirectory("ivf_replay").toString
    IvfIndex.write(IvfIndex.build(spark, e, "vec_id", "embedding", nlist = 8), dir)
    val v0 = e.filter(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).toArray
    val upserts = Seq((0L, v0.map(x => -x)), (900001L, v0)).toDF("vec_id", "embedding")
    val deletes = Seq(1L, 2L).toDF("vec_id")
    def contents(): Seq[(Long, Int)] = IvfIndex.load(spark, dir).assigned
      .select("vid", "list").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    IvfIndex.applyDelta(spark, dir, upserts, deletes, "vec_id", "embedding")
    val once = contents()
    IvfIndex.applyDelta(spark, dir, upserts, deletes, "vec_id", "embedding")
    assert(contents() == once)
  }

  test("rebuild policy: corpus-doubling deltas trip the trigger, maintain restores recall") {
    import spark.implicits._
    val e = Tables.load(spark, TestSpark.Sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_rebuild").toString
    IvfIndex.write(IvfIndex.build(spark, e, "vec_id", "embedding"), dir)
    val h0 = IvfIndex.health(spark, dir)
    assert(!h0.needsRebuild, h0.reason)
    val n0 = h0.n
    val nlist0 = IvfIndex.load(spark, dir).centroids.length

    // ten deltas, each inserting +10% of the seed corpus: fresh ids,
    // deterministically perturbed copies spread through the space —
    // sustained ingest that DOUBLES the corpus without any rebuild
    for (b <- 1 to 10) {
      val delta = e.filter(pmod(col("vec_id"), lit(10)) === (b - 1))
        .select((col("vec_id") + lit(1000000L * b)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") +
              (pmod(xxhash64(col("vec_id"), lit(b), i), lit(2001L)) - lit(1000L))
                .cast("double") / lit(5000.0)).cast("float")).as("embedding"))
      IvfIndex.applyDelta(spark, dir, delta, delta.limit(0), "vec_id", "embedding")
    }
    val h1 = IvfIndex.health(spark, dir)
    assert(h1.n >= 2 * n0 - 10, s"deltas did not double the corpus: ${h1.n} vs $n0")
    assert(h1.needsRebuild && h1.reason.contains("grew"), h1.reason)

    // the cadence hook measures, rebuilds, and the drift clears: the
    // quantizer is resized to the GROWN corpus and the baseline advances
    IvfIndex.maintain(spark, dir)
    val h2 = IvfIndex.health(spark, dir)
    assert(!h2.needsRebuild, h2.reason)
    assert(h2.builtN == h1.n)
    val rebuilt = IvfIndex.load(spark, dir)
    assert(rebuilt.centroids.length > nlist0,
      s"rebuild kept nlist=$nlist0 for a doubled corpus")
    assert(rebuilt.assigned.count() == h1.n)

    // recall@5 over the grown corpus at the production probe setting
    val corpus = rebuilt.assigned
      .select(col("vid").as("vec_id"), col("v").as("embedding"))
      .localCheckpoint(true) // sever from the layout the probe reads
    val q = corpus.filter(col("vec_id") < 20)
    val ivf = IvfIndex.topK(spark, rebuilt, q, "vec_id", "embedding", k = 5,
        nprobe = math.min(20, rebuilt.centroids.length), pruneScan = true)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteTopK(corpus, q, "vec_id", "embedding", 5)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall@5 = $recall after rebuild")
  }

  test("rebuild crash safety: a swap cut after any rename recovers the old index or the new one whole") {
    import java.nio.file.Files
    val e = Tables.load(spark, TestSpark.Sf, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    val pristine = Files.createTempDirectory("ivf_swap")
    IvfIndex.write(IvfIndex.build(spark, e, "vec_id", "embedding", nlist = 4), s"$pristine/idx")
    IvfIndex.stageRebuild(spark, s"$pristine/idx", nlist = 6, seed = 7L)
    def contents(dir: String) = {
      val idx = IvfIndex.load(spark, dir)
      (idx.centroids.map { case (l, c) => (l, c.toSeq) }.toSeq,
        idx.assigned.collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).sortBy(_._1).toSeq)
    }
    val old = contents(s"$pristine/idx")
    val fresh = contents(Commit.staging(pristine.toString))
    assert(old._1.size == 4 && fresh._1.size == 6 && fresh._2.map(_._1) == old._2.map(_._1))
    val n = Commit.swapRenames(pristine.toString, Seq("idx"), "idx").size
    for (k <- 0 to n) {
      // the staged state copied afresh, cut after the first k renames
      val root = Files.createTempDirectory("ivf_swap_cut")
      val walk = Files.walk(pristine)
      try walk.filter(_ != pristine).forEach(p => Files.copy(p, root.resolve(pristine.relativize(p))))
      finally walk.close()
      val renames = Commit.swapRenames(root.toString, Seq("idx"), "idx")
      Files.createDirectories(renames.head._2.getParent)
      renames.take(k).foreach { case (from, to) => Files.move(from, to) }
      Commit.recover(root.toString)
      assert(contents(s"$root/idx") == (if (k == n) fresh else old), s"cut after $k of $n renames")
    }
  }

  test("drained index: deleting every row keeps load and re-population working") {
    import spark.implicits._
    val e = Tables.load(spark, TestSpark.Sf, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 50)
    val dir = java.nio.file.Files.createTempDirectory("ivf_drain").toString
    IvfIndex.write(IvfIndex.build(spark, e, "vec_id", "embedding", nlist = 4), dir)

    // delete-only delta removing EVERY id: all list dirs are emptied and
    // removed — parquet can infer nothing from zero files, so load must
    // fall back to the schema sidecar instead of crashing
    IvfIndex.applyDelta(spark, dir,
      upserts = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      deletes = e.select("vec_id"), "vec_id", "embedding")
    val drained = IvfIndex.load(spark, dir)
    assert(drained.assigned.count() == 0)
    assert(drained.centroids.length == 4)

    // the drained index accepts the next delta and serves exact results
    IvfIndex.applyDelta(spark, dir, upserts = e, deletes = e.limit(0),
      "vec_id", "embedding")
    val back = IvfIndex.load(spark, dir)
    assert(back.assigned.count() == 50)
    val q = e.filter(col("vec_id") < 3)
    val full = IvfIndex.topK(spark, back, q, "vec_id", "embedding", k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted
    assert(full.toSeq == brute.toSeq)
  }

  test("quantizer trains on a bounded sample, assignment still covers the corpus") {
    val e = Tables.load(spark, TestSpark.Sf, "embeddings")
    val n = e.count()
    // trainPerList=4, nlist=4 → budget 16 vectors; corpus is 500+. The
    // stride sample must stay within ~2× the budget while every corpus
    // vector still lands in a posting list, and full-probe stays exact.
    val idx = IvfIndex.build(spark, e, "vec_id", "embedding", nlist = 4, trainPerList = 4)
    assert(idx.assigned.count() == n)
    val stride = math.max(1L, n / 16)
    val sampled = e.filter(
      pmod(xxhash64(col("vec_id").cast("string")), lit(stride)) === 0).count()
    assert(sampled < n && sampled <= 48, s"sample $sampled of $n not bounded")
    val q = e.filter(col("vec_id") < 3)
    val full = IvfIndex.topK(spark, idx, q, "vec_id", "embedding", k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted
    assert(full.toSeq == brute.toSeq)
  }
}
