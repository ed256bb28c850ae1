package graft.ext

import scala.collection.mutable.ListBuffer
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener
import graft.TestSpark

class IngestPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randText(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed * 2654435761L + 0x9e3779b9L)
    (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }

  // wave-0 LM corpus: 10 words, 9 bigrams. Fluent wave docs reuse these
  // bigrams with per-doc unique words inserted every ~20 chars so no
  // 40-byte run is ever shared by construction (the substring stage must
  // only fire on the EXPLICITLY planted 60-char runs).
  private val seedText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private def fluent(u1: String, u2: String, tail: String = "") =
    (s"alpha beta gamma $u1 delta epsilon zeta $u2 eta theta" +
      (if (tail.isEmpty) "" else s" $tail"))
  private def garbage(tail: String = "") =
    ("alpha qq alpha rr alpha ss alpha tt" + (if (tail.isEmpty) "" else s" $tail"))

  private def fates(docs: Seq[(Long, String)]): Map[Long, (Int, Int, String)] =
    IngestPipeline.waveFates(docs.toDF("doc_id", "text"), "doc_id", "text",
        nWaves = 3, maxAvgNllFrac = 0.98, L = 40, w = 8, minShared = 1)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap

  test("stage precedence: first failing stage names the reason") {
    val run = randText(1, 60)
    val f = fates(Seq(
      0L -> seedText,                      // seed: trains the LM
      3L -> s"$seedText $run",             // seed: holds the planted run
      1L -> "zz",                          // wave 1: 1 token -> lm_short
      4L -> garbage(),                     // wave 1: seen-w1/unseen-w2 bigrams -> lm
      7L -> fluent("uaa", "ubb"),          // wave 1: fluent -> ok
      2L -> fluent("uaa", "ubb"),          // wave 2: EXACT clone of admitted 7
      5L -> fluent("ucc", "udd", run),     // wave 2: shares the run with seed 3
      8L -> fluent("uee", "uff")))         // wave 2: fluent, unique -> ok
    assert(f(1L) == ((1, 0, "lm_short")))
    assert(f(4L) == ((1, 0, "lm")))
    assert(f(7L) == ((1, 1, "ok")))
    assert(f(2L) == ((2, 0, "exact")), s"verbatim clone of an admitted doc: ${f(2L)}")
    assert(f(5L) == ((2, 0, "substring")), s"shares a 60-char run with the seed: ${f(5L)}")
    assert(f(8L) == ((2, 1, "ok")))
  }

  test("in-batch exact keep-first and substring CC keep min id") {
    val run = randText(9, 60)
    val twin = fluent("twina", "twinb")
    val f = fates(Seq(
      0L -> seedText,
      1L -> twin,                          // wave 1: kept (min id of the sig)
      4L -> twin,                          // wave 1: exact drop
      7L -> fluent("uaa", "ubb", run),     // wave 1: CC with 10 -> 7 kept
      10L -> fluent("ucc", "udd", run)))   // wave 1: CC drop (not min)
    assert(f(1L)._3 == "ok")
    assert(f(4L) == ((1, 0, "exact")))
    assert(f(7L)._3 == "ok", s"min id of the substring component must survive: ${f(7L)}")
    assert(f(10L) == ((1, 0, "substring")))
  }

  test("production xxhash mode reproduces the md5-mode fates exactly") {
    // waveFates' two modes differ ONLY in hash encoding (md5 text sigs +
    // md5 winnowed grams vs the xxhash64 codegen kernels); fates depend
    // on hash EQUALITY, which both spaces decide identically modulo
    // 64-bit collisions — so the planted-overlap fixture must produce
    // byte-identical fates. This pins the 100 TB deployment mode against
    // the oracle-gated mode (the oracle itself stays md5-only).
    val run = randText(33, 60)
    val docs = Seq(
      0L -> seedText, 3L -> s"$seedText $run",
      1L -> "zz", 4L -> garbage(), 7L -> fluent("uaa", "ubb"),
      2L -> fluent("uaa", "ubb"), 5L -> fluent("ucc", "udd", run),
      8L -> fluent("uee", "uff")).toDF("doc_id", "text")
    def run1(md5: Boolean) =
      IngestPipeline.waveFates(docs, "doc_id", "text",
          nWaves = 3, maxAvgNllFrac = 0.98, L = 40, w = 8, minShared = 1,
          md5Mode = md5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .toSet
    val md5Fates = run1(md5 = true)
    val xxFates = run1(md5 = false)
    assert(md5Fates.nonEmpty && md5Fates.exists(_._4 == "substring"),
      s"fixture sanity: the substring stage must fire: $md5Fates")
    assert(xxFates == md5Fates,
      s"mode parity broken:\n  md5: $md5Fates\n  xx:  $xxFates")
  }

  test("rejected docs never join the admitted state") {
    val run = randText(21, 60)
    // doc 4 (wave 1) is lm-rejected but carries the run; doc 2 (wave 2)
    // shares the run ONLY with doc 4 — since 4 was never admitted, 2
    // must pass the substring stage
    val f = fates(Seq(
      0L -> seedText,
      4L -> garbage(run),
      2L -> fluent("uaa", "ubb", run)))
    assert(f(4L) == ((1, 0, "lm")))
    assert(f(2L) == ((2, 1, "ok")),
      s"overlap with a REJECTED doc must not block admission: ${f(2L)}")
  }

  test("hub fingerprints are capped: boilerplate shared by more than maxDf docs pairs nothing") {
    val boiler = randText(50, 300)
    val run = randText(51, 400)
    // every doc opens with the boilerplate: 4 seed docs and 4 wave-1 docs
    // carry it, so with maxDf = 5 its fingerprints are template noise;
    // only the planted run (seed 3, wave-1 doc 7) may reject a doc. A
    // window that straddles the boilerplate's end can select one of its
    // last w - 1 grams in some docs only, so such a gram may stay under
    // the cap; minShared = w keeps those few from pairing two docs, while
    // the boilerplate and the run each share far more fingerprints. Each
    // doc's first letter after the boilerplate is its own, so no gram
    // spanning that boundary is shared; the LM ceiling admits every doc.
    def doc(id: Long, first: Char, tail: String = "") =
      id -> (s"$boiler $first${randText(100 + id.toInt, 80)}" + tail)
    val docs = Seq(doc(0, 'a'), doc(3, 'a', s" $run"), doc(6, 'a'), doc(9, 'a'),
      doc(1, 'b'), doc(4, 'c'), doc(7, 'd', s" $run"), doc(10, 'e'),
      doc(2, 'f'), doc(5, 'g')).toDF("doc_id", "text")
    def fatesAt(maxDf: Int) =
      IngestPipeline.waveFates(docs, "doc_id", "text", nWaves = 3, maxAvgNllFrac = 100.0,
          L = 40, w = 8, minShared = 8, maxDf = maxDf)
        .select("doc_id", "reason").as[(Long, String)].collect().toMap
    val capped = fatesAt(5)
    assert(capped(7L) == "substring", s"the planted run must still pair: $capped")
    assert(Seq(1L, 4L, 10L, 2L, 5L).forall(capped(_) == "ok"), capped)
    // fixture sanity: uncapped, the boilerplate rejects every wave doc
    val uncapped = fatesAt(1000)
    assert(Seq(1L, 4L, 7L, 10L, 2L, 5L).forall(uncapped(_) == "substring"), uncapped)
  }

  test("substring rejects equal the streaming gate's pairs for one seed wave and one batch") {
    // even ids seed, odd ids form the one batch; every overlap crosses
    // the wave boundary, so both callers of the one probe must agree
    val runA = randText(61, 60)
    val runB = randText(62, 60)
    val seed = Seq(0L -> seedText, 2L -> s"$seedText $runA", 4L -> s"$seedText $runB")
    val batch = Seq(1L -> fluent("uaa", "ubb", runA), 3L -> fluent("ucc", "udd"),
      5L -> fluent("uee", "uff", runB), 7L -> fluent("ugg", "uhh"))
    for (md5 <- Seq(true, false)) {
      val rejected = IngestPipeline.waveFates((seed ++ batch).toDF("doc_id", "text"),
          "doc_id", "text", nWaves = 2, maxAvgNllFrac = 0.98, L = 40, w = 8,
          minShared = 1, md5Mode = md5)
        .filter($"reason" === "substring").select("doc_id").as[Long].collect().toSet
      val st = java.nio.file.Files.createTempDirectory("graft_ingest_parity").toString
      val p = graft.stream.StreamSubstringGate.Params(L = 40, w = 8, minShared = 1,
        md5Mode = md5)
      graft.stream.StreamSubstringGate.seedCorpus(seed.toDF("doc_id", "text"), st, p)
      graft.stream.StreamSubstringGate.processBatch(batch.toDF("doc_id", "text"), st, 1L, p)
      val batchIds = batch.map(_._1).toSet
      val paired = graft.stream.StreamSubstringGate.pairs(spark, st)
        .select("id_a", "id_b").as[(Long, Long)].collect()
        .flatMap { case (a, b) => Seq(a, b) }.filter(batchIds).toSet
      assert(rejected == Set(1L, 5L), s"md5Mode=$md5: fixture sanity: $rejected")
      assert(paired == rejected, s"md5Mode=$md5: gate $paired, waveFates $rejected")
    }
  }

  /** Every node of an initial physical plan, with each cached frame's
    * scan expanded into the initial plan that fills the cache.
    */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan.flatMap {
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    })
    case p => Seq(p)
  }

  test("decided id sets plan as broadcast joins in the initial plans") {
    // The decided frames (lmVerdict, exactFailIds, hubs, crossSubIds,
    // innerSubIds, admittedIds, the absorbed sigs and grams) are the
    // checkpoints whose statistics are their stored bytes; a semi/anti
    // join whose build side reads only those is a join against a decided
    // set, and must plan as a broadcast from the start, with no AQE
    // replanning after both sides shuffled.
    val plans = ListBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.sparkPlan }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val run = randText(5, 60)
    // the input's logical estimate is far above the broadcast threshold,
    // as a bench corpus's is (a plain checkpoint of a join keeps the
    // product of its sides' sizes), so only a checkpoint that carries
    // its real size can plan a decided set's join as a broadcast
    val docs = Seq(0L -> seedText, 3L -> s"$seedText $run", 1L -> "zz",
        4L -> fluent("uaa", "ubb"), 7L -> fluent("uaa", "ubb"),
        2L -> fluent("ucc", "udd", run), 5L -> fluent("uee", "uff", run),
        8L -> fluent("ugg", "uhh")).toDF("doc_id", "text")
      .join(spark.range(0, 100000).toDF("doc_id"), "doc_id")
      .localCheckpoint(true)
    assert(docs.queryExecution.optimizedPlan.stats.sizeInBytes >
      SQLConf.get.autoBroadcastJoinThreshold)
    spark.listenerManager.register(listener)
    try {
      IngestPipeline.waveFates(docs, "doc_id", "text", nWaves = 3,
        maxAvgNllFrac = 0.98, L = 40, w = 8, minShared = 1).collect()
      Bridge.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    val stored = spark.sparkContext.getRDDStorageInfo
      .map(i => i.id -> BigInt(i.memSize + i.diskSize)).toMap
    // a checkpoint with no partitions stores no block, so the storage
    // report omits it; it is decided when it is sized 0
    def decided(p: SparkPlan) = p match {
      case r: RDDScanExec => r.logicalLink.exists(l =>
        stored.get(r.rdd.id).contains(l.stats.sizeInBytes) ||
          (r.rdd.getNumPartitions == 0 && l.stats.sizeInBytes == 0))
      case _ => false
    }
    val idSetJoins = plans.toSeq.flatMap(nodes).collect {
      case j: BaseJoinExec if (j.joinType == LeftSemi || j.joinType == LeftAnti) &&
          j.right.collectLeaves().forall(decided) => j
    }.distinct
    val notBroadcast = idSetJoins.filterNot(_.isInstanceOf[BroadcastHashJoinExec])
    assert(notBroadcast.isEmpty, notBroadcast.mkString("\n"))
    val buildSides = idSetJoins.map(_.right.collectLeaves().map(_.output.map(_.name))).toSet
    assert(Set(Seq(Seq("id", "s1")), Seq(Seq("id")), Seq(Seq("h")), Seq(Seq("id"), Seq("id")))
      .subsetOf(buildSides), buildSides)
    assert(idSetJoins.size >= 2 * 9, idSetJoins.mkString("\n"))
  }
}
