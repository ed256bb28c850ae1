package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.observe.StageMetrics
import org.apache.spark.sql.internal.SQLConf
import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("exactFlags: duplicates flagged, min id kept") {
    val docs = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa"))
      .toDF("doc_id", "text")
    val got = Dedup.exactFlags(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1))
  }

  test("ngram_shingles native kernel: parity with the interpreted HOF form on fixture docs") {
    val docs = graft.core.Tables.load(spark, TestSpark.Sf, "documents")
      .select("text")
      .unionByName(Seq("", "a b", "a b  c d").toDF("text"))
    val ws = split(col("text"), " ")
    val hof = when(size(ws) >= 3,
      transform(sequence(lit(1), size(ws) - 2), i =>
        concat_ws(" ", element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))))
      .otherwise(array().cast("array<string>"))
    val mismatches = docs.select(
        graft.functions.text.ngram_shingles(col("text"), 3).as("a"), hof.as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(mismatches == 0)
  }

  test("composeSignals: cross-signal groups merge, singletons drop out, edges stay linear") {
    // signal A (e.g. text LSH): {1,2} share a cluster, rest self-labeled
    val a = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 5L))
      .toDF("id", "label")
    // signal B (e.g. image aHash): {2,3} share a group, {4} alone
    val b = Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 4L), (5L, 5L))
      .toDF("id", "label")
    val cc = Dedup.composeSignals(Seq(a, b))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1-2 (A) and 2-3 (B) chain into one component labeled by min id 1;
    // 4 and 5 are in no non-trivial group of either signal → absent
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("wordShingles: n-gram count and short-text guard") {
    val df = Seq("a b c d e", "a b").toDF("text")
    val sizes = df.select(size(Dedup.wordShingles(col("text"), 3))).collect().map(_.getInt(0))
    assert(sizes.toSeq == Seq(3, 0))
  }

  test("minhash LSH: identical docs share all bands, disjoint docs none") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words appear in this very sentence here")
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L)._1 != sigs(3L)._1 && sigs(1L)._2 != sigs(3L)._2)
    val pairs = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(docs, "doc_id", "text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash_sig expression: equals the SQL explode+min form, plan is shuffle-free") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "pack my box with five dozen liquor jugs right now"),
      (3L, "a b"), // < 3 words: no shingles -> null signature
      (4L, "sphinx of black quartz judge my vow said the wizard")
    ).toDF("doc_id", "text")
    val k = 8
    // independent re-derivation through Spark built-ins: explode word
    // 3-grams (from a bound token array) -> min(md5('i|'||shingle))
    val tok = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val sh = tok.filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 2), __i -> " +
          "concat_ws(' ', element_at(ws, __i), element_at(ws, __i + 1), element_at(ws, __i + 2)))"))
        .as("sh"))
    val mhAggs = (0 until k).map(i =>
      min(md5(concat(lit(s"$i|"), col("sh")))).as(s"mh_$i"))
    val expected = sh.groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getString)).toMap
    val got = docs.select(col("doc_id"),
        graft.functions.text.minhash_sig(col("text"), 3, k).as("mh"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap
    assert(got(3L) == null)
    for (id <- Seq(1L, 2L, 4L)) assert(got(id) == expected(id), s"doc $id")
    // zero shuffle: the whole signature stage must live inside the scan
    val plan = Dedup.minhashSignatures(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"minhash signatures shuffled:\n$plan")
  }

  test("simhash: identical texts agree, hamming distance is small for near-dups") {
    val df = Seq(
      ("the quick brown fox jumps over the lazy dog", "the quick brown fox jumps over the lazy dog"),
      ("the quick brown fox jumps over the lazy dog", "the quick brown fox jumps over the lazy cat")
    ).toDF("a", "b")
    val dists = df.select(Dedup.hamming(Dedup.simhash64("a"), Dedup.simhash64("b")))
      .collect().map(_.getAs[Number](0).longValue)
    assert(dists(0) == 0L)
    assert(dists(1) < 20L, s"near-dup hamming was ${dists(1)}")
  }

  test("simhashTable agrees with the expression form") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different words appear in this very sentence here"),
      (3L, "spark group query row data slow small filter")
    ).toDF("doc_id", "text")
    val bulk = Dedup.simhashTable(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exprForm = docs.select(col("doc_id"), Dedup.simhash64("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bulk == exprForm)
    // the native form must be map-side only
    val plan = Dedup.simhashTable(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"simhash table shuffled:\n$plan")
  }

  test("simhashNearDupPairs: banded blocking finds exactly the brute-force pairs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today ok"),
      (2L, "the quick brown fox jumps over the lazy dog today yes"), // near-dup of 1
      (3L, "completely different words appear in this very sentence here now"),
      (4L, "the quick brown fox jumps over the lazy dog today ok"),  // exact dup of 1
      (5L, "unrelated content entirely separate from everything else written above")
    ).toDF("doc_id", "text")
    val got = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over all pairs (test-only; the operator must never do this)
    val s = Dedup.simhashTable(docs, "doc_id", "text")
    val brute = s.as("a").join(s.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.hamming(col("a.simhash"), col("b.simhash")).as("d"))
      .filter(col("d") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute)           // pigeonhole: no candidate missed
    assert(got.contains((1L, 4L))) // exact dup: distance 0
  }

  test("simhashMd5Pairs: the oracle-reproducible variant is pigeonhole-complete too") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today ok"),
      (2L, "the quick brown fox jumps over the lazy dog today yes"),
      (3L, "completely different words appear in this very sentence here now"),
      (4L, "the quick brown fox jumps over the lazy dog today ok"),
      (5L, "unrelated content entirely separate from everything else written above")
    ).toDF("doc_id", "text")
    val got = Dedup.simhashMd5Pairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val s = Dedup.simhashMd5Table(docs, "doc_id", "text")
    val brute = s.as("a").join(s.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.hamming(col("a.simhash60"), col("b.simhash60")).as("d"))
      .filter(col("d") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute)
    assert(got.contains((1L, 4L)))
    // signatures stay within 60 bits (the sign reassembly must never
    // set bit 60+ — that would silently break the band arithmetic)
    val sigs = s.collect().map(_.getLong(1))
    assert(sigs.forall(v => v >= 0 && v < (1L << 60)))
  }

  test("minhash jaccard estimate tracks true jaccard on fixture pairs") {
    import graft.core.Tables
    val docs = Tables.load(spark, graft.TestSpark.Sf, "documents").limit(200)
    val k = 32
    // truth = TRUE shingle-set jaccard (what MinHash estimates). Pair each
    // doc with a mutated copy of itself (tail words re-appended) so pairs
    // span genuinely high jaccard — consecutive fixture docs share words
    // but almost no 3-shingles (random word order).
    val mutated = docs.select(col("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 40),
        slice(split(col("text"), " "), 1, 40)).as("text2"))
    val sh = docs.join(mutated, "doc_id").select(col("doc_id"),
      Dedup.wordShingles(col("text"), 3).as("sa"),
      Dedup.wordShingles(col("text2"), 3).as("sb"))
    val pairs = sh.select(
      (size(filter(zip_with(
        Dedup.minhash(col("sa"), k), Dedup.minhash(col("sb"), k),
        (x, y) => x === y), m => m)).cast("double") / k).as("est"),
      (size(array_intersect(array_distinct(col("sa")), array_distinct(col("sb")))).cast("double") /
        size(array_union(array_distinct(col("sa")), array_distinct(col("sb"))))).as("truth"))
      .collect().toSeq
    val mae = pairs.map(r => math.abs(r.getDouble(0) - r.getDouble(1))).sum / pairs.length
    assert(mae < 0.15, s"mean abs error $mae over ${pairs.length} pairs")
  }

  test("dupClusters: min-label connected components over pair chains") {
    // chain 1-2, 2-3 and pair 10-11; singleton 99 not in any pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  private def withSQLConf[T](kvs: (String, String)*)(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
  private val broadcastOff = SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key -> "-1"
  private def sortedRows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)

  /** `dupClusters(pairs)` in both regimes: the driver union-find at the
    * default broadcast threshold, label propagation with broadcasting
    * off. Asserts each took its regime and both return the same rows.
    */
  private def bothRegimes(pairs: DataFrame): Seq[org.apache.spark.sql.Row] = {
    val driver = Dedup.dupClusters(pairs)
    val propagated = withSQLConf(broadcastOff)(Dedup.dupClusters(pairs))
    assert(driver.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(!propagated.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(driver.schema == propagated.schema)
    val rows = sortedRows(driver)
    assert(rows == sortedRows(propagated))
    rows
  }

  test("dupClusters: driver union-find and label propagation return the same rows") {
    val rnd = new scala.util.Random(12)
    // disjoint components, one per shape: a 200-node chain over shuffled
    // ids, a star whose centre is not its minimum, a seeded random graph
    // (self-loops and repeated edges included), a lone self-loop, and an
    // edge to a null id
    val chain = rnd.shuffle((1000L until 1200L).toVector)
    val star = (301L to 330L).filter(_ != 315L).map(315L -> _)
    val random = Seq.fill(60)((2000L + rnd.nextInt(40), 2000L + rnd.nextInt(40)))
    val pairs = ((chain.zip(chain.tail) ++ star ++ random :+ (5L -> 5L))
        .map { case (a, b) => (Option(a), Option(b)) } :+ (Some(7L) -> None))
      .toDF("id_a", "id_b")
    val got = bothRegimes(pairs)
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> Option(r.get(1))).toMap
    assert(chain.forall(id => got(Some(id)) == Some(1000L)))
    assert((301L to 330L).forall(id => got(Some(id)) == Some(301L)))
    assert(got(Some(5L)) == Some(5L) && got(Some(7L)) == Some(7L) && got(None) == None)
    // U+FFFF sorts below U+1F600 in UTF-8 (Spark's string order) and
    // above it in UTF-16 (java.lang.String's)
    val strs = bothRegimes(Seq("\uD83D\uDE00" -> "\uFFFF").toDF("id_a", "id_b"))
    assert(strs.map(_.getString(1)).distinct == Seq("\uFFFF"))
  }

  test("dupClusters: a small graph runs no per-round job and leaves no cache behind") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    def persisted() = spark.sparkContext.getPersistentRDDs
    val before = persisted()
    val (_, m) = StageMetrics.measure(spark)(Dedup.dupClusters(pairs).collect())
    // one entry per action: AQE submits a query's stages as jobs of its
    // own, under the query's execution id
    val actions = m.jobs.map(j => j.executionId.fold(s"job ${j.id}")("execution " + _)).distinct
    // the count, the edge collect and the consumer's own job, at most
    assert(actions.size <= 3, actions.mkString("\n"))
    assert((persisted() -- before.keys).isEmpty)
    // propagation leaves only its label checkpoints, which back its result
    val before2 = persisted()
    withSQLConf(broadcastOff)(Dedup.dupClusters(pairs).collect())
    val left = persisted() -- before2.keys
    assert(left.values.forall(_.isCheckpointed), left)
  }

  test("lshDedupClusters: planted near-dups recovered through the full LSH path") {
    // three planted groups: exact dup pair, near-dup pair (one word
    // changed out of 12 → jaccard ≈ 0.85), and an unrelated singleton.
    // Texts are word-distinct so shingle sets are clean.
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val near = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo zulu"
    val docs = Seq(
      (1L, base), (2L, base),                      // exact dups
      (5L, near),                                   // near-dup of 1/2
      (9L, "one two three four five six seven eight nine ten eleven twelve"),
      (10L, "one two three four five six seven eight nine ten eleven thirteen"),
      (42L, "entirely unrelated content with zero overlap whatsoever anywhere present")
    ).toDF("doc_id", "text")
    val got = Dedup.lshDedupClusters(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 1L && got(2L) == 1L, "exact dups must cluster")
    assert(got(5L) == 1L, "near-dup must be recovered via LSH candidates")
    assert(got(9L) == got(10L) && got(9L) == 9L, "second planted group")
    assert(got(42L) == 42L, "unrelated doc stays a singleton")
  }

  test("lshVerifiedPairs: jaccard verification kills low-sim band collisions") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val docs = Seq((1L, base), (2L, base),
      (3L, "unrelated words entirely different from anything else in this corpus")
    ).toDF("doc_id", "text")
    val pairs = Dedup.lshVerifiedPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("wordJaccard: identical=1, disjoint=0") {
    val df = Seq(("a b c", "a b c"), ("a b", "x y")).toDF("a", "b")
    val got = df.select(Dedup.wordJaccard(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(1.0, 0.0))
  }
}
