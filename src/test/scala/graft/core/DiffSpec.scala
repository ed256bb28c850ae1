package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The CDC diff algebra invariants (SURVEY.md §5.2):
  *  - round trip: diffApply(diff(i, e), i) == e
  *  - diff(a, a) classifies everything unchanged
  *  - kinds partition the key space
  */
class DiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val key = Seq("id")
  private val cols = Seq("v", "w")

  private def df(rows: (Int, String, Double)*) =
    rows.toDF("id", "v", "w")

  test("classify: changed/new/deleted/unchanged") {
    val internal = df((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0))
    val external = df((1, "a", 1.0), (2, "B", 2.0), (4, "d", 4.0))
    val kinds = Diff.classify(internal, external, key, cols)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(kinds == Map(1 -> "unchanged", 2 -> "changed", 3 -> "deleted", 4 -> "new"))
  }

  test("diff of a table with itself is all unchanged") {
    val a = df((1, "a", 1.0), (2, "b", 2.0))
    val kinds = Diff.classify(a, a, key, cols).select("kind").distinct().collect()
    assert(kinds.map(_.getString(0)).toSeq == Seq("unchanged"))
  }

  test("round trip: apply(diff(i, e), i) == e on the lineitem fixture") {
    val e = graft.queries.Fixture.external(spark, TestSpark.Sf)
    val i = graft.queries.Fixture.internal(spark, TestSpark.Sf)
    val applied = Diff.diffApply(i, e, graft.queries.Fixture.Key, graft.queries.Fixture.DataCols)
    assert(applied.exceptAll(e).isEmpty && e.exceptAll(applied).isEmpty)
  }

  test("null-position signatures do not collide") {
    val a = Seq((1, null.asInstanceOf[String], "x")).toDF("id", "v", "w")
    val b = Seq((1, "x", null.asInstanceOf[String])).toDF("id", "v", "w")
    val sa = a.select(Signatures.md5Sig(Seq(col("v"), col("w")))).first().getString(0)
    val sb = b.select(Signatures.md5Sig(Seq(col("v"), col("w")))).first().getString(0)
    assert(sa != sb)
  }

  test("null keys: round trip holds and null-key rows match null-safely") {
    // one null-key row on each side with the same payload: must classify
    // 'unchanged' (not deleted+new), and the round trip must hold
    val internal = Seq((Some(1), "a", 1.0), (None, "n", 5.0))
      .toDF("id", "v", "w")
    val external = Seq((Some(1), "a", 1.0), (None, "n2", 5.0))
      .toDF("id", "v", "w")
    val kinds = Diff.classify(internal, external, key, cols)
      .collect().map(r => (if (r.isNullAt(0)) -99 else r.getInt(0)) -> r.getString(1)).toMap
    assert(kinds == Map(1 -> "unchanged", -99 -> "changed"))
    val applied = Diff.diffApply(internal, external, key, cols)
    assert(applied.exceptAll(external).isEmpty && external.exceptAll(applied).isEmpty)
    // the changed null-key row's OLD version must land in the changelog:
    // captureOld joins null-safely like the rest of the algebra, or the
    // upsert overwrites it with no history trail
    val changed = Diff.classify(internal, external, key, cols)
      .filter(col("kind") === "changed")
    val old = Changelog.captureOld(internal, changed, key).collect()
    assert(old.length == 1 && old.head.isNullAt(0) && old.head.getString(1) == "n")
    // the warm pipeline against a signature state: the changed null-key
    // row is classified, logged, replaced and re-signed like any other
    val r = Pipeline.warm(internal, external, key, cols,
      state = Some(Diff.sigTable(internal, key, cols)))
    try {
      val warmKinds = r.kinds.collect()
        .map(r2 => (if (r2.isNullAt(0)) -99 else r2.getInt(0)) -> r2.getString(1)).toMap
      assert(warmKinds == Map(1 -> "unchanged", -99 -> "changed"))
      val logged = r.changelog.collect()
      assert(logged.length == 1 && logged.head.isNullAt(0) && logged.head.getString(1) == "n")
      assert(r.newSnapshot.exceptAll(external).isEmpty && external.exceptAll(r.newSnapshot).isEmpty)
      val wantState = Diff.sigTable(external, key, cols)
      assert(r.newState.exceptAll(wantState).isEmpty && wantState.exceptAll(r.newState).isEmpty)
    } finally r.release()
  }

  test("upsertReplace: new version wins, unmatched rows survive") {
    val old = df((1, "a", 1.0), (2, "b", 2.0))
    val repl = df((2, "B", 9.0), (3, "c", 3.0))
    val out = Diff.upsertReplace(old, repl, key)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((1, "a"), (2, "B"), (3, "c")))
  }

  test("key-set filter: NaN, -0.0, null and string keys match as the <=> joins do") {
    val data = Seq((Some(Double.NaN), 0), (Some(0.0), 1), (Some(-0.0), 2), (None, 3), (Some(1.5), 4))
      .toDF("d", "p")
    val keys = Seq(Tuple1(Some(Double.NaN)), Tuple1(Some(-0.0)), Tuple1(None)).toDF("d")
    val strData = Seq((Some("a"), 0), (Some("A"), 1), (None, 2), (Some(""), 3)).toDF("s", "p")
    val strKeys = Seq(Tuple1(Some("a")), Tuple1(Some(""))).toDF("s")
    for ((d, k, c, semi) <- Seq((data, keys, "d", Seq(0, 1, 2, 3)), (strData, strKeys, "s", Seq(0, 3)))) {
      val ks = Diff.keySet(spark, Seq(k.schema(c).dataType), k.collect().iterator)
      def ps(df: org.apache.spark.sql.DataFrame) = df.select("p").as[Int].collect().sorted.toSeq
      try {
        assert(ps(d.filter(Diff.inKeySet(Seq(c), ks))) == semi)
        assert(ps(Diff.semiJoinChanged(d, k, Seq(c))) == semi)
        assert(ps(d.filter(!Diff.inKeySet(Seq(c), ks))) == ps(Diff.antiJoinDeleted(d, k, Seq(c))))
      } finally ks.release()
    }
  }

  test("key probes of another column type match the join's rows on the driver and joined") {
    // a long beyond int range against int keys, a fractional double against
    // long keys: the join widens both sides, so neither matches, and the
    // probes join; an int probe of long keys widens to the key type, so
    // the key set answers it
    val intKeys = Seq(Some(1), Some(2), None).toDF("k")
    val longProbe = Seq((Some(1L), 0), (Some(4294967297L), 1), (None, 2), (Some(3L), 3)).toDF("p", "i")
    val longKeys = Seq(1L, 2L).toDF("k")
    val doubleProbe = Seq((Some(1.0), 0), (Some(1.5), 1), (Some(2.0), 2), (None, 3)).toDF("p", "i")
    val intProbe = Seq((Some(1), 0), (Some(3), 1), (Some(2), 2), (None, 3)).toDF("p", "i")
    def ps(df: org.apache.spark.sql.DataFrame) = df.select("i").as[Int].collect().sorted.toSeq
    def probe(keys: org.apache.spark.sql.DataFrame, probed: org.apache.spark.sql.DataFrame) = {
      val ks = Diff.keys(keys, Seq("k"))
      try {
        val semi = ks.semi(probed, Seq("p"))
        val filtered = semi.queryExecution.optimizedPlan.collectFirst {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty
        (filtered, ps(semi), ps(ks.anti(probed, Seq("p"))),
          ps(ks.flag(probed, Seq("p"), "f").filter(col("f"))))
      } finally ks.release()
    }
    for ((keys, probed, onDriver) <- Seq((intKeys, longProbe, false), (longKeys, doubleProbe, false),
                                         (longKeys, intProbe, true))) {
      val (filtered, semi, anti, flagged) = probe(keys, probed)
      val (joinFiltered, joinSemi, joinAnti, joinFlagged) =
        TestSpark.withBroadcastThreshold(-1L)(probe(keys, probed))
      assert(filtered == onDriver && !joinFiltered)
      assert(semi == Seq(0, 2) && flagged == semi)
      assert((semi, anti, flagged) == (joinSemi, joinAnti, joinFlagged))
    }
  }
}
