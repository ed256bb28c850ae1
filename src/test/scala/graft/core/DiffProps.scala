package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.DataFrame
import graft.TestSpark
import graft.queries.Fixture

/** Property-based checks of the diff algebra (SURVEY.md §5.2) over random
  * keyed tables.
  */
class DiffProps extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val key = Seq("id")
  private val cols = Seq("v")

  private val tableGen: Gen[Map[Int, String]] =
    Gen.mapOf(Gen.zip(Gen.choose(0, 30), Gen.alphaStr.map(_.take(4))))

  private def assertHolds(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, res.status.toString)
  }

  test("round trip: apply(diff(i, e), i) == e for random tables") {
    assertHolds(Prop.forAll(tableGen, tableGen) { (i: Map[Int, String], e: Map[Int, String]) =>
      val applied = Diff.diffApply(i.toSeq.toDF("id", "v"), e.toSeq.toDF("id", "v"), key, cols)
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      applied == e
    })
  }

  test("kind counts partition the union of key spaces") {
    assertHolds(Prop.forAll(tableGen, tableGen) { (i: Map[Int, String], e: Map[Int, String]) =>
      val kinds = Diff.classify(i.toSeq.toDF("id", "v"), e.toSeq.toDF("id", "v"), key, cols)
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      val expected = (i.keySet ++ e.keySet).map { k =>
        k -> ((i.get(k), e.get(k)) match {
          case (None, Some(_))              => "new"
          case (Some(_), None)              => "deleted"
          case (Some(a), Some(b)) if a == b => "unchanged"
          case _                            => "changed"
        })
      }.toMap
      kinds == expected
    })
  }

  /** `data`'s `p` values that a filter on the key set of `keys` keeps, and
    * that it drops, equal those of the `<=>` left-semi and left-anti joins.
    */
  private def filtersMatchJoins(data: DataFrame, keys: DataFrame, key: Seq[String]): Boolean = {
    val ks = Diff.keySet(spark, key.map(keys.schema(_).dataType), keys.collect().iterator)
    def ps(df: DataFrame) = df.select("p").as[Int].collect().sorted.toSeq
    try ps(data.filter(Diff.inKeySet(key, ks))) == ps(Diff.semiJoinChanged(data, keys, key)) &&
      ps(data.filter(!Diff.inKeySet(key, ks))) == ps(Diff.antiJoinDeleted(data, keys, key))
    finally ks.release()
  }

  test("key-set filters equal the <=> left-semi and left-anti joins: null keys, two-column keys") {
    // None is a null key; each side starts with one, so a null in the key
    // set meets a null in the data on every draw, and a generated list may
    // add more on either side
    val one = Gen.option(Gen.choose(0, 12))
    assertHolds(Prop.forAll(Gen.listOf(one), Gen.listOf(one)) { (data: List[Option[Int]], keys: List[Option[Int]]) =>
      filtersMatchJoins((None :: data).zipWithIndex.toDF("id", "p"),
        (None :: keys).map(Tuple1(_)).toDF("id"), key)
    })
    // the two-column lineitem key, either column null
    val two = Gen.zip(Gen.option(Gen.choose(1L, 4L)), Gen.option(Gen.choose(1, 3)))
    assertHolds(Prop.forAll(Gen.listOf(two), Gen.listOf(two)) {
      (data: List[(Option[Long], Option[Int])], keys: List[(Option[Long], Option[Int])]) =>
        val Seq(k1, k2) = Fixture.Key
        filtersMatchJoins(((None, None) :: data).zipWithIndex.map { case ((a, b), p) => (a, b, p) }
          .toDF(k1, k2, "p"), ((None, None) :: keys).toDF(k1, k2), Fixture.Key)
    })
    // a key set without the null key keeps the null-key rows out of the
    // semi filter and in the anti filter
    assert(filtersMatchJoins(Seq((None, 0), (Some(1), 1)).toDF("id", "p"),
      Seq(Tuple1(Some(1)), Tuple1(Some(2))).toDF("id"), key))
  }
}
