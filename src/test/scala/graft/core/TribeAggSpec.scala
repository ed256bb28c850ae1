package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class TribeAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture = {
    val tribe = Seq(10, 20, 30).toDF("t_id")
    val member = Seq((1, 10), (2, 10), (3, 10), (4, 20)).toDF("m_id", "m_tribe")
    val delta = Seq(1, 3).toDF("changed_id") // "player_new" analog
    (tribe, member, delta)
  }

  test("tribeActive: members, null-skipping active count, sqrt normalizer") {
    val (tribe, member, delta) = fixture
    val got = TribeAgg.tribeActive(tribe, member, delta, "t_id", "m_tribe", "m_id")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(10) == ((3L, 2L, math.pow(3, 0.5))))
    assert(got(20) == ((1L, 0L, 1.0)))
    assert(!got.contains(30)) // inner join: tribes without members drop (post_update.py:33-35)
  }

  test("cold and warm stats shapes agree on sums (incl. 1:N facts)") {
    val (tribe, member, delta) = fixture
    // member 1 carries TWO fact rows: cold counts must not inflate
    val facts = Seq((1, 100.0), (1, 50.0), (2, 10.0), (3, 1.0), (4, 5.0)).toDF("p_id", "stat")
    val active = TribeAgg.tribeActive(tribe, member, delta, "t_id", "m_tribe", "m_id")
    val warm = TribeAgg.tribeStats(tribe, member, facts, delta,
      "t_id", "m_tribe", "m_id", "p_id", Seq("stat"), Some(active))
    val cold = TribeAgg.tribeStats(tribe, member, facts, delta,
      "t_id", "m_tribe", "m_id", "p_id", Seq("stat"), None)
    val w = warm.collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    val c = cold.collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(w.keySet == c.keySet)
    w.keySet.foreach(k => assert(math.abs(w(k) - c(k)) < 1e-12))
    assert(math.abs(w(10) - 161.0 / math.pow(3, 0.5)) < 1e-12)
    // counts must come from the bridge, not the fanned-out join
    val cm = cold.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(cm(10) == 3L)
  }
}
