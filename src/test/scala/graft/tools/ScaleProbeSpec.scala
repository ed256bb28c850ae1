package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The fork-per-family probe's record assembly: fragments from child
  * JVMs must splice into one well-formed record, misattributed or
  * malformed fragments must fail loudly (a silently dropped family
  * would read as "probed and fine"), and the breach scan must find
  * exactly the `ok:false` rows. BenchDiffSpec is the sibling
  * discipline for the bench record.
  */
class ScaleProbeSpec extends AnyFunSuite {
  private def frag(name: String, ratio: Double, ok: Boolean) =
    s"""{"base_dir":"/b","x4_dir":"/x","queries":{"$name":{"base_sec":10.000,"x4_sec":${10 * ratio},"ratio":$ratio,"threshold":5.0,"ok":$ok}}}\n"""

  test("fragments splice into one record keyed by family") {
    val json = ScaleProbe.spliceFragments(Seq(
      "fam_a" -> frag("fam_a", 2.1, ok = true),
      "fam_b" -> frag("fam_b", 3.9, ok = true)), "/b", "/x")
    assert(json.startsWith("""{"base_dir":"/b","x4_dir":"/x","queries":{"fam_a":"""))
    assert(json.contains(""""fam_b":{"base_sec":"""))
    assert(json.endsWith("}}"))
    // well-formed: brace-balanced
    assert(json.count(_ == '{') == json.count(_ == '}'))
  }

  test("a fragment carrying the wrong family fails loudly") {
    val e = intercept[IllegalArgumentException] {
      ScaleProbe.spliceFragments(Seq("fam_a" -> frag("fam_OTHER", 2.0, ok = true)), "/b", "/x")
    }
    assert(e.getMessage.contains("fam_a"))
  }

  test("a malformed fragment (no queries object) fails loudly") {
    intercept[IllegalArgumentException] {
      ScaleProbe.spliceFragments(Seq("fam_a" -> "{\"oops\":1}"), "/b", "/x")
    }
  }

  test("breach scan names the family even when the FIRST fragment breaches") {
    // unanchored, [^}]* used to start its match at the top-level
    // "queries":{ key and report the breach name as "queries"
    val json = ScaleProbe.spliceFragments(Seq(
      "fam_bad" -> frag("fam_bad", 7.5, ok = false),
      "fam_ok" -> frag("fam_ok", 2.0, ok = true)), "/b", "/x")
    assert(ScaleProbe.breaches(json).map(_._1) == Seq("fam_bad"))
  }

  test("gate: wall under threshold passes outright") {
    assert(ScaleProbe.gatePass(wallRatio = 4.2, workRatio = 9.0, thr = 5.0))
  }

  test("gate: weather-inflated wall is rescued by linear work within 2x") {
    // the r9 motivation: wall flapped ±20% while task CPU held
    assert(ScaleProbe.gatePass(wallRatio = 6.0, workRatio = 3.9, thr = 5.0))
  }

  test("gate: parallelism collapse (wall >> work) breaches despite linear work") {
    // a plan collapsing to one partition: per-task CPU stays ~linear
    // while wall goes super-linear — the class min(wall, work) masked
    assert(!ScaleProbe.gatePass(wallRatio = 20.0, workRatio = 4.0, thr = 5.0))
  }

  test("gate: both ratios over threshold breaches") {
    assert(!ScaleProbe.gatePass(wallRatio = 8.0, workRatio = 7.0, thr = 5.0))
  }

  test("default outputs land under target/, never on a committed record") {
    Seq(ScaleProbe.DefaultOut, PlanDump.DefaultDir).foreach { p =>
      assert(java.nio.file.Paths.get(p).normalize.startsWith("target"), p)
    }
  }

  test("breach scan finds exactly the ok:false rows") {
    val json = ScaleProbe.spliceFragments(Seq(
      "fam_ok" -> frag("fam_ok", 2.0, ok = true),
      "fam_bad" -> frag("fam_bad", 7.5, ok = false),
      "fam_ok2" -> frag("fam_ok2", 4.9, ok = true)), "/b", "/x")
    val bs = ScaleProbe.breaches(json)
    assert(bs.map(_._1) == Seq("fam_bad"))
    assert(bs.head._2 == "7.5" && bs.head._3 == "5.0")
  }
}
