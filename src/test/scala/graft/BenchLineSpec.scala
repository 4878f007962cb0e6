package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's driver contract on the HEADLINE line: the driver keeps
  * only the last ~2000 stdout chars (minus sbt's [success] line) and parses
  * the final JSON line out of that tail. BENCH_r15 went parsed:null because
  * the line outgrew the window; this spec asserts a worst-case-width
  * headline stays under the 1500-char safety budget so lane growth can
  * never silently re-break the contract (round-17, VERDICT item 9).
  */
class BenchLineSpec extends AnyFunSuite {

  test("worst-case headline line fits the 1500-char tail budget") {
    // worst plausible widths: r3() seconds go to 3 decimals and a bench
    // query should never reach 4 digits of seconds; ratios are r2()'d at
    // 2 decimals; csv MB/s r1'd at 1 decimal; failure sentinel is -1.0
    val qNames = SparkEntry.benchQueries.map(_.name)
    val qs = qNames.map(n => "\"" + n + "\":" + 999.999).mkString("{", ",", "}")
    val worstRatio = -99.99
    val sf1Lanes =
      s""""sf1_total":9999.999,"sf1_nested":$worstRatio,"sf1_array":$worstRatio,""" +
        s""""sf1_arraystruct":$worstRatio,"sf1_twolevel":$worstRatio,"sf1_structarray":$worstRatio,""" +
        s""""sf1_elemcontainers":$worstRatio,"sf1_childstructarr":$worstRatio,""" +
        s""""sf1_threelevel":$worstRatio,"""
    val line = Bench.composeHeadline(
      total = 9999.999, qs = qs, failed = 99,
      skipSpeedup = worstRatio, csvMbps = 99999.9, blkRatio = worstRatio,
      dvOverhead = worstRatio, dvFilteredOverhead = worstRatio,
      avRatio = worstRatio,
      laneRatios = Seq.fill(8)(worstRatio),
      sf1LaneJson = sf1Lanes, slotScore = worstRatio,
      sfDir = "/root/testdata/sf0.1")
    assert(line.length < 1500,
      s"headline line ${line.length} chars exceeds the 1500-char budget:\n$line")
    // and it must stay ONE line (the driver parses the last line only)
    assert(!line.contains("\n"))
  }

  test("a lane count other than eight fails with a message that names the lanes") {
    val ex = intercept[IllegalArgumentException] {
      Bench.composeHeadline(
        total = 1.0, qs = "{}", failed = 0,
        skipSpeedup = 1.0, csvMbps = 1.0, blkRatio = 1.0,
        dvOverhead = 1.0, dvFilteredOverhead = 1.0, avRatio = 1.0,
        laneRatios = Seq.fill(7)(1.0),
        sf1LaneJson = "", slotScore = 1.0, sfDir = "sf")
    }
    assert(ex.getMessage.contains("expected 8 columnar lane ratios"))
    assert(ex.getMessage.contains("got 7"))
  }
}
