package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.Bench.{Obs, summarize}

/** The bench's per-query summary step: a failed observation must never
  * read as a fast time. No Spark session needed. */
class BenchSummarySpec extends AnyFunSuite {

  test("a failed observation is excluded from min, median and rows") {
    val s = summarize(Seq(
      Obs(0.01, None, contended = false),
      Obs(2.0, Some(7L), contended = false),
      Obs(3.0, Some(7L), contended = false))).get
    assert(s.min == 2.0 && s.med == 3.0 && s.rows == 7L)
    assert(s.failedObs == 1 && !s.contended)
  }

  test("a query whose every observation failed is marked failed") {
    assert(summarize(Seq(Obs(0.01, None, contended = false),
      Obs(0.02, None, contended = true))).isEmpty)
  }

  test("min and median are taken over successful observations only") {
    val s = summarize(Seq(
      Obs(0.5, None, contended = false),
      Obs(4.0, Some(1L), contended = false),
      Obs(1.0, Some(1L), contended = false),
      Obs(0.9, None, contended = false),
      Obs(2.0, Some(1L), contended = false))).get
    assert(s.min == 1.0 && s.med == 2.0 && s.failedObs == 2)
    // contended = no clean SUCCESSFUL observation; the clean failure
    // does not count as one, and the median falls back to all successes
    val c = summarize(Seq(
      Obs(1.5, Some(1L), contended = true),
      Obs(0.1, None, contended = false),
      Obs(1.2, Some(1L), contended = true))).get
    assert(c.contended && c.min == 1.2 && c.med == 1.5)
  }
}
