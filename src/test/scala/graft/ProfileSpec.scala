package graft

import org.scalatest.funsuite.AnyFunSuite

/** Profile's job time is the union of job intervals: AQE runs query
  * stages as concurrent jobs, and a plain sum of their walls exceeded
  * the query wall (a negative "non-stage" remainder). */
class ProfileSpec extends AnyFunSuite {

  test("job time counts each instant once across overlapping jobs") {
    // [0,10) and [5,12) overlap, [12,15) abuts, [20,21) is apart,
    // [7,9) is nested; the unfinished job (end -1) is skipped
    val jobs = Seq((100L, 110L), (105L, 112L), (112L, 115L), (120L, 121L),
      (107L, 109L), (130L, -1L))
    assert(Profile.unionMs(jobs) === 16L)
    assert(Profile.unionMs(Seq.empty) === 0L)
  }

  test("the union never exceeds the span from first start to last end") {
    val jobs = (0 until 50).map(i => (1000L + i * 3, 1000L + i * 3 + 40))
    val span = jobs.map(_._2).max - jobs.map(_._1).min
    assert(Profile.unionMs(jobs) === span)
    assert(Profile.unionMs(jobs) < jobs.map { case (s, e) => e - s }.sum)
  }
}
