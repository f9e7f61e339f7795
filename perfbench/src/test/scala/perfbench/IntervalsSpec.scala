package perfbench

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {

  test("overlapping jobs count once; gap is the uncovered rest of the window") {
    // two concurrent AQE jobs, one nested job, one after a driver pause
    val jobs = Seq(Interval(100, 400), Interval(150, 350), Interval(200, 300), Interval(600, 700))
    assert(Intervals.unionLength(jobs, 0, 1000) == 400)
    assert(Intervals.driverGapMs(jobs, 0, 1000) == 600)
    // summing durations, as a per-job profile does, would claim 700 ms
    assert(jobs.map(j => j.end - j.start).sum == 700)
  }

  test("jobs are clipped to the window") {
    val jobs = Seq(Interval(-50, 50), Interval(80, 120), Interval(90, 500))
    assert(Intervals.unionLength(jobs, 0, 100) == 70)
    assert(Intervals.driverGapMs(jobs, 0, 100) == 30)
    assert(Intervals.unionLength(Nil, 0, 100) == 0)
  }

  test("on random job streams, union <= wall and gap >= 0") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 2000) {
      val lo = rnd.nextInt(1000).toLong
      val hi = lo + 1 + rnd.nextInt(5000)
      val jobs = Seq.fill(rnd.nextInt(40)) {
        val s = lo - 500 + rnd.nextInt(6000)
        Interval(s, s + rnd.nextInt(2000))
      }
      val union = Intervals.unionLength(jobs, lo, hi)
      val clipped = jobs.map(j => math.max(0L, math.min(j.end, hi) - math.max(j.start, lo)))
      assert(union <= hi - lo)
      assert(union <= clipped.sum)
      assert(union >= clipped.foldLeft(0L)(math.max))
      assert(Intervals.driverGapMs(jobs, lo, hi) >= 0)
    }
  }

  test("the event log attributes jobs to a window by start time, whatever their thread") {
    val log = new EventLog
    def job(id: Int, start: Long, end: Long): Unit = {
      log.onJobStart(SparkListenerJobStart(id, start, Nil))
      log.onJobEnd(SparkListenerJobEnd(id, end, JobSucceeded))
    }
    // the caller's job, a stream-thread micro-batch overlapping it, and
    // a job that starts after the window closes
    job(1, 1000, 1600)
    job(2, 1200, 1900)
    job(3, 2500, 2600)
    val w = log.window(1000, 2000)
    assert(w("jobs") == 2)
    assert(w("job_union_s") == 0.9)
    assert(math.abs(w("driver_gap_s") - 0.1) < 1e-9)
    assert(w("job_union_s") <= 1.0 && w("driver_gap_s") >= 0)
  }
}
