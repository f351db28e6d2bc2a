package graft

import java.util.concurrent.CountDownLatch
import org.scalatest.funsuite.AnyFunSuite

/** Frames.overlap failure-path contract (r18 verdict #4): if chain `b`
  * throws while `a` is in flight, `a` must still be awaited before the
  * failure propagates — otherwise a's jobs keep running orphaned
  * against scratch dirs and a's own failure is never observed. The
  * wait is bounded, so a wedged `a` cannot hang the caller.
  */
class FramesSpec extends AnyFunSuite {

  test("overlap: b's failure waits for a and rethrows b") {
    val aDone = new CountDownLatch(1)
    val aStarted = new CountDownLatch(1)
    val ex = intercept[RuntimeException] {
      Frames.overlap {
        aStarted.countDown()
        Thread.sleep(200)
        aDone.countDown()
        42
      } {
        aStarted.await()
        throw new RuntimeException("b failed")
      }
    }
    assert(ex.getMessage == "b failed")
    // the contract: a was awaited BEFORE the rethrow, not left running
    assert(aDone.getCount == 0, "chain a must have completed before rethrow")
  }

  test("overlap: when both fail, b's failure carries a's as suppressed") {
    val ex = intercept[RuntimeException] {
      Frames.overlap[Int, Int] {
        Thread.sleep(100)
        throw new IllegalStateException("a failed")
      } {
        throw new RuntimeException("b failed")
      }
    }
    assert(ex.getMessage == "b failed")
    assert(ex.getSuppressed.exists(_.getMessage.contains("a failed")),
      s"a's failure must surface as suppressed, got " +
        ex.getSuppressed.map(_.getMessage).mkString(","))
  }

  test("overlap: a's failure still observed when b succeeds") {
    val ex = intercept[IllegalStateException] {
      Frames.overlap[Int, Int] { throw new IllegalStateException("a failed") } { 7 }
    }
    assert(ex.getMessage == "a failed")
  }

  test("overlap: a wedged a is abandoned within the bound and b's failure surfaces") {
    import scala.concurrent.duration._
    val hold = new CountDownLatch(1)
    val t0 = System.nanoTime()
    try {
      val ex = intercept[RuntimeException] {
        Frames.overlapWithin(300.millis) { hold.await(); 1 } {
          throw new RuntimeException("b failed")
        }
      }
      val waited = (System.nanoTime() - t0) / 1e9
      assert(ex.getMessage == "b failed")
      assert(waited < 10.0, s"returned after $waited s, bound was 0.3 s")
      assert(ex.getSuppressed.exists(_.getMessage.contains("abandoned")),
        s"b's failure must note that a was abandoned, got " +
          ex.getSuppressed.map(_.getMessage).mkString(","))
    } finally hold.countDown()
  }

  test("overlap: an interrupted wait on a keeps the caller's interrupt flag") {
    val hold = new CountDownLatch(1)
    try {
      val ex = intercept[RuntimeException] {
        Frames.overlap { hold.await(); 1 } {
          Thread.currentThread().interrupt()
          throw new RuntimeException("b failed")
        }
      }
      val flagged = Thread.interrupted() // reads AND clears the flag
      assert(ex.getMessage == "b failed")
      assert(ex.getSuppressed.exists(_.isInstanceOf[InterruptedException]))
      assert(flagged, "the interrupt flag must be set again")
    } finally hold.countDown()
  }

  test("overlap: success path returns both results") {
    assert(Frames.overlap { 1 } { "x" } == ((1, "x")))
  }
}
