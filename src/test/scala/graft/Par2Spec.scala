package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.par2` failure paths: a failure on either side surfaces as
  * its own exception, and a failing inline side never leaves the async
  * side running detached. */
class Par2Spec extends AnyFunSuite {

  test("inline side fails: the async side is awaited, then the inline error rethrown") {
    val bDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      SparkEntry.par2[Int, Int](throw new IllegalStateException("a failed"),
        { Thread.sleep(300); bDone.set(true); 2 })
    }
    assert(e.getMessage == "a failed")
    assert(bDone.get, "par2 returned while the async side was still running")
  }

  test("async side fails: its own exception surfaces, not CompletionException") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.par2[Int, Int](1, throw new IllegalArgumentException("b failed"))
    }
    assert(e.getMessage == "b failed")
  }

  test("both sides fail: the inline error wins and carries the async one") {
    val e = intercept[IllegalStateException] {
      SparkEntry.par2[Int, Int](throw new IllegalStateException("a failed"),
        throw new IllegalArgumentException("b failed"))
    }
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("b failed"))
  }
}
