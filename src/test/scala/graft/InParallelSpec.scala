package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.LlmOps

/** `inParallelAll` waits for every action, rethrows the first failure in
  * argument order and carries every other failure as suppressed. */
class InParallelSpec extends AnyFunSuite {

  test("both actions throw: the first error is rethrown, the second suppressed") {
    val a = new IllegalStateException("a")
    val b = new IllegalArgumentException("b")
    val e = intercept[IllegalStateException](
      LlmOps.inParallelAll(() => throw a, () => throw b))
    assert(e eq a)
    assert(e.getSuppressed.toSeq == Seq(b))
  }

  test("only the second action throws: its error is rethrown") {
    val b = new IllegalArgumentException("b")
    val ran = new AtomicBoolean
    val e = intercept[IllegalArgumentException](
      LlmOps.inParallelAll(() => ran.set(true), () => throw b))
    assert(e eq b)
    assert(ran.get)
  }

  test("every action runs to completion before anything is thrown") {
    val slowSecond = new AtomicBoolean
    intercept[IllegalStateException](LlmOps.inParallelAll(
      () => throw new IllegalStateException("fast"),
      () => { Thread.sleep(300); slowSecond.set(true) }))
    assert(slowSecond.get, "the second action was still running at the throw")
    val slowFirst = new AtomicBoolean
    intercept[IllegalStateException](LlmOps.inParallelAll(
      () => { Thread.sleep(300); slowFirst.set(true) },
      () => throw new IllegalStateException("fast")))
    assert(slowFirst.get, "the first action was still running at the throw")
  }
}
