package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The sole-dir rule every run-state oracle relies on, and the fit-once
  * guarantee of [[RunState.getOrFit]]. */
class RunStateSpec extends AnyFunSuite {

  test("sole: Some only while exactly one dir is recorded") {
    val st = new RunState[String]
    assert(st.sole === None, "no dir ran: nothing to inline")
    st.record("/sf/a", "model-a")
    assert(st.sole === Some("model-a"))
    st.record("/sf/a", "model-a2")
    assert(st.sole === Some("model-a2"), "a re-run of one dir replaces it")
    st.record("/sf/b", "model-b")
    assert(st.sole === None, "two dirs: ambiguous, the oracle must omit")
    st.forget("/sf/b")
    assert(st.sole === Some("model-a2"))
  }

  test("getOrFit fits once per dir under concurrent callers") {
    val st = new RunState[Int]
    val fits = new AtomicInteger()
    val callers = 6
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(callers)
    try {
      val results = (0 until callers).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          start.await()
          st.getOrFit("/sf/a") { Thread.sleep(50); fits.incrementAndGet() }
        }
      }))
      start.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)).toSet === Set(1))
      assert(fits.get() === 1, "every caller must share the one fit")
      assert(st.getOrFit("/sf/a")(fits.incrementAndGet()) === 1)
      assert(st.getOrFit("/sf/b")(fits.incrementAndGet()) === 2,
        "a second dir fits its own value")
      assert(st.sole === None)
    } finally pool.shutdownNow()
  }
}
