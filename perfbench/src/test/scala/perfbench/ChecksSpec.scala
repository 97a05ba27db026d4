package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own correctness checks must catch every fault they
  * exist for: a dropped, duplicated or altered message, an unacked
  * input, a stray output, and a wrong or unrecorded result hash. */
class ChecksSpec extends AnyFunSuite {
  private val inputs = Payload.backlog(new java.util.Random(7L), 100L, 50)
  private val good = inputs.map(_.expected)

  test("a complete, exact, fully acked output passes") {
    val c = Checks.stream(inputs, good, inputs.size)
    assert(c.failed == 0 && c.attempted == 50, c.describe)
  }

  test("output order does not matter") {
    assert(Checks.stream(inputs, good.reverse, inputs.size).failed == 0)
  }

  test("a dropped message fails") {
    val c = Checks.stream(inputs, good.patch(10, Nil, 1), inputs.size)
    assert(c.failed == 1 && c.missing == 1, c.describe)
  }

  test("a duplicated message fails") {
    val c = Checks.stream(inputs, good :+ good(3), inputs.size)
    assert(c.failed == 1 && c.duplicated == 1, c.describe)
  }

  test("an altered message fails") {
    val bad = good(5).clone()
    bad(bad.length - 3) = (bad(bad.length - 3) + 1).toByte
    val c = Checks.stream(inputs, good.updated(5, bad), inputs.size)
    assert(c.failed == 1 && c.wrong == 1, c.describe)
  }

  test("input not acked to its end fails the unacked messages") {
    val c = Checks.stream(inputs, good, inputs.size - 4)
    assert(c.failed == 4 && c.unacked == 4, c.describe)
  }

  test("an output no input produced fails") {
    val stray = Msg(999999L, 0L, "stray").expected
    val c = Checks.stream(inputs, good :+ stray, inputs.size)
    assert(c.failed == 1 && c.unknown == 1, c.describe)
  }

  test("the output is the transform's to_json form") {
    assert(new String(Msg(1L, 2L, "ab c").expected, "UTF-8") ==
      """{"id":1,"due":2,"text":"AB C","len":4}""")
    assert(Payload.idOf(Msg(42L, 7L, "x").bytes) == 42L)
  }

  test("a wrong or unrecorded result hash fails") {
    val fp = Checks.fingerprint(3L, 0x1234L, 99L)
    assert(Checks.hashOk(Some(fp), fp))
    assert(!Checks.hashOk(Some(fp), Checks.fingerprint(3L, 0x1235L, 99L)))
    assert(!Checks.hashOk(Some(fp), Checks.fingerprint(4L, 0x1234L, 99L)))
    assert(!Checks.hashOk(None, fp))
  }

  test("the steady schedule is fixed by the seed") {
    val a = Steady.schedule(5L, 1.0)
    assert(a == Steady.schedule(5L, 1.0))
    assert(a != Steady.schedule(6L, 1.0))
    assert(a.size > 1500 && a.size < 2500)
    assert(a.map(_.dueMicros) == a.map(_.dueMicros).sorted)
  }

  test("backlog slope") {
    assert(math.abs(Steady.slope(Seq(0.0 -> 10.0, 1.0 -> 30.0, 2.0 -> 50.0)) - 20.0) < 1e-9)
    assert(Steady.slope(Seq(0.0 -> 5.0)) == 0.0)
  }

  test("self time subtracts the union of direct children") {
    val spans = Seq(Span(1, "root", "t", 0, 0, 100), Span(2, "a", "t", 1, 10, 40),
      Span(3, "b", "t", 1, 30, 60), Span(4, "c", "t", 2, 15, 20),
      Span(5, "late", "t", 1, 90, 130))
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 5)
    assert(self(5) == 40)
  }
}
