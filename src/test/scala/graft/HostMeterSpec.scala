package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.HostMeter.Probe

/** The registered quiet-gate verdict at its bounds: foreign busy ≤ 8 %,
  * probe steal ≤ 2 %, run steal ≤ 0.35 %. */
class HostMeterSpec extends AnyFunSuite {
  private val atBounds = Probe(busy = 8.0, idleSteal = 0.0, steal = 2.0)

  test("quiet gate accepts exactly at every bound") {
    assert(HostMeter.quiet(atBounds, 0.35))
    assert(HostMeter.quiet(atBounds))
    assert(HostMeter.quiet(Probe(0.0, 0.0, 0.0), 0.0))
  }

  test("quiet gate rejects anything just above a bound") {
    assert(!HostMeter.quiet(atBounds.copy(busy = Math.nextUp(8.0)), 0.35))
    assert(!HostMeter.quiet(atBounds.copy(steal = Math.nextUp(2.0)), 0.35))
    assert(!HostMeter.quiet(atBounds, Math.nextUp(0.35)))
  }

  test("steal over the idle window does not enter the verdict") {
    assert(HostMeter.quiet(atBounds.copy(idleSteal = 50.0), 0.35))
  }
}
