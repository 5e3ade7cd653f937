package graft

import graft.model.MetricStatus
import graft.model.MetricStatus._
import org.scalatest.funsuite.AnyFunSuite

/** Restricted transition graph goldens (reference MetricStatus.java:48-103). */
class StatusSpec extends AnyFunSuite {

  test("visibility") {
    assert(Simple.visible && Approved.visible)
    assert(!Ban.visible && !AutoBan.visible && !Hidden.visible && !AutoHidden.visible)
  }

  test("handmade") {
    assert(Approved.handmade && Ban.handmade && Hidden.handmade)
    assert(!Simple.handmade && !AutoHidden.handmade && !AutoBan.handmade)
  }

  test("restricted edges keep the old status") {
    assert(selectStatus(Ban, Simple) == Ban)
    assert(selectStatus(Ban, AutoHidden) == Ban)
    assert(selectStatus(AutoBan, Simple) == AutoBan)
    assert(selectStatus(Hidden, AutoHidden) == Hidden)
    assert(selectStatus(Approved, Simple) == Approved)
    assert(selectStatus(Approved, AutoHidden) == Approved)
  }

  test("allowed edges move to the new status") {
    assert(selectStatus(Ban, Approved) == Approved)
    assert(selectStatus(Ban, Hidden) == Hidden)
    assert(selectStatus(Simple, Ban) == Ban)
    assert(selectStatus(Simple, AutoHidden) == AutoHidden)
    assert(selectStatus(Hidden, Simple) == Simple)
    assert(selectStatus(AutoHidden, Simple) == Simple)
    assert(selectStatus(Simple, Simple) == Simple)
  }

  test("round-trip names") {
    MetricStatus.all.foreach(s => assert(MetricStatus.of(s.name) == s))
  }
}
