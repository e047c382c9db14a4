package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Parity

class FlareOracleSpec extends AnyFunSuite {

  private def flare(r: Parity.Flr): Flare =
    Flare(r.flrID, r.classType, r.beginTime, r.peakTime, r.endTime, r.sourceLocation,
      r.activeRegionNum, r.link, r.instruments)

  test("reproduces Parity p2: batch A, batch A again, then batch B gives 7 rows") {
    val a = Parity.batchA.map(flare)
    val b = Parity.batchB.map(flare)
    val t = new FlareOracle.Table
    assert(t.append(a) == 5)
    assert(t.append(a) == 0) // idempotent re-delivery
    assert(t.append(b) == 2) // FLR-005's revision is skipped
    assert(t.size == 7)
    val rows = t.result.map(r => r.flrId -> r).toMap
    assert(rows("2025-05-29T19:46:00-FLR-001").classType == "M3.1")
    assert(rows("2025-05-29T19:46:00-FLR-001").endTime.map(_.toString) ==
      Some("2025-05-29T20:20"))
    assert(t.nullBeginTimes == 1) // the malformed "not-a-timestamp"
    assert(rows("2025-05-26T01:10:00-FLR-001").activeRegionNum.isEmpty)
    assert(rows("2025-05-27T14:02:00-FLR-001").endTime.isEmpty)
  }

  test("in-batch survivor: first by class, then link, then the rest by column name") {
    val base = flare(Parity.batchA.head)
    val rows = Seq(
      base.copy(classType = "M2.0", link = "b"),
      base.copy(classType = "M1.0", link = "z"),
      base.copy(classType = "M1.0", link = "y", activeRegionNum = None),
      base.copy(classType = "M1.0", link = "y", activeRegionNum = Some(1)))
    val survivor = FlareOracle.survivors(rows.map(FlareOracle.project))
    assert(survivor.size == 1)
    assert(survivor.head.link == "y" && survivor.head.activeRegionNum.contains(1))
  }
}
