package perfbench

import org.scalatest.funsuite.AnyFunSuite

class DonkiGenSpec extends AnyFunSuite {

  test("the same seed gives byte-identical payloads, another seed different ones") {
    val a = new DonkiGen(7L, 50)
    val b = new DonkiGen(7L, 50)
    val c = new DonkiGen(8L, 50)
    for (day <- Seq(30, 31, 45)) {
      assert(a.payload(day).getBytes("UTF-8").sameElements(b.payload(day).getBytes("UTF-8")))
      assert(a.payload(day) != c.payload(day))
    }
    assert(a.fetches(30 until 33).map(DonkiGen.render) == (30 until 33).map(a.payload))
  }

  test("each fetch re-delivers the 30-day window and carries the edge rows") {
    val g = new DonkiGen(11L, 200)
    val day = 40
    val fetch = g.fetch(day)
    val ids = fetch.map(_.flrID).toSet
    val previous = g.fetch(day - 1).map(_.flrID).toSet
    val overlap = (ids intersect previous).size.toDouble / ids.size
    assert(overlap > 0.95 && overlap < 0.99, s"overlap $overlap")
    assert(fetch.exists(_.activeRegionNum.isEmpty), "missing activeRegionNum")
    assert(fetch.exists(_.endTime.isEmpty), "null endTime")
    assert(fetch.exists(f => FlareOracle.parseTs(f.beginTime).isEmpty), "malformed beginTime")
    assert(fetch.size > ids.size, "in-batch duplicates")
    // a revision changes the class of a flare an earlier fetch delivered
    val before = g.fetch(day - 10).map(f => f.flrID -> f.classType).toMap
    assert(fetch.exists(f => before.get(f.flrID).exists(_ != f.classType)), "revisions")
    val payload = g.payload(day)
    assert(payload.contains("\"endTime\":null") && payload.contains("not-a-timestamp"))
  }
}
