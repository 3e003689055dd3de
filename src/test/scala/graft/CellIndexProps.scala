package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.index.CellIndex

/** Pure ScalaCheck properties (sbt runs Properties natively — no
  * scalatest bridge in the offline cache). */
object CellIndexProps extends Properties("CellIndex") {

  private val lon = Gen.chooseNum(-179.999, 179.999)
  private val lat = Gen.chooseNum(-89.999, 89.999)
  private val lvl = Gen.chooseNum(1, CellIndex.MaxLevel)

  property("encode level round-trips") = forAll(lon, lat, lvl) { (x, y, l) =>
    CellIndex.level(CellIndex.cellId(x, y, l)) == l
  }

  property("parent chain == direct coarse encode") = forAll(lon, lat, lvl) { (x, y, l) =>
    val id = CellIndex.cellId(x, y, l)
    val p = Gen.chooseNum(0, l).sample.getOrElse(0)
    Iterator.iterate(id)(CellIndex.parent).drop(l - p).next() == CellIndex.cellId(x, y, p)
  }

  property("neighbors at ring 1 differ by <=1 in each axis") =
    forAll(lon, lat, Gen.chooseNum(2, 20)) { (x, y, l) =>
      val id = CellIndex.cellId(x, y, l)
      CellIndex.ring(id, 1).forall { n =>
        math.abs(CellIndex.xOf(n) - CellIndex.xOf(id)) <= 1 &&
          math.abs(CellIndex.yOf(n) - CellIndex.yOf(id)) <= 1 && n != id
      }
    }

  property("cover of a point's own envelope contains the point's cell") =
    forAll(lon, lat, Gen.chooseNum(2, 14)) { (x, y, l) =>
      val id = CellIndex.cellId(x, y, l)
      val env = CellIndex.envelope(id)
      CellIndex.coverBBox(env.getMinX, env.getMaxX, env.getMinY, env.getMaxY, l).contains(id)
    }

  property("winding: polygon centroid of a triangle is inside") =
    forAll(Gen.chooseNum(-170.0, 170.0), Gen.chooseNum(-80.0, 80.0),
           Gen.chooseNum(0.1, 5.0)) { (cx, cy, r) =>
      val ring = Array(cx - r, cy - r, cx + r, cy - r, cx, cy + r)
      CellIndex.windingContains(ring, (cx - r + cx + r + cx) / 3, (cy - r + cy - r + cy + r) / 3)
    }

  property("winding: far-away point is outside") =
    forAll(Gen.chooseNum(-80.0, 80.0), Gen.chooseNum(-40.0, 40.0)) { (cx, cy) =>
      val ring = Array(cx - 1, cy - 1, cx + 1, cy - 1, cx, cy + 1)
      !CellIndex.windingContains(ring, cx + 50, cy)
    }
}
