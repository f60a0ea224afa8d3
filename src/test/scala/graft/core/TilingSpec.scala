package graft.core

import org.scalatest.funsuite.AnyFunSuite

class TilingSpec extends AnyFunSuite {
  test("cellId matches the SQL-expressible formula") {
    val s = 4.0
    assert(Tiling.cellId(0.0, 0.0, s) ==
      (0L + Tiling.Off) * Tiling.Mul + Tiling.Off)
    assert(Tiling.cellId(-0.1, 0.1, s) ==
      (-1L + Tiling.Off) * Tiling.Mul + Tiling.Off)
    val c = Tiling.cellId(13.0, -9.0, s)
    assert(Tiling.cellIx(c) == 3 && Tiling.cellIy(c) == -3)
  }

  test("block and ring sizes") {
    val c = Tiling.cellId(5.0, 5.0, 1.0)
    def block(r: Int) = Tiling.blockDeltas(r).map(c + _)
    def ring(r: Int) = for {
      dx <- -r to r; dy <- -r to r
      if math.max(math.abs(dx), math.abs(dy)) == r
    } yield Tiling.cellOf(Tiling.cellIx(c) + dx, Tiling.cellIy(c) + dy)
    assert(Tiling.blockDeltas(1).length == 9)
    assert(Tiling.blockDeltas(2).length == 25)
    assert(Tiling.blockDeltas(0).sameElements(Array(0L)))
    assert((block(1).toSet -- block(0).toSet).size == 8)
    assert((block(2).toSet -- block(1).toSet).size == 16)
    assert((block(2).toSet -- block(1).toSet) == ring(2).toSet)
  }

  test("bboxCells covers the bbox") {
    val cells = Tiling.bboxCells(0.5, 0.5, 2.5, 1.5, 1.0)
    assert(cells.length == 6) // 3 x 2
    assert(cells.contains(Tiling.cellId(0.5, 0.5, 1.0)))
    assert(cells.contains(Tiling.cellId(2.5, 1.5, 1.0)))
  }
}
