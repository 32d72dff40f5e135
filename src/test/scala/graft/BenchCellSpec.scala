package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-cell summary: the numbers every artifact's `cells` map
  * carries next to the per-cell min. */
class BenchCellSpec extends AnyFunSuite {
  import Bench.Cell

  test("median at odd and even n; min is the smallest sample") {
    assert(Cell.of(Seq(3.0, 1.0, 2.0)) === Cell(1.0, 2.0, 3, 1.0))
    val even = Cell.of(Seq(4.0, 1.0, 3.0, 2.0))
    assert(even.median === 2.5 && even.min === 1.0 && even.n === 4)
  }

  test("spread is (max - min) / median; one sample has spread 0") {
    val c = Cell.of(Seq(1.0, 1.2, 1.1))
    assert(math.abs(c.spread - 0.2 / 1.1) < 1e-12)
    assert(Cell.of(Seq(2.5)) === Cell(2.5, 2.5, 1, 0.0))
  }

  test("failed (-1) samples are excluded; an all-failed cell reports -1") {
    assert(Cell.of(Seq(2.0, -1.0)) === Cell(2.0, 2.0, 1, 0.0))
    assert(Cell.of(Seq(-1.0)) === Cell(-1.0, -1.0, 0, 0.0))
    assert(Cell.of(Seq.empty) === Cell(-1.0, -1.0, 0, 0.0))
  }
}
