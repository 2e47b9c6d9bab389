package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.Bench.Rep

/** The bench's CDC level rule and invalid rule, with no Spark session:
  * levels come from the cores the host grants, and no efficiency is
  * computed from a level that was not granted its cores.
  */
class BenchLevelsSpec extends AnyFunSuite {

  test("levels are N = cores/4 and 4N, and a host of fewer than 4 cores has none") {
    assert(Bench.levels(4) == Some((1, 4)))
    assert(Bench.levels(32) == Some((8, 32)))
    assert(Bench.levels(6) == Some((1, 4)))
    assert(Bench.levels(3).isEmpty)
    assert(Bench.levels(1).isEmpty)
  }

  test("a child granted fewer cores than its level is invalid, and no efficiency is computed from it") {
    val lo = Rep(level = 1, cores = 1, eventsPerSec = 40000, wallSec = 25.6, calibMops = 300)
    val hi = Rep(level = 4, cores = 4, eventsPerSec = 120000, wallSec = 8.5, calibMops = 300)
    assert(Bench.best(Seq(lo, hi), 1) == Some(lo))
    assert(Bench.efficiency(Bench.best(Seq(lo, hi), 1), Bench.best(Seq(lo, hi), 4)).exists(e =>
      math.abs(e - 0.75) < 1e-9))

    // the 4-core child was granted 3: its (faster than lo) number is not a 4-core number
    val short = hi.copy(cores = 3)
    assert(!short.valid)
    val reps = Seq(lo, short)
    assert(Bench.best(reps, 4).isEmpty)
    assert(Bench.efficiency(Bench.best(reps, 1), Bench.best(reps, 4)).isEmpty)

    // a child that printed no result is invalid too; best-of-N keeps the granted rep
    val failed = Rep(level = 4, cores = 0, eventsPerSec = 0, wallSec = 0, calibMops = 0)
    assert(Bench.best(Seq(lo, failed, hi), 4) == Some(hi))
    assert(Bench.best(Seq(lo, failed), 4).isEmpty)
  }
}
