package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit pins for Bench's in-run contention judgement (no Spark session,
  * no `/proc` — these are pure functions over fixed texts and samples).
  */
class BenchSpec extends AnyFunSuite {

  // cpu user nice system idle iowait irq softirq steal guest guest_nice
  private def procStat(user: Long, steal: Long): String =
    s"cpu  $user 50 300 9000 20 10 5 $steal 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n"

  // A command name holding ") " must not shift the utime/stime fields.
  private def selfStat(utime: Long, stime: Long, cutime: Long = 0L,
      cstime: Long = 0L): String =
    s"4242 (java (x) y) S 1 4242 4242 0 -1 4194560 10 0 0 0 $utime $stime $cutime $cstime 20 0"

  test("hostLoad: other = busy - self, never negative; steal is its own delta") {
    val a = Bench.parseTicks(procStat(1000, 7), selfStat(40, 20))
    assert(a == Bench.CpuTicks(1000 + 50 + 300 + 10 + 5, 7, 60))
    // Busy grows by 150 ticks, of which this process took 100: 0.5 s other.
    val b = Bench.parseTicks(procStat(1150, 27), selfStat(120, 40))
    val load = Bench.hostLoad(a, b, wallS = 1.0)
    assert(load.otherCpuS == 0.5)
    assert(load.stealS == 0.2)
    assert(load.disturbed)
    // Self read after the machine-wide line: more self than busy is
    // clamped to zero other CPU.
    val c = Bench.parseTicks(procStat(1010, 7), selfStat(70, 20))
    assert(Bench.hostLoad(a, c, 1.0).otherCpuS == 0.0)
    // A kernel without the steal column reads as zero steal.
    assert(Bench.parseTicks("cpu 1 2 3 4 5 6 7\n", selfStat(1, 1)).steal == 0L)
  }

  test("hostLoad: reaped children's CPU counts as this process's own") {
    val a = Bench.parseTicks(procStat(1000, 0), selfStat(40, 20, 30, 10))
    assert(a.self == 40 + 20 + 30 + 10)
    // Busy grows by 150 ticks: 100 in this process, 50 in its children.
    val b = Bench.parseTicks(procStat(1150, 0), selfStat(120, 40, 60, 30))
    val load = Bench.hostLoad(a, b, wallS = 1.0)
    assert(load.otherCpuS == 0.0)
    assert(!load.disturbed)
  }

  test("hostLoad: the 0.5-core disturbed boundary is strict") {
    val a = Bench.parseTicks(procStat(1000, 0), selfStat(0, 0))
    // 50 ticks of other CPU over 1 s: exactly half a core, not disturbed.
    val half = Bench.parseTicks(procStat(1050, 0), selfStat(0, 0))
    assert(!Bench.hostLoad(a, half, 1.0).disturbed)
    assert(Bench.hostLoad(a, half, 0.99).disturbed)
    assert(!Bench.HostLoad(0.25, 0.25, 1.0).disturbed)
    assert(Bench.HostLoad(0.25, 0.26, 1.0).disturbed)
    assert(Bench.HostLoad(0.0, 0.6, 1.0).disturbed)
  }

  test("resample: a disturbed batch re-samples; a stable quiet one does not") {
    // Disturbed re-samples even at the pooled minimum.
    assert(Bench.resample(Vector(1.0, 1.0, 1.0), 1.0, disturbed = true))
    // Undisturbed and within 1.5x of the pooled min: done.
    assert(!Bench.resample(Vector(1.4, 1.4, 1.4), 1.0, disturbed = false))
    assert(!Bench.resample(Vector(1.5, 1.5, 1.5), 1.0, disturbed = false))
    // Over 1.5x but within the 0.2 s floor: done.
    assert(!Bench.resample(Vector(0.3, 0.3, 0.3), 0.15, disturbed = false))
    // Over 1.5x and over the floor: re-sample.
    assert(Bench.resample(Vector(1.6, 1.6, 1.6), 1.0, disturbed = false))
    // The median decides: one slow sample alone does not re-sample.
    assert(!Bench.resample(Vector(5.0, 1.0, 1.1), 1.0, disturbed = false))
    assert(Bench.resample(Vector(5.0, 2.0, 1.0), 1.0, disturbed = false))
  }
}
