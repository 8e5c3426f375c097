package graft

/** Host-contention meter: the one quiet gate of graft.Bench and
  * graft.Scale, and the calibration fields of their JSON (and of
  * kgbench's). This container's /proc/stat is the HOST's CPU
  * accounting, so two foreign-load signals are directly measurable
  * rather than inferred from timing variance:
  *
  *  - **foreign busy%**: non-idle share of all host CPUs over an
  *    interval in which THIS process runs nothing — any busy is other
  *    tenants (plus negligible daemon noise).
  *  - **steal%**: hypervisor-stolen share. Steal only accrues while we
  *    have runnable threads, so it is probed DURING a short
  *    multi-thread spin (an idle box shows zero steal even under a
  *    saturated hypervisor) and recorded during each timed pass.
  *
  * [[probe]] takes both signals the way the round-4 protocol
  * registered them (BENCH.md): a 3 s idle window, then a 2 s × 8-thread
  * spin. [[quiet]] is the registered verdict over them: foreign busy
  * ≤ 8 %, probe steal ≤ 2 %, and steal during the timed run ≤ 0.35 %.
  *
  * Why it exists: round 3's scaling-gate failure was diagnosed as host
  * contention (one protocol round measured efficiency 1.032 — four
  * CONCURRENT JVMs each beating the lone JVM, impossible on a quiet
  * host); round 4 measured it (BENCH.md: bursts taxed 4.25–4.68% steal
  * while solos paid ≤1.2%; identical bursts swinging 1.85×). Embedding
  * the same probes in every benchmark JSON makes cross-round
  * comparisons self-describing instead of box-night-dependent.
  *
  * Caveat, measured: beyond ~1%, steal stops predicting the
  * wide-parallelism tax (the remainder is bandwidth-shaped and shows
  * up in the spin TIME, not the steal counter) — report both.
  */
object HostMeter {
  final case class Cpu(busy: Long, steal: Long, total: Long)

  def sample(): Cpu = {
    val parts = scala.util.Using.resource(
      scala.io.Source.fromFile("/proc/stat"))(_.getLines().next())
      .trim.split("\\s+").drop(1).map(_.toLong)
    // fields: user nice system idle iowait irq softirq steal ...
    val idle = parts(3) + (if (parts.length > 4) parts(4) else 0L)
    val steal = if (parts.length > 7) parts(7) else 0L
    Cpu(parts.sum - idle, steal, parts.sum)
  }

  /** (result, busyPct, stealPct) of host CPU over the execution of `f`. */
  def during[A](f: => A): (A, Double, Double) = {
    val a = sample(); val r = f; val b = sample()
    val tot = math.max(1L, b.total - a.total).toDouble
    (r, 100.0 * (b.busy - a.busy) / tot, 100.0 * (b.steal - a.steal) / tot)
  }

  /** Host signals before a timed run: `busy` and `idleSteal` over the
    * idle window, `steal` under the spin. */
  final case class Probe(busy: Double, idleSteal: Double, steal: Double)

  /** The registered pre-run probe: 3 s asleep, then 2 s × 8 threads
    * spinning. */
  def probe(): Probe = {
    val (_, busy, idleSteal) = during(Thread.sleep(3000))
    val (_, _, steal) = during(spin(8, 2000))
    Probe(busy, idleSteal, steal)
  }

  /** The registered verdict: accept iff foreign busy ≤ 8 %, probe steal
    * ≤ 2 % and steal over the timed run ≤ 0.35 % (a gate before any run
    * passes 0). */
  def quiet(p: Probe, runSteal: Double = 0.0): Boolean =
    p.busy <= 8.0 && p.steal <= 2.0 && runSteal <= 0.35

  /** Spin `threads` busy threads for `millis` — the probe load under
    * which steal becomes observable. The mix result is published to a
    * volatile so the JIT cannot eliminate the loop. */
  @volatile private var sink: Long = 0L
  def spin(threads: Int, millis: Long): Unit = {
    val ts = (1 to threads).map { i =>
      new Thread(() => {
        val deadline = System.nanoTime() + millis * 1000000L
        var x = 0x9E3779B97F4A7C15L * i
        while (System.nanoTime() < deadline) {
          var k = 0
          while (k < 4096) { // splitmix64 mix step
            x += 0x9E3779B97F4A7C15L
            var z = x
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
            x ^= z ^ (z >>> 31)
            k += 1
          }
        }
        sink ^= x
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  /** Fixed single-thread spin, returns elapsed MILLISECONDS — an
    * absolute effective-CPU-speed calibration (slower cycles from
    * frequency capping / bandwidth contention show here even when the
    * steal counter is quiet). 2^27 mix steps, sub-second on this box
    * (~0.7 s measured quiet) — compare across runs, not to a constant. */
  def calibSpinMs(steps: Long = 1L << 27): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < steps) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      x ^= z ^ (z >>> 31)
      i += 1
    }
    sink ^= x
    (System.nanoTime() - t0) / 1e6
  }
}
