package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's contention guard — pinned after the r14 record was
  * polluted by a run that STARTED at 1-minute load 9.65 on a 32-cpu
  * box yet recorded `contended: false` (the old rule tripped only at
  * `load > cpus`), then re-pinned after the r15 record started at
  * load 4.54 — 94% of the 4.8 flag line — so the guard neither
  * waited nor flagged and still carried ~10% drift. TWO TIERS since
  * round 16: the bounded calm-down WAITS down to 0.05 × cpus
  * (waiting is cheap), while the record only FLAGS past 0.15 × cpus
  * (flagging is not).
  */
class BenchGuardSpec extends AnyFunSuite {

  test("contendedAt flags the r14 regime (load 9.65 / 32 cpus) and passes a calm box") {
    // the exact record that slipped through pre-round-15
    assert(Bench.contendedAt(9.65, 32))
    // the builder's clean close run on the same HEAD
    assert(!Bench.contendedAt(0.08, 32))
    // flag threshold = 0.15 x cpus: just-above trips, just-below doesn't
    assert(Bench.contendedAt(4.81, 32))
    assert(!Bench.contendedAt(4.79, 32))
    // background hum of a merely-alive machine stays unflagged
    assert(!Bench.contendedAt(1.0, 32))
    // a failed load sample (-1) never flags
    assert(!Bench.contendedAt(-1.0, 32))
    // scales with the cpu count, not an absolute number
    assert(Bench.contendedAt(1.0, 4))
  }

  test("the wait watermark sits BELOW the flag threshold: the r15 regime (load 4.54) waits even though it would not flag") {
    // the r15 record's exact start: 94% of the flag line — unflagged
    // (correctly: min-of-5 still bounds it) but NOT calm, so the
    // two-tier guard waits it out instead of measuring ~10% hot
    assert(!Bench.contendedAt(4.54, 32))
    assert(!Bench.calmAt(4.54, 32))
    // watermark = 0.05 x cpus (1.6 on the 32-cpu box)
    assert(Bench.calmAt(1.59, 32))
    assert(!Bench.calmAt(1.61, 32))
    // the clean-floor regime is calm
    assert(Bench.calmAt(0.08, 32))
  }

  test("waitForCalm polls until the load drops under the WAIT watermark (not merely the flag threshold), logging each wait") {
    // 4.5 and 3.1 are both under the 4.8 flag line — the pre-r16
    // guard would have recorded immediately; the two-tier guard keeps
    // waiting until the 1.5 sample clears the 1.6 watermark
    val samples = Iterator(9.5, 4.5, 3.1, 1.5)
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    var slept = 0L
    val got = Bench.waitForCalm(() => samples.next(), cpus = 32,
      maxWaitMs = 60000L, pollMs = 10L, sleepFn = slept += _,
      log = logged += _)
    assert(got == 1.5)
    assert(slept == 30L, "three waits before the calm sample")
    assert(logged.size == 3 && logged.forall(_.contains("waiting")))
  }

  test("waitForCalm is bounded: a permanently loaded box returns (still contended) after the deadline") {
    var slept = 0L
    val got = Bench.waitForCalm(() => 20.0, cpus = 32,
      maxWaitMs = 1L, pollMs = 1L,
      sleepFn = ms => { slept += ms; Thread.sleep(2) },
      log = _ => ())
    assert(got == 20.0)
    assert(Bench.contendedAt(got, 32),
      "the caller records contended:true when the wait runs out")
    assert(slept <= 10L, "the wait must respect the deadline")
  }

  test("a calm start never waits, and a failed load sample (-1) never loops") {
    var slept = 0L
    val got = Bench.waitForCalm(() => 0.5, cpus = 32,
      maxWaitMs = 60000L, pollMs = 10000L, sleepFn = slept += _,
      log = _ => ())
    assert(got == 0.5 && slept == 0L)
    var slept2 = 0L
    val got2 = Bench.waitForCalm(() => -1.0, cpus = 32,
      maxWaitMs = 60000L, pollMs = 10000L, sleepFn = slept2 += _,
      log = _ => ())
    assert(got2 == -1.0 && slept2 == 0L)
  }

  test("the shared session confs: AQE on, constraint propagation off, UTC, shuffle partitions = cpus") {
    // reads the list only: getOrCreate in the shared test JVM would set
    // these runtime confs on every later suite's session
    val confs = LocalSpark.confs(7).toMap
    assert(confs("spark.sql.adaptive.enabled") == "true")
    assert(confs("spark.sql.constraintPropagation.enabled") == "false")
    assert(confs("spark.sql.session.timeZone") == "UTC")
    assert(confs("spark.sql.shuffle.partitions") == "7")
  }
}
