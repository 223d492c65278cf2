package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LoadGenSpec extends AnyFunSuite {
  test("a stall in one request shows in the latency of the requests queued behind it") {
    val stallMs = 400L
    val samples = LoadGen.run(rate = 100.0, count = 20, workers = 1) { i =>
      if (i == 5) Thread.sleep(stallMs)
      i
    }
    assert(samples.map(_.index) == (0 until 20))
    assert(samples.forall(_.result.isRight))
    // request 6 was due 10 ms after request 5 and waited out the stall
    assert(samples(6).latencyMs >= stallMs - 20)
    assert(samples(6).queueWaitMs >= stallMs - 20)
    // the backlog drains one request at a time, so later ones wait less
    assert(samples(19).latencyMs >= stallMs - 20 - 14 * 10 - 20)
    assert(samples.take(5).forall(_.latencyMs < stallMs / 2))
    // the generator itself kept its schedule
    assert(samples.map(_.lateMs).max < 50)
  }

  test("a stop signal ends the stream and keeps what was sent") {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t0 = System.nanoTime()
    val samples = LoadGen.run(rate = 100.0, count = 1000, workers = 2, () => stop.get) { i =>
      if (i == 4) stop.set(true)
      i
    }
    assert((System.nanoTime() - t0) / 1e9 < 2.0)
    assert(samples.size >= 5 && samples.size < 20)
    assert(samples.map(_.index) == samples.indices)
    assert(samples.forall(_.result.isRight))
  }

  test("a failing request is recorded and the stream goes on") {
    val samples = LoadGen.run(rate = 200.0, count = 10, workers = 2) { i =>
      if (i == 3) throw new IllegalStateException("boom")
      i * 2
    }
    assert(samples(3).result.isLeft)
    assert(samples.filter(_.index != 3).forall(s => s.result == Right(s.index * 2)))
  }
}
