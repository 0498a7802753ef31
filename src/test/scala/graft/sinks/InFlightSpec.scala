package graft.sinks

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Generated runs of the one bounded, in-order call loop
  * ([[InFlight.ordered]]): random per-call delays, failing calls, limits
  * and consumers that stop early. */
class InFlightSpec extends AnyFunSuite {
  import InFlightSpec._

  test("InFlight.ordered: input order, each input called once, at most `limit` pending, " +
      "failures at their own position, no thread alive after close") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(100).withWorkers(1).withInitialSeed(Seed(SeedValue))
    val result = Test.check(params, Prop.forAll(cases)(runCase))
    assert(result.passed, s"seed $SeedValue: ${Pretty.pretty(result, Pretty.Params(2))}")
  }
}

object InFlightSpec {
  val SeedValue = 20261019L

  /** Per-input call delays (µs), the inputs whose call throws, the
    * limit, and how many outputs the consumer takes before it stops
    * (None: until the input or a failure ends it). */
  final case class Case(delaysUs: Vector[Int], failing: Set[Int], limit: Int, take: Option[Int])

  val cases: Gen[Case] = for {
    n <- Gen.choose(0, 300)
    delays <- Gen.listOfN(n, Gen.frequency(3 -> Gen.const(0), 1 -> Gen.choose(1, 400)))
    failing <- if (n == 0) Gen.const(Set.empty[Int])
               else Gen.frequency(2 -> Gen.const(Set.empty[Int]),
                 1 -> Gen.containerOfN[Set, Int](2, Gen.choose(0, n - 1)))
    limit <- Gen.choose(1, 8)
    take <- Gen.option(Gen.choose(0, n))
  } yield Case(delays.toVector, failing, limit, take)

  private val runs = new AtomicInteger()

  def runCase(c: Case): Prop = {
    val name = s"inflight-prop-${runs.incrementAndGet()}"
    val n = c.delaysUs.length
    val calls = new ConcurrentHashMap[Int, AtomicInteger]()
    val running = new AtomicInteger()
    val peakRunning = new AtomicInteger()
    var pulled = 0
    val in = Iterator.range(0, n).map { i => pulled += 1; i }
    val it = InFlight.ordered(in, c.limit, name) { i =>
      peakRunning.accumulateAndGet(running.incrementAndGet(), math.max)
      calls.computeIfAbsent(i, _ => new AtomicInteger()).incrementAndGet()
      LockSupport.parkNanos(c.delaysUs(i) * 1000L)
      running.decrementAndGet()
      if (c.failing(i)) throw new IllegalStateException(s"call $i failed")
      -i
    }
    val out = ArrayBuffer.empty[Int]
    var failure: Option[String] = None
    var peakPending = 0
    val wanted = c.take.getOrElse(Int.MaxValue)
    try {
      while (out.length < wanted && failure.isEmpty && it.hasNext) {
        try out += it.next()
        catch { case e: IllegalStateException => failure = Some(e.getMessage) }
        peakPending = math.max(peakPending, pulled - out.length)
      }
    } finally it.close()
    val alive = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(s"$name-"))
    val firstFail = (0 until n).find(c.failing).filter(_ < wanted)
    val counts = calls.asScala.map { case (i, k) => i -> k.get }
    ((out.toSeq == out.indices.map(-_)) :| s"outputs out of order: $out") &&
      (out.length == firstFail.getOrElse(math.min(wanted, n))) :| s"${out.length} outputs" &&
      (failure == firstFail.map(i => s"call $i failed")) :| s"failure $failure, expected at $firstFail" &&
      counts.values.forall(_ == 1) :| s"an input was called twice: $counts" &&
      (c.take.nonEmpty || c.failing.nonEmpty || counts.keySet == (0 until n).toSet) :|
        s"called ${counts.size} of $n inputs" &&
      (peakRunning.get <= c.limit) :| s"${peakRunning.get} calls ran at once" &&
      (peakPending <= c.limit) :| s"$peakPending calls pending" &&
      alive.isEmpty :| s"alive after close: ${alive.map(_.getName)}"
  }
}
