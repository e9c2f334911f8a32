package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.LogEvent
import org.apache.logging.log4j.core.impl.Log4jLogEvent
import org.apache.logging.log4j.message.SimpleMessage
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the headline sums the drain and the successful query walls") {
    val (total, failed) = Bench.headline(10.0, Map("q01_a" -> 1.5, "q02_b" -> 2.25))
    assert(total == 13.75)
    assert(failed.isEmpty)
  }

  test("a failed query (-1) is left out of the headline and named as failed") {
    val (total, failed) = Bench.headline(10.0,
      Map("q01_a" -> 1.5, "q03_c" -> -1.0, "q02_b" -> -1.0))
    assert(total == 11.5)
    assert(failed == Seq("q02_b", "q03_c"))
  }

  test("no queries: the headline is the drain alone") {
    assert(Bench.headline(4.0, Map.empty) == ((4.0, Seq.empty)))
  }

  private def event(logger: String, level: Level, msg: String): LogEvent =
    Log4jLogEvent.newBuilder().setLoggerName(logger).setLevel(level)
      .setMessage(new SimpleMessage(msg)).build()
  private def gcWarn(id: Int) = event("org.apache.spark.util.AccumulatorContext", Level.WARN,
    s"Attempted to access garbage collected accumulator $id")
  private def accError(id: Int) = event("org.apache.spark.scheduler.DAGScheduler", Level.ERROR,
    s"Failed to update accumulator $id (org.apache.spark.sql.execution.metric.SQLMetric) " +
      "for task 3")

  /** What the log pipeline does with `e`: the root-logger filter, then
    * (unless it DENYs) the trap's appender. */
  private def log(trap: Bench.ErrorTrap, events: LogEvent*): Unit =
    events.foreach(e => if (!trap.screen(e)) trap.append(e))

  private def armedTrap() = { val t = new Bench.ErrorTrap; t.armed = true; t }

  test("ErrorTrap: an accumulator ERROR after its paired GC WARN is benign") {
    val trap = armedTrap()
    log(trap, gcWarn(7), accError(7))
    assert(trap.benign.get() == 1 && trap.events.isEmpty)
  }

  test("ErrorTrap: an unpaired accumulator ERROR, or one before its WARN, fails the run") {
    val trap = armedTrap()
    log(trap, accError(8))                    // no WARN at all
    log(trap, accError(9), gcWarn(9))         // the WARN comes too late
    log(trap, gcWarn(10), accError(11))       // a WARN for another id
    log(trap, gcWarn(12), accError(12), accError(12)) // one WARN pairs one ERROR
    assert(trap.benign.get() == 1)
    assert(trap.events.size == 4, trap.events)
  }

  test("ErrorTrap: events while unarmed are not counted") {
    val trap = new Bench.ErrorTrap
    log(trap, gcWarn(5), accError(5),
      event("graft.Bench", Level.ERROR, "an ERROR outside the timed region"))
    assert(trap.benign.get() == 0 && trap.events.isEmpty)
    // a WARN seen while unarmed does not pair with a later armed ERROR
    trap.armed = true
    log(trap, accError(5))
    assert(trap.benign.get() == 0 && trap.events.size == 1)
  }
}
