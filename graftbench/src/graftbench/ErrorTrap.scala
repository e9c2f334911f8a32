package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/**
 * Counts ERROR log events while armed (the timed region); each one is a
 * failed op. One class is benign: DAGScheduler's "Failed to update
 * accumulator <id>" for an accumulator the driver already garbage
 * collected — a late task-completion event racing driver GC after the
 * action returned. It is benign only while armed and only when
 * AccumulatorContext logged its paired "Attempted to access garbage
 * collected accumulator <id>" WARN for the same id first.
 */
final class ErrorTrap extends AbstractAppender("graftbench-error-trap",
    null, null, true, Property.EMPTY_ARRAY) {
  @volatile var armed = false
  val errors = new ConcurrentLinkedQueue[String]
  val benign = new AtomicLong
  private val gcWarned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val GcWarn = "Attempted to access garbage collected accumulator (\\d+)".r.unanchored
  private val AccError = "Failed to update accumulator (\\d+)".r.unanchored

  override def append(e: LogEvent): Unit = if (armed) {
    val msg = e.getMessage.getFormattedMessage
    if (e.getLevel == Level.WARN) msg match {
      case GcWarn(id) if e.getLoggerName.endsWith("AccumulatorContext") => gcWarned.add(id)
      case _ =>
    } else if (e.getLevel.isMoreSpecificThan(Level.ERROR)) msg match {
      case AccError(id) if e.getLoggerName.endsWith("DAGScheduler") && gcWarned.remove(id) =>
        benign.incrementAndGet()
      case _ =>
        errors.add(s"${e.getLoggerName}: $msg" + Option(e.getThrown)
          .map(t => s" [${t.getClass.getName}: ${t.getMessage}]").getOrElse(""))
    }
    ()
  }
}

object ErrorTrap {
  /** Attach a started trap to the root logger at WARN. */
  def install(): ErrorTrap = {
    val trap = new ErrorTrap
    trap.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(trap, Level.WARN, null)
    ctx.updateLoggers()
    trap
  }
}
