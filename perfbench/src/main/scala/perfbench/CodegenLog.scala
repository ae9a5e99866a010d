package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}

/** Every codegen compile of a traced run, with the thread that ran it.
  * Spark logs one "Code generated in <ms> ms" line per compile; the
  * global compile counters cannot tell a compile the driver runs while
  * planning from one inside an executor task, which job time covers.
  */
final class CodegenLog {
  final case class Compile(thread: String, startMs: Long, endMs: Long)

  private val Logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val compiles = mutable.ArrayBuffer.empty[Compile]

  private val appender = new AbstractAppender(
      "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case Pattern(ms) =>
        val end = e.getTimeMillis
        CodegenLog.this.synchronized {
          compiles += Compile(e.getThreadName, end - math.round(ms.toDouble), end)
        }
      case _ =>
    }
  }

  /** Route the compile log lines here, and only here. */
  def install(): Unit = {
    appender.start()
    Configurator.setLevel(Logger, Level.INFO)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = ctx.getConfiguration.getLoggerConfig(Logger)
    lc.getAppenders.keySet.forEach(n => lc.removeAppender(n))
    lc.addAppender(appender, Level.INFO, null)
    lc.setAdditive(false)
    ctx.updateLoggers()
  }

  /** Intervals of the compiles the driver ran: on the client thread or
    * the threads AQE plans query stages on, not inside executor tasks. */
  def driverSide: Seq[(Long, Long)] = synchronized {
    compiles.filterNot(_.thread.startsWith("Executor task launch worker"))
      .map(c => (c.startMs, c.endMs)).toSeq
  }
}
