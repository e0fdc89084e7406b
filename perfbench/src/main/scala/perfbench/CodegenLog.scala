package perfbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

/** Sums the whole-stage codegen compile times Spark logs at INFO
  * ("Code generated in N ms"). `CodegenMetrics` counts compilations but
  * keeps their times only in a sampling histogram, so the traced run reads
  * the times from the log instead. Installed only in the traced run; the
  * captured lines go to this appender alone, not to the console.
  */
final class CodegenLog {
  private val loggerName =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val pattern = """Code generated in ([0-9.]+) ms""".r
  private var ms = 0.0

  private val appender = new AbstractAppender("perfbench-codegen", null,
      null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      pattern.findFirstMatchIn(e.getMessage.getFormattedMessage)
        .foreach(m => CodegenLog.this.synchronized(ms += m.group(1).toDouble))
  }

  private def context: LoggerContext =
    LogManager.getContext(false).asInstanceOf[LoggerContext]

  def install(): Unit = {
    appender.start()
    val cfg = new LoggerConfig(loggerName, Level.INFO, false)
    cfg.addAppender(appender, Level.INFO, null)
    context.getConfiguration.addLogger(loggerName, cfg)
    context.updateLoggers()
  }

  def uninstall(): Unit = {
    context.getConfiguration.removeLogger(loggerName)
    context.updateLoggers()
    appender.stop()
  }

  def totalMs: Double = synchronized(ms)
}
