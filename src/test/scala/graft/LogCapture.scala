package graft

/** Log messages at WARN and above that one log4j logger (and its
  * children) receives while a body runs, newline-joined.
  */
object LogCapture {
  def warnings(loggerName: String)(body: => Unit): String = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val sb = new StringBuilder
    val app = new AbstractAppender("graft-log-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        sb.synchronized { sb.append(e.getMessage.getFormattedMessage).append('\n') }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val lc = cfg.getLoggerConfig(loggerName) match {
      case exact if exact.getName == loggerName => exact
      case _ =>
        val fresh = new LoggerConfig(loggerName, Level.WARN, true)
        cfg.addLogger(loggerName, fresh)
        fresh
    }
    lc.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try { body; sb.synchronized(sb.toString) }
    finally {
      lc.removeAppender(app.getName)
      app.stop()
      ctx.updateLoggers()
    }
  }
}
