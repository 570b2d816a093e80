package graft

/** Log capture for specs that assert a degraded path is loud. */
object LogCapture {

  /** WARN lines the `logger` emits while `body` runs, collected until
    * `expect` of them arrived or 20 s passed (observers that log from
    * daemon threads after an action completes need the wait).
    */
  def warnings(logger: String, expect: Int = 0)(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val log = LogManager.getLogger(logger).asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender(s"capture-$logger", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN)
          seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    log.addAppender(app)
    try {
      body
      val deadline = System.nanoTime() + 20000000000L
      while (seen.size < expect && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally {
      log.removeAppender(app)
      app.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }
}
