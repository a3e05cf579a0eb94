package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for the test suites (one JVM, forked). */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkFixture.session

  val sf: String = "/root/testdata/sf0.001"

  override def afterAll(): Unit = super.afterAll()

  /** `body`'s result and the number of Spark jobs it launched. Job
    * starts reach the status tracker through the listener bus, so a
    * sentinel job in a second group is waited for first: once it is
    * visible, every job `body` started is too. */
  protected def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"measured_${System.nanoTime()}"
    sc.setJobGroup(group, "measured", interruptOnCancel = false)
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(group + "_sentinel", "sentinel", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(group + "_sentinel").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(group + "_sentinel").nonEmpty)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** The path warnings Spark logs while `body` runs: `DataSource`'s
    * `All paths were ignored`, one per read whose only root Spark treats
    * as hidden (a name starting with `_` or `.`), and `FileStreamSink`'s
    * `Assume no metadata directory`, one per read of a path that names
    * no file, such as a glob. */
  protected def hiddenPathWarnings(body: => Any): Seq[String] =
    logged(Seq("org.apache.spark.sql.execution.datasources.DataSource",
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"),
      Seq("All paths were ignored", "Assume no metadata directory"))(body)

  /** The messages the named loggers log while `body` runs that contain
    * one of `patterns`. The appender sits on the root logger: one added
    * to a logger that has no config of its own missed that logger's
    * first events. */
  protected def logged(loggerNames: Seq[String], patterns: Seq[String])(
      body: => Any): Seq[String] = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-test-warnings", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (loggerNames.contains(e.getLoggerName))
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    root.addAppender(appender)
    try body
    finally { root.removeAppender(appender); appender.stop() }
    seen.toArray.map(_.toString)
      .filter(m => patterns.exists(m.contains)).toSeq
  }
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = graft.tools.Session.build(cores = 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
