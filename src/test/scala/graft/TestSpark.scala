package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs started while `body` runs on this thread, counted by job
    * group with a listener (the listener bus is asynchronous, so the
    * count is read once it stops changing). */
  def jobsOf(spark: SparkSession)(body: => Unit): Long = jobsAndTaskCpuOf(spark)(body)._1

  /** [[jobsOf]], and the executor CPU (ms) of the tasks those jobs ran. */
  def jobsAndTaskCpuOf(spark: SparkSession)(body: => Unit): (Long, Double) = {
    import org.apache.spark.scheduler._
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          j.stageIds.foreach(stages.add)
          jobs.incrementAndGet(); ()
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null) {
          cpuNs.addAndGet(t.taskMetrics.executorCpuTime); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      var last = (-1L, -1L)
      var stable = 0
      val deadline = System.currentTimeMillis() + 10000
      while (stable < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        val now = (jobs.get(), cpuNs.get())
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get(), cpuNs.get() / 1e6)
  }

  /** Bytes every thread of this JVM read through Hadoop's local
    * `FileSystem` (scheme `file`) while `body` ran: the files a call
    * opened, which Spark's input metrics cannot tell from cached blocks. */
  def localBytesReadOf(body: => Unit): Long = {
    def now = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesRead"))).fold(0L)(_.longValue)
    val before = now
    body
    now - before
  }

  /** Catalyst query executions that finished while `body` ran, counted
    * with a `QueryExecutionListener` ([[actionsOf]]). Counts the whole
    * session: run nothing else concurrently. */
  def queriesOf(spark: SparkSession)(body: => Unit): Long = actionsOf(spark)(body).size.toLong

  /** The action of each Catalyst query execution that finished while
    * `body` ran, in the order the listener saw them: its function name
    * (`collect`, `count`, ...), with " failed" added for a failure. A
    * marker query runs before `body` and one after; the listener bus
    * delivers in order, so what it delivers between the two markers is
    * exactly the executions of `body` (an execution that ended before, its
    * event still queued, comes before the first marker). Sees the whole
    * session: run nothing else concurrently. */
  def actionsOf(spark: SparkSession)(body: => Unit): Seq[String] = {
    val marker = s"queries_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      // touched only on the listener bus's thread
      private var started = false
      private def report(action: String, qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) {
          if (started) done.countDown() else started = true
        } else if (started) { seen.add(action); () }
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = report(f, qe)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = report(s"$f failed", qe)
    }
    spark.listenerManager.register(listener)
    try {
      spark.range(1).toDF(marker).collect()
      body
      spark.range(1).toDF(marker).collect()
      assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS), "marker query never reported")
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[String]).toSeq
  }

  /** Analyzer and optimizer rule executions, process-wide, while `body`
    * runs: the delta of Catalyst's rule-execution metrics. */
  def ruleRunsOf(body: => Unit): Long = {
    val before = org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().numRuns
    body
    org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().numRuns - before
  }

  /** Indylambda closures Spark's `ClosureCleaner` cleaned on this thread
    * while `body` ran, counted from its DEBUG "Cleaning indylambda closure"
    * events by an appender on its logger (the only one the logger writes
    * to, so turning it to DEBUG prints nothing). */
  def closureCleansOf(body: => Unit): Long = {
    ClosureCleans.install
    val thread = Thread.currentThread().getId
    val before = ClosureCleans.of(thread)
    body
    ClosureCleans.of(thread) - before
  }

  private object ClosureCleans {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

    private val counts = new java.util.concurrent.ConcurrentHashMap[Long, java.util.concurrent.atomic.AtomicLong]()
    def of(thread: Long): Long = Option(counts.get(thread)).fold(0L)(_.get)

    lazy val install: Unit = {
      val name = "org.apache.spark.util.ClosureCleaner"
      val appender = new AbstractAppender("graft-closure-cleans", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getMessage.getFormattedMessage.startsWith("Cleaning indylambda closure")) {
            counts.computeIfAbsent(e.getThreadId, _ => new java.util.concurrent.atomic.AtomicLong())
              .incrementAndGet()
            ()
          }
      }
      appender.start()
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val logger = new LoggerConfig(name, Level.DEBUG, false)
      logger.addAppender(appender, Level.DEBUG, null)
      ctx.getConfiguration.addLogger(name, logger)
      ctx.updateLoggers()
    }
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
