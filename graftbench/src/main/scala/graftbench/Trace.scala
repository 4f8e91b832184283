package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call from the benchmark into a graft layer (or a Spark job under
  * one). Times are epoch milliseconds with sub-ms precision. */
final case class Span(
    id: Long, parent: Long, request: Long, name: String, layer: String,
    startMs: Double, endMs: Double, ok: Boolean)

/** Every timed call goes through [[Calls.call]]: it wraps the call in the
  * job group `bench:<workload>:<op>` (request id as the job description),
  * records its latency and its CPU time, and counts attempts and failures.
  * These steps are the same in traced and untraced runs; a traced run
  * additionally keeps a [[Span]] per call and attributes Spark work to it
  * ([[SparkTrace]]).
  *
  * A call's CPU time is the calling thread's CPU time during the call
  * (driver work: planning, code generation, collects) plus the executor
  * CPU time of the Spark tasks its jobs ran ([[TaskCpu]]). It leaves out
  * the JVM's compiler and collector threads, and, on a guest kernel that
  * accounts steal time (CONFIG_PARAVIRT_TIME_ACCOUNTING), the time the
  * hypervisor gives the CPUs to other tenants. */
final class Calls(workload: String, sc: SparkContext) {
  private val lat = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val threadCpu = new ConcurrentLinkedQueue[(Long, String, Long)]() // rid, op, ns
  private val taskCpu = new TaskCpu
  sc.addSparkListener(taskCpu)
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  @volatile var trace: Option[SparkTrace] = None

  /** Latency recorded for a failed call: it misses every latency limit. */
  val FailedMs = 1e9

  def call[A](layer: String, op: String)(body: => A): Option[A] = {
    val rid = Calls.ids.incrementAndGet()
    sc.setJobGroup(s"bench:$workload:$op", rid.toString, interruptOnCancel = false)
    val tr = trace
    tr.foreach(_.open(rid, op))
    attempted.incrementAndGet()
    val c0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    val res =
      try Some(body)
      catch {
        case NonFatal(e) =>
          failed.incrementAndGet()
          System.err.println(s"FAILED $workload:$op: $e")
          None
      } finally sc.clearJobGroup()
    val ns = System.nanoTime() - t0
    if (res.isDefined) threadCpu.add((rid, op, threads.getCurrentThreadCpuTime - c0))
    record(op, if (res.isDefined) ns / 1e6 else FailedMs)
    tr.foreach(_.close(rid, op, layer, t0, ns, res.isDefined))
    res
  }

  /** Record a latency measured around several calls (one curate pass). */
  def record(op: String, ms: Double): Unit =
    lat.computeIfAbsent(op, _ => new ConcurrentLinkedQueue[Double]()).add(ms)

  /** CPU ms of each completed call of `op`: calling thread plus its tasks. */
  def cpuMs(op: String): Seq[Double] = {
    org.apache.spark.BenchAccess.drainListeners(sc)
    threadCpu.asScala.toSeq.collect { case (rid, o, ns) if o == op =>
      (ns + taskCpu.ns(rid)) / 1e6 }
  }

  def latencies(op: String): Seq[Double] =
    Option(lat.get(op)).map(_.asScala.toSeq).getOrElse(Nil)
  def ops: Seq[String] = lat.keySet().asScala.toSeq
  def completed: Long = attempted.get() - failed.get()

  /** Forget everything recorded so far (after warm-up, between phases). */
  def reset(): Unit = {
    org.apache.spark.BenchAccess.drainListeners(sc)
    lat.clear(); threadCpu.clear(); taskCpu.clear(); attempted.set(0); failed.set(0)
  }
}

/** Executor CPU time of the tasks run for each request, keyed by the
  * request id [[Calls.call]] puts in the job description. */
final class TaskCpu extends SparkListener {
  private val stageRequest = new ConcurrentHashMap[Int, java.lang.Long]()
  private val byRequest = new ConcurrentHashMap[Long, LongAdder]()

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .flatMap(_.toLongOption).foreach(rid => js.stageIds.foreach(stageRequest.put(_, rid)))

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    for (m <- Option(te.taskMetrics); rid <- Option(stageRequest.get(te.stageId)))
      byRequest.computeIfAbsent(rid.longValue, _ => new LongAdder()).add(m.executorCpuTime)

  def ns(rid: Long): Long = Option(byRequest.get(rid)).map(_.sum).getOrElse(0L)
  def clear(): Unit = { stageRequest.clear(); byRequest.clear() }
}

object Calls {
  private val ids = new AtomicLong()
  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def epochMs(nano: Long): Double = epochBaseMs + (nano - nanoBase) / 1e6
}

/** Spark-side attribution for a traced run: one [[SparkListener]] and one
  * [[QueryExecutionListener]], registered only while tracing. A job counts
  * toward an op when its job group names a benchmark op AND its request
  * is still open; every other job (merges and compactions on graft's
  * background threads, which may carry a stale inherited group) counts as
  * background. */
final class SparkTrace(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  final class OpStats {
    val jobs, taskCpuNs, scanBytes, shuffleBytes, spillBytes, planningMs =
      new LongAdder()
  }
  private val open = new ConcurrentHashMap[Long, String]()
  private val stats = new ConcurrentHashMap[String, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]() // job → (rid, startMs)
  private val jobIntervals = new ConcurrentHashMap[Long, ConcurrentLinkedQueue[(Long, Long)]]()
  private val execOp = new ConcurrentHashMap[Long, String]()
  // keyed by QueryExecution identity: listener callbacks carry no execution id
  private val qeExec = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Long]())
  private val planningByQe = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, Long]())
  val spans = new ConcurrentLinkedQueue[Span]()
  private val spanIds = new AtomicLong()

  val Background = "background"

  def open(rid: Long, op: String): Unit = open.put(rid, op)
  def close(rid: Long, op: String, layer: String, t0: Long, ns: Long, ok: Boolean): Unit = {
    open.remove(rid)
    spans.add(Span(spanIds.incrementAndGet(), 0L, rid, op, layer,
      Calls.epochMs(t0), Calls.epochMs(t0 + ns), ok))
  }

  def statsOf(op: String): OpStats = stats.computeIfAbsent(op, _ => new OpStats)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val rid = prop("spark.job.description").flatMap(_.toLongOption).getOrElse(-1L)
    val op = if (prop("spark.jobGroup.id").exists(_.startsWith("bench:")))
      Option(open.get(rid)).getOrElse(Background) else Background
    js.stageIds.foreach(stageOp.put(_, op))
    statsOf(op).jobs.increment()
    if (op != Background) jobStart.put(js.jobId, (rid, js.time))
    prop("spark.sql.execution.id").flatMap(_.toLongOption).foreach(execOp.putIfAbsent(_, op))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(je.jobId)).foreach { case (rid, start) =>
      jobIntervals.computeIfAbsent(rid, _ => new ConcurrentLinkedQueue[(Long, Long)]())
        .add((start, je.time))
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val s = statsOf(Option(stageOp.get(te.stageId)).getOrElse(Background))
    Option(te.taskMetrics).foreach { m =>
      s.taskCpuNs.add(m.executorCpuTime)
      s.scanBytes.add(m.inputMetrics.bytesRead)
      s.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead)
      s.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.BenchSqlAccess.queryExecution(e).foreach(qeExec.put(_, Long.box(e.executionId)))
    case _ =>
  }

  /** Analysis + optimization + physical planning of an executed query. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planningByQe.put(qe, qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.BenchAccess.drainListeners(sc)

  /** Per-op Spark metrics, `spark.<metric>.<op>`, normalised by the
    * number of calls of that op. Also returns the per-request driver gap:
    * call wall time with no job of the request running. */
  def perOp(callsOf: String => Int): Map[String, Double] = {
    drain()
    planningByQe.synchronized {
      planningByQe.asScala.foreach { case (qe, ms) =>
        Option(qeExec.get(qe)).flatMap(e => Option(execOp.get(e.longValue)))
          .foreach(op => statsOf(op).planningMs.add(ms))
      }
      planningByQe.clear()
    }
    val gapByOp = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.asScala.foreach(sp => gapByOp(sp.name) += (sp.endMs - sp.startMs) - jobMs(sp))
    stats.asScala.toSeq.filter(_._1 != Background).flatMap { case (op, s) =>
      val n = math.max(1, callsOf(op)).toDouble
      Seq(
        s"spark.jobs_per_op.$op" -> s.jobs.sum / n,
        s"spark.task_cpu_ms_per_op.$op" -> s.taskCpuNs.sum / 1e6 / n,
        s"spark.planning_ms_per_op.$op" -> s.planningMs.sum / n,
        s"spark.driver_gap_ms_per_op.$op" -> gapByOp(op) / n,
        s"spark.scan_bytes_per_op.$op" -> s.scanBytes.sum / n,
        s"spark.shuffle_bytes_per_op.$op" -> s.shuffleBytes.sum / n)
    }.toMap ++ Map(
      "spark.spill_bytes" -> stats.asScala.values.map(_.spillBytes.sum).sum.toDouble,
      "spark.background_jobs" -> statsOf(Background).jobs.sum.toDouble,
      "spark.background_task_cpu_s" -> statsOf(Background).taskCpuNs.sum / 1e9)
  }

  /** Part of a call's span covered by the union of its jobs' intervals. */
  private def jobMs(sp: Span): Double = {
    val ivs = Option(jobIntervals.get(sp.request)).map(_.asScala.toSeq).getOrElse(Nil)
    var total = 0.0
    var end = sp.startMs
    ivs.map { case (a, b) => (math.max(a.toDouble, sp.startMs), math.min(b.toDouble, sp.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** The recorded spans plus one child span per attributed Spark job, as
    * JSON lines. */
  def spanLines(): Iterator[String] = {
    val byRequest = spans.asScala.map(s => s.request -> s).toMap
    val jobSpans = jobIntervals.asScala.iterator.flatMap { case (rid, ivs) =>
      byRequest.get(rid).iterator.flatMap(parent => ivs.asScala.map { case (a, b) =>
        Span(spanIds.incrementAndGet(), parent.id, rid, "job", "spark",
          a.toDouble, b.toDouble, ok = true)
      })
    }
    (spans.asScala.iterator ++ jobSpans).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
        f""""name":"${s.name}","layer":"${s.layer}","start_ms":${s.startMs}%.3f,""" +
        f""""end_ms":${s.endMs}%.3f,"ok":${s.ok}}"""
    }
  }

  /** Self time per layer: span time not covered by its Spark-job children,
    * plus the Spark layer's own job time, in ms per call. */
  def selfTimes(): Map[String, Double] = {
    val perLayer = mutable.Map.empty[String, (Double, Int)].withDefaultValue((0.0, 0))
    var sparkMs = 0.0
    spans.asScala.foreach { sp =>
      val cov = jobMs(sp)
      val (t, n) = perLayer(sp.layer)
      perLayer(sp.layer) = (t + (sp.endMs - sp.startMs) - cov, n + 1)
      sparkMs += cov
    }
    val calls = math.max(1, spans.size()).toDouble
    perLayer.map { case (layer, (t, n)) => s"self_ms_per_call.$layer" -> t / n }.toMap +
      ("self_ms_per_call.spark" -> sparkMs / calls)
  }
}
