package lifebench

import java.lang.management.ManagementFactory
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's own calls into the engine's layers.
  *
  * Every operation of the closed loop is a root span (`op.<kind>`); each
  * call into a layer inside it is a child span named `<Module>.<call>`, and
  * spans of one operation share its id. Spans stay in memory and are
  * written out once, at the end. Spark jobs are attributed to the innermost
  * open span through a `SparkContext` local property that a
  * [[SparkListener]] reads back (jobs, tasks, bytes); Catalyst planning
  * time, reported by a [[QueryExecutionListener]], by when it started.
  * Disabled, [[span]] and [[op]] only run their body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                   val start: Long) {
    val startMs: Long = System.currentTimeMillis()
    var endMs: Long = 0L
    var end: Long = 0L
    var gcMs: Long = 0L
    /** Caller-supplied counts (files written, results returned, ...). */
    val extra: TrieMap[String, Double] = TrieMap.empty
    def seconds: Double = (end - start) / 1e9
  }

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextOp = 0
  private var measuredFrom = 0
  private var spark: SparkSession = _
  private var listener = new SpanListener

  /** Register fresh listeners on a new session (traced runs only): job and
    * stage ids restart with each `SparkContext`.
    */
  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    listener = new SpanListener
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(listener.plans)
  }

  /** Spans recorded before this call (set-up, warm-ups) are left out of
    * [[layerMetrics]].
    */
  def startMeasuring(): Unit = measuredFrom = spans.size

  /** One closed-loop operation: a root span with a fresh operation id. */
  def op[T](kind: String)(f: => T): T = {
    nextOp += 1
    span(s"op.$kind")(f)
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.fold(-1)(_.id),
        parent.fold(nextOp)(_.op), System.nanoTime())
      spans += s
      stack = s :: stack
      val gc0 = gcMillis()
      spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcMs = gcMillis() - gc0
        stack = stack.tail
        spark.sparkContext.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Add a count to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.extra.put(key, s.extra.getOrElse(key, 0.0) + value))

  /** Counters of the jobs each span ran, by span id. A job counts under the
    * span named by its local property; a job submitted from a pooled thread
    * can carry a stale property (pool threads inherit it once, when they
    * are created), so a job that started after its span closed, or
    * carries none, counts under the innermost span open when it started.
    * One client thread drives the loop, so the open spans form one chain.
    */
  private def spanCounters(): Map[Int, Array[Long]] = {
    def openAt(t: Long): Int =
      spans.reverseIterator.find(s => s.startMs <= t && (s.endMs == 0L || t <= s.endMs)).fold(-1)(_.id)
    val sums = mutable.Map.empty[Int, Array[Long]]
    def slots(span: Int) = sums.getOrElseUpdate(span, new Array[Long](CounterNames.size))
    for (j <- listener.jobs.values) {
      val span =
        if (j.span >= 0 && j.span < spans.size && j.timeMs <= spans(j.span).endMs + 1) j.span
        else openAt(j.timeMs)
      val a = slots(span)
      for (i <- CounterNames.indices) a(i) += j.counters(i)
    }
    listener.planning.forEach { case (startMs, ms) => slots(openAt(startMs))(PlanningSlot) += ms }
    sums.toMap
  }

  /** The spans recorded so far, one JSON object per line. */
  def spanLines: Seq[String] = {
    val bySpan = spanCounters()
    spans.toSeq.map { s =>
      val c = bySpan.getOrElse(s.id, new Array[Long](CounterNames.size))
      val counters = CounterNames.zip(c).map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "gc_ms": ${s.gcMs}, $counters}"""
    }
  }

  /** Per-layer metrics. For the closed loop's operations (spans after
    * [[startMeasuring]]) and, prefixed `setup.`, for the last set-up
    * without its warm-up calls: per span name, per-call means of self time
    * (the span minus its children), GC time during the call and the Spark
    * counters attributed to it. For each operation kind, its wall time and
    * the part its layer spans leave unattributed, so that an operation's
    * wall time is the sum of its layers' self times and that remainder.
    */
  def layerMetrics(opKinds: Seq[String]): Seq[(String, Double, String)] = {
    org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
    val bySpan = spanCounters()
    val childSeconds = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.seconds)(_ + _)
    def selfSeconds(s: Span) = s.seconds - childSeconds.getOrElse(s.id, 0.0)
    def under(root: Span)(s: Span): Boolean =
      s.parent >= 0 && (s.parent == root.id || under(root)(spans(s.parent)))

    def layers(prefix: String, calls: Seq[Span]) =
      calls.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (name, cs) =>
        val n = cs.size.toDouble
        val counters = cs.map(c => bySpan.getOrElse(c.id, new Array[Long](CounterNames.size)))
        def perCall(counter: String) = counters.map(_(CounterNames.indexOf(counter))).sum.toDouble / n
        val results = cs.map(_.extra.getOrElse("results", 0.0)).sum
        val l = prefix + name
        Seq(
          (s"$l.calls", n, "count"),
          (s"$l.s", cs.map(selfSeconds).sum / n, "s"),
          (s"$l.gc_s", cs.map(_.gcMs / 1e3).sum / n, "s"),
          (s"$l.planning_s", perCall("planning_ms") / 1e3, "s"),
          (s"$l.jobs", perCall("jobs"), "count"),
          (s"$l.tasks", perCall("tasks"), "count"),
          (s"$l.input_bytes", perCall("input_bytes"), "B"),
          (s"$l.shuffle_write_bytes", perCall("shuffle_write_bytes"), "B"),
          (s"$l.bytes_written", perCall("bytes_written"), "B"),
          (s"$l.files_written", cs.map(_.extra.getOrElse("files_written", 0.0)).sum / n, "count"),
          (s"$l.rows_read_per_result", if (results > 0) perCall("records_read") * n / results else 0.0, "ratio"))
      }

    val ops = spans.drop(measuredFrom)
      .filter(s => s.parent == -1 && opKinds.contains(s.name.stripPrefix("op.")))
    val opIds = ops.map(_.id).toSet
    val loop = layers("", spans.toSeq.filter(s => s.parent >= 0 && opIds.contains(rootOf(s).id)))
    val remainders = ops.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (name, cs) =>
      val n = cs.size.toDouble
      Seq(
        (s"$name.calls", n, "count"),
        (s"$name.s", cs.map(_.seconds).sum / n, "s"),
        (s"$name.unattributed_s", cs.map(selfSeconds).sum / n, "s"))
    }
    val setup = spans.take(measuredFrom).reverseIterator.find(s => s.parent == -1 && s.name == "setup")
      .toSeq.flatMap { root =>
        val warmup = spans.find(s => s.parent == root.id && s.name == "warmup")
        layers("setup.", spans.toSeq.filter(s => under(root)(s) && !warmup.exists(w => s == w || under(w)(s))))
      }
    loop ++ remainders ++ setup
  }

  private def rootOf(s: Span): Span = if (s.parent < 0) s else rootOf(spans(s.parent))
}

object Tracer {
  val SpanKey = "lifebench.span"

  /** Counter slots kept per span: per job by [[SpanListener]], planning
    * time per query execution.
    */
  val CounterNames: IndexedSeq[String] = IndexedSeq("jobs", "tasks", "input_bytes",
    "records_read", "shuffle_write_bytes", "bytes_written", "planning_ms")
  private val PlanningSlot = CounterNames.indexOf("planning_ms")

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Sums Spark's own counters per job and remembers the span each job was
    * submitted under (-1: none) and when.
    */
  final class SpanListener extends SparkListener {
    final class Job(val span: Int, val timeMs: Long) {
      val counters = new Array[Long](CounterNames.size)
    }
    val jobs: TrieMap[Int, Job] = TrieMap.empty
    private val stageJob = TrieMap.empty[Int, Int]

    private def add(job: Option[Job], slot: Int, v: Long): Unit =
      job.foreach(j => j.synchronized { j.counters(slot) += v })

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey))).fold(-1)(_.toInt)
      val job = new Job(span, e.time)
      job.counters(0) = 1
      jobs.put(e.jobId, job)
      e.stageIds.foreach(stageJob.put(_, e.jobId))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageJob.get(e.stageId).flatMap(jobs.get)
      add(job, 1, 1)
      Option(e.taskMetrics).foreach { m =>
        add(job, 2, m.inputMetrics.bytesRead)
        add(job, 3, m.inputMetrics.recordsRead)
        add(job, 4, m.shuffleWriteMetrics.bytesWritten)
        add(job, 5, m.outputMetrics.bytesWritten)
      }
    }

    /** Catalyst analysis, optimization and planning of each query
      * execution: (start ms, duration ms). Planning runs on the thread that
      * calls the action, so it belongs to the span open at its start.
      */
    val planning: java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)] =
      new java.util.concurrent.ConcurrentLinkedQueue()

    val plans: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases.values
        if (phases.nonEmpty)
          planning.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
  }
}
