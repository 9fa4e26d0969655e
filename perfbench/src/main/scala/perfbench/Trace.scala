package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, plus what Spark's
  * public listeners report while those spans are open.
  *
  * A span is (id, parent, name, start, end); spans stay in memory and are
  * written out once, at the end. Listener events carry wall-clock times,
  * and the benchmark's driver thread opens spans one after another, so an
  * event belongs to the innermost span open at its time: a job by its
  * submission time, a task by its job, a planning phase by its start, a
  * streaming batch by its trigger time. Events outside every span (the
  * untraced twin, the checks) are ignored. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val closed = mutable.ArrayBuffer[Span]()
  private var open = List.empty[(Int, String, Long, Long)] // id, name, ms, ns
  private val ids = new AtomicInteger(0)

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = open.headOption.map(_._1).getOrElse(0)
    open = (id, name, System.currentTimeMillis(), System.nanoTime()) :: open
    try body
    finally {
      val (_, _, ms, ns) = open.head
      open = open.tail
      closed += Span(id, parent, name, ms, System.currentTimeMillis(),
        (System.nanoTime() - ns) / 1e9)
    }
  }

  def spans: Seq[Span] = closed.toSeq

  // ------------------------------------------------------------ listeners

  private val jobs = new ConcurrentLinkedQueue[(Int, Long)]() // job, ms
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[(Int, TaskCost)]() // job
  private val phases = new ConcurrentLinkedQueue[(Long, Double)]() // ms, s
  private val batches = new ConcurrentLinkedQueue[Batch]()
  private val streamsStarted = new AtomicInteger(0)
  private val streamsEnded = new AtomicInteger(0)
  private val markerSeen = new AtomicInteger(0)
  private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == Marker)
        markerJobs.add(e.jobId)
      else {
        jobs.add((e.jobId, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs.contains(e.jobId)) markerSeen.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val job = stageJob.getOrDefault(e.stageId, -1)
        tasks.add((job, TaskCost(m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)))
      }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qe.tracker.phases.values.foreach(p =>
        phases.add((p.startTimeMs, p.durationMs / 1e3)))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      onSuccess(f, qe, 0L)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsStarted.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      if (d.containsKey("triggerExecution"))
        batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
          ms("triggerExecution"), ms("addBatch")))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsEnded.incrementAndGet()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the listener buses have delivered every event so far: a
    * marker job's end reaches this listener only after every earlier event
    * on the same queue; streaming events wait for each started query's
    * termination. */
  def flush(): Unit = {
    val sc = spark.sparkContext
    val before = markerSeen.get
    sc.setJobGroup(Marker, Marker)
    spark.range(1).write.format("noop").mode("overwrite").save()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 20000
    while ((markerSeen.get == before ||
        streamsEnded.get < streamsStarted.get) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  // ---------------------------------------------------------- attribution

  private lazy val byId = closed.map(s => s.id -> s).toMap

  /** Innermost span open at `ms`. */
  def at(ms: Long): Option[Span] = {
    val hits = closed.filter(s => s.startMs <= ms && ms <= s.endMs)
    if (hits.isEmpty) None else Some(hits.maxBy(depth))
  }

  def depth(s: Span): Int = if (s.parent == 0) 0 else 1 + depth(byId(s.parent))

  /** The ancestor of `s` (or `s` itself) whose parent is `root`. */
  def childOf(root: Span, s: Span): Option[Span] =
    if (s.id == root.id) None
    else if (s.parent == root.id) Some(s)
    else byId.get(s.parent).flatMap(childOf(root, _))

  def within(root: Span, s: Span): Boolean =
    s.id == root.id || (s.parent != 0 && byId.get(s.parent).exists(within(root, _)))

  /** Runtime cost under one root span, keyed by the name of the root's
    * child span it fell in ("" for the root's own time). */
  def runtime(root: Span): Map[String, Cost] = {
    val acc = mutable.Map[String, Cost]().withDefaultValue(Cost())
    def key(ms: Long): Option[String] = at(ms).filter(within(root, _))
      .map(s => childOf(root, s).map(_.name).getOrElse(""))
    val jobKey = jobs.asScala.flatMap { case (j, ms) => key(ms).map(j -> _) }.toMap
    jobKey.values.foreach(k => acc(k) = acc(k).copy(jobs = acc(k).jobs + 1))
    tasks.asScala.foreach { case (j, t) => jobKey.get(j).foreach { k =>
      val c = acc(k)
      acc(k) = c.copy(execS = c.execS + t.runS, gcS = c.gcS + t.gcS,
        shuffleBytes = c.shuffleBytes + t.shuffleBytes,
        spillBytes = c.spillBytes + t.spillBytes,
        peakExecMem = math.max(c.peakExecMem, t.peakExecMem))
    } }
    phases.asScala.foreach { case (ms, s) => key(ms).foreach { k =>
      acc(k) = acc(k).copy(planningS = acc(k).planningS + s)
    } }
    acc.toMap
  }

  /** Streaming batches whose trigger started under `root`. */
  def batchesIn(root: Span): Seq[Batch] =
    batches.asScala.toSeq.filter(b => b.startMs >= root.startMs && b.startMs <= root.endMs)

  /** Per-root means over `roots` (the traced days, or passes), written
    * into `out`: each layer's span time (0 when the workload made no such
    * call), the root time no child span covers (`unattributed_s`), Spark's
    * runtime totals, jobs and planning per mix family, and the streaming
    * batches. Layers plus `unattributed_s` add up to
    * `traced_op_s`. */
  def report(out: Outcome, roots: Seq[Span]): Unit = {
    val n = roots.size.toDouble
    val kids = closed.groupBy(_.parent)
    val time = mutable.Map[String, Double]().withDefaultValue(0.0)
    var unattributed = 0.0
    val cost = mutable.Map[String, Cost]().withDefaultValue(Cost())
    roots.foreach { r =>
      val children = kids.getOrElse(r.id, Nil)
      children.foreach(c => time(c.name) += c.durS)
      unattributed += r.durS - children.map(_.durS).sum
      runtime(r).foreach { case (k, c) => cost(k) = cost(k) + c }
    }
    Layers.foreach(l => out.metric(l + "_s", time(l) / n, "s"))
    out.metric("unattributed_s", unattributed / n, "s")
    out.metric("traced_op_s", roots.map(_.durS).sum / n, "s")
    val total = cost.values.foldLeft(Cost())(_ + _)
    out.metric("spark.jobs", total.jobs / n, "count")
    out.metric("spark.planning_s", total.planningS / n, "s")
    out.metric("spark.exec_s", total.execS / n, "s")
    out.metric("spark.gc_s", total.gcS / n, "s")
    out.metric("spark.shuffle_bytes", total.shuffleBytes / n, "bytes")
    out.metric("spark.spill_bytes", total.spillBytes / n, "bytes")
    out.metric("spark.peak_exec_mem_bytes", total.peakExecMem.toDouble, "bytes")
    Mix.Families.map("mix." + _).foreach { l =>
      out.metric(l + "_jobs", cost(l).jobs / n, "count")
      out.metric(l + "_planning_s", cost(l).planningS / n, "s")
    }
    val bs = roots.flatMap(batchesIn)
    out.metric("streaming.batches", bs.size / n, "count")
    out.metric("streaming.batch_p50_ms",
      if (bs.isEmpty) 0.0 else Stats.median(bs.map(_.triggerMs)), "ms")
    out.metric("streaming.batch_driver_ms",
      if (bs.isEmpty) 0.0 else Stats.median(bs.map(b => b.triggerMs - b.addBatchMs)), "ms")
  }

  def write(path: Path): Unit = {
    val lines = closed.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${s.durS}}"""
    }
    Files.write(path, lines.asJava)
  }
}

object Trace {
  private val Marker = "perfbench-flush"

  final case class Span(id: Int, parent: Int, name: String, startMs: Long,
      endMs: Long, durS: Double)
  final case class TaskCost(runS: Double, gcS: Double, shuffleBytes: Long,
      spillBytes: Long, peakExecMem: Long)
  final case class Batch(startMs: Long, triggerMs: Double, addBatchMs: Double)
  final case class Cost(jobs: Int = 0, planningS: Double = 0, execS: Double = 0,
      gcS: Double = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
      peakExecMem: Long = 0) {
    def +(o: Cost): Cost = Cost(jobs + o.jobs, planningS + o.planningS,
      execS + o.execS, gcS + o.gcS, shuffleBytes + o.shuffleBytes,
      spillBytes + o.spillBytes, math.max(peakExecMem, o.peakExecMem))
  }

  /** Every layer span name either workload opens. */
  val Layers = Seq("ingest.trophy", "ingest.games", "store.read",
    "ops.new_games", "store.append", "ops.deltas", "ops.needing_update",
    "store.merge") ++ Mix.Families.map("mix." + _)
}
