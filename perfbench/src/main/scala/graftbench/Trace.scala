package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.graftbench.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the span tree. Times are epoch milliseconds; `parent`
  * is -1 for an op span and -2 for a listener span whose parent is found
  * afterwards by time containment. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, start: Double, end: Double)

/** The result of one op: its latency and, when traced, its counters. */
final case class OpRecord(name: String, kind: String, pass: Int,
    traced: Boolean, seconds: Double, error: Option[String],
    counters: Map[String, Double])

/** Process-wide counters read before and after an op or span. */
object Snapshot {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** Hadoop FS statistics of the local filesystem, plus codegen and GC. */
  def take(): Map[String, Double] = {
    val fs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    FileSystem.getGlobalStorageStatistics.iterator().asScala
      .filter(s => Option(s.getScheme).forall(_ == "file"))
      .foreach(_.getLongStatistics.asScala.foreach { ls =>
        fs("fs." + ls.getName) += ls.getValue.toDouble
      })
    fs.toMap ++ CountingFileSystem.snapshot() ++ Map(
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
      "jvm.gc_s" -> gcBeans.map(_.getCollectionTime).sum / 1e3,
      "jvm.gc_count" -> gcBeans.map(_.getCollectionCount).sum.toDouble)
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).iterator
      .map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap

  /** Filesystem operation count of a delta: opens, listings, status
    * probes, creates, renames, deletes and mkdirs. */
  def fsOps(d: Map[String, Double]): Double =
    d.collect { case (k, v) if k.startsWith("fs.op_") => v }.sum
}

/** Spans and per-op counters from the harness's own timers and from the
  * Spark listeners it registers. Listeners record only while `enabled`;
  * an untraced run registers nothing. */
final class Trace(spark: SparkSession) {
  @volatile var enabled = false
  private val sc = spark.sparkContext
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private def newId(): Int = synchronized { nextId += 1; nextId }
  private def addSpan(s: Span): Unit = synchronized { spans += s }

  // open op (driver thread writes, listener thread reads)
  @volatile private var curOp = -1
  @volatile private var cur = mutable.Map.empty[String, Double]
  private def add(k: String, v: Double): Unit = {
    val m = cur
    m.synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  }
  private var stack: List[(Int, String)] = Nil

  private val PhaseProp = "graftbench.phase"
  private val SpanProp = "graftbench.span"
  // jobId -> (span id, start, parent span, phase); stageId -> (job span, phase)
  private val jobs = mutable.Map.empty[Int, (Int, Double, Int, String)]
  private val stages = mutable.Map.empty[Int, (Int, String)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val props = Option(e.properties)
      val phase = props.flatMap(p => Option(p.getProperty(PhaseProp))).getOrElse("none")
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-2)
      val id = newId()
      jobs.synchronized {
        jobs(e.jobId) = (id, e.time.toDouble, parent, phase)
        e.stageIds.foreach(s => stages(s) = (id, phase))
      }
      add("exec.jobs", 1)
      add("jobs@" + phase, 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      jobs.synchronized(jobs.remove(e.jobId)).foreach { case (id, start, parent, _) =>
        addSpan(Span(id, parent, curOp, "job", "exec", start, e.time.toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
      val i = e.stageInfo
      add("exec.stages", 1)
      for (s <- i.submissionTime; c <- i.completionTime) {
        val parent = stages.synchronized(stages.get(i.stageId)).map(_._1).getOrElse(-2)
        addSpan(Span(newId(), parent, curOp, "stage", "exec", s.toDouble, c.toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
      val info = e.taskInfo
      add("exec.tasks", 1)
      if (info.failed) add("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val phase = stages.synchronized(stages.get(e.stageId)).map(_._2).getOrElse("none")
        val run = m.executorRunTime / 1e3
        add("exec.task_s", run)
        add("task_s@" + phase, run)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.task_gc_s", m.jvmGCTime / 1e3)
        add("exec.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("exec.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("exec.spill_mb", m.diskBytesSpilled / 1048576.0)
        val overhead = m.executorDeserializeTime + m.resultSerializationTime +
          m.executorRunTime + (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        add("exec.sched_delay_s", math.max(0L, info.duration - overhead) / 1e3)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = if (enabled) {
      qe.tracker.phases.foreach { case (ph, s) =>
        if (ph != "parsing") {
          add(s"catalyst.${ph}_s", s.durationMs / 1e3)
          addSpan(Span(newId(), -2, curOp, "catalyst." + ph, "catalyst",
            s.startTimeMs.toDouble, s.endTimeMs.toDouble))
        }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) {
        val p = e.progress
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
        add("stream.batches", 1)
        add("stream.batch_s", dur / 1e3)
        add("stream.rows", p.numInputRows.toDouble)
        val start = try java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          catch { case NonFatal(_) => nowMs - dur }
        addSpan(Span(newId(), -2, curOp, "stream.batch", "streaming", start, start + dur))
      }
  }

  /** Register the listeners; done once, in traced runs only. */
  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Time `body` as one op. Errors are caught and recorded: a failed op
    * carries its error and its latency is never used as a sample. */
  def op(name: String, kind: String, pass: Int)(body: => Unit): OpRecord = {
    val traced = enabled
    val id = newId()
    curOp = id
    cur = mutable.Map.empty
    val snap0 = if (traced) Snapshot.take() else null
    val s0 = nowMs
    val t0 = System.nanoTime()
    val err = try { body; None } catch { case e: Throwable => Some(e.toString.take(500)) }
    val secs = (System.nanoTime() - t0) / 1e9
    val counters = if (!traced) Map.empty[String, Double] else {
      val s1 = nowMs
      Bus.drain(sc)
      val d = Snapshot.delta(snap0, Snapshot.take())
      addSpan(Span(id, -1, id, name, "op", s0, s1))
      cur.synchronized(cur.toMap) ++ d
    }
    curOp = -1
    OpRecord(name, kind, pass, traced, secs, err, counters)
  }

  /** A harness span inside the open op: tags the jobs it submits and
    * records its wall time and filesystem ops under `<field>@<name>`. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body else {
      val id = newId()
      val parent = stack.headOption.map(_._1).getOrElse(curOp)
      stack = (id, name) :: stack
      sc.setLocalProperty(PhaseProp, name)
      sc.setLocalProperty(SpanProp, id.toString)
      val snap0 = Snapshot.take()
      val s0 = nowMs
      try body finally {
        val s1 = nowMs
        stack = stack.tail
        sc.setLocalProperty(PhaseProp, stack.headOption.map(_._2).orNull)
        sc.setLocalProperty(SpanProp, stack.headOption.map(_._1.toString).orNull)
        val d = Snapshot.delta(snap0, Snapshot.take())
        add("s@" + name, (s1 - s0) / 1e3)
        add("fs_ops@" + name, Snapshot.fsOps(d))
        add("fs_bytes_written@" + name, d.getOrElse("fs.bytesWritten", 0.0))
        addSpan(Span(id, parent, curOp, name, layer, s0, s1))
      }
    }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer: each span's duration (clipped to its parent)
    * minus the union of its children's clipped intervals. Returns the
    * per-layer sums and whether every self time fits inside its op span. */
  def selfTimes(): (Map[String, Double], Boolean) = {
    val all = allSpans
    val byId = all.map(s => s.id -> s).toMap
    val harness = all.filter(s => s.layer != "exec" && s.layer != "catalyst" &&
      s.layer != "streaming")
    def depth(s: Span): Int =
      if (s.parent < 0) 0 else byId.get(s.parent).map(depth(_) + 1).getOrElse(0)
    // listener spans without a tagged parent hang under the deepest harness
    // span of the same op that contains their start
    val resolved = all.map { s =>
      if (s.parent != -2 && (s.parent == -1 || byId.contains(s.parent))) s
      else {
        val host = harness.filter(h => h.op == s.op && h.start <= s.start && s.start <= h.end)
          .sortBy(h => -depth(h)).headOption
        s.copy(parent = host.map(_.id).getOrElse(if (s.op > 0 && byId.contains(s.op)) s.op else -1))
      }
    }
    val children = resolved.groupBy(_.parent)
    val selfByLayer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var ok = true
    def union(iv: Seq[(Double, Double)]): Double = {
      var total = 0.0; var end = Double.NegativeInfinity
      iv.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
      total
    }
    def walk(s: Span, lo: Double, hi: Double, opMs: Double): Unit = {
      val a = math.max(s.start, lo); val b = math.max(a, math.min(s.end, hi))
      val kids = children.getOrElse(s.id, Nil)
      val clipped = kids.map { k =>
        val ka = math.max(k.start, a)
        (ka, math.max(ka, math.min(k.end, b)))
      }
      val self = (b - a) - union(clipped)
      if (self > opMs + 1e-6 || self < -1e-6) ok = false
      selfByLayer(s.layer) += self / 1e3
      kids.foreach(walk(_, a, b, opMs))
    }
    resolved.filter(_.parent == -1).foreach(o => walk(o, o.start, o.end, o.end - o.start))
    (selfByLayer.toMap, ok)
  }
}
