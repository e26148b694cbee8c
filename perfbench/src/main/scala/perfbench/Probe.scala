package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric totals of one (operation, layer) cell. */
final class Counters {
  var cpuNs, gcMs, fetchWaitMs, schedDelayMs = 0L
  var shuffleBytes, shuffleRecords, spillBytes = 0L
  var tasks, stages, jobs = 0L
  var ckptJobs, ckptMs, ckptBytes = 0L

  def add(o: Counters): Unit = {
    cpuNs += o.cpuNs; gcMs += o.gcMs
    fetchWaitMs += o.fetchWaitMs; schedDelayMs += o.schedDelayMs
    shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
    spillBytes += o.spillBytes; tasks += o.tasks; stages += o.stages
    jobs += o.jobs; ckptJobs += o.ckptJobs; ckptMs += o.ckptMs
    ckptBytes += o.ckptBytes
  }
}

/** Spark listener that sums task metrics per (operation, layer).
  *
  * Every job carries the local properties [[Probe.OpKey]] and
  * [[Probe.LayerKey]] of the thread that started it, so eager jobs inside a
  * layer call (checkpoints, loop collects) are attributed to that layer.
  * Checkpoint jobs are recognised by their call site and also counted under
  * the `ckpt` totals of their layer. */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  private val jobTag = new ConcurrentHashMap[Int, Tag]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val ckptJob = ConcurrentHashMap.newKeySet[Int]()
  private val stageTag = new ConcurrentHashMap[Int, Tag]()
  private val ckptRdd = new ConcurrentHashMap[Int, Tag]()
  private val execTag = new ConcurrentHashMap[Long, Tag]()
  private val cells = new ConcurrentHashMap[Tag, Counters]()
  private val firstJobMs = new ConcurrentHashMap[Long, java.lang.Long]()
  // (execution id, planning ms) of every successful query
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def cell(t: Tag): Counters = cells.computeIfAbsent(t, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val op = Option(p).flatMap(x => Option(x.getProperty(OpKey))).map(_.toLong).getOrElse(-1L)
    val layer = Option(p).flatMap(x => Option(x.getProperty(LayerKey))).getOrElse(Unattributed)
    val t = Tag(op, layer)
    jobTag.put(e.jobId, t)
    jobStartMs.put(e.jobId, e.time)
    firstJobMs.putIfAbsent(op, e.time)
    Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .foreach(id => execTag.putIfAbsent(id.toLong, t))
    e.stageIds.foreach(s => stageTag.put(s, t))
    val last = e.stageInfos.maxBy(_.stageId)
    val isCkpt = e.stageInfos.exists(si => CkptSites.exists(si.name.startsWith))
    cell(t).synchronized { cell(t).jobs += 1; if (isCkpt) cell(t).ckptJobs += 1 }
    if (isCkpt) {
      ckptJob.add(e.jobId)
      last.rddInfos.filter(_.storageLevel.isValid).foreach(r => ckptRdd.put(r.id, t))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (ckptJob.remove(e.jobId)) {
      val t = jobTag.get(e.jobId)
      val c = cell(t)
      c.synchronized { c.ckptMs += e.time - jobStartMs.get(e.jobId) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { t =>
      val c = cell(t); c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = Option(stageTag.get(e.stageId)).getOrElse(Tag(-1L, Unattributed))
    val m = e.taskMetrics
    val i = e.taskInfo
    val c = cell(t)
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        // scheduler delay as the Spark UI defines it
        c.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    b.blockId.asRDDId.foreach { r =>
      Option(ckptRdd.get(r.rddId)).foreach { t =>
        val c = cell(t); c.synchronized { c.ckptBytes += b.memSize + b.diskSize }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    plans.add((qe.id, ms))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counters of operation `op`, per layer. */
  def layers(op: Long): Map[String, Counters] =
    cells.asScala.collect { case (Tag(o, l), c) if o == op => l -> c }.toMap

  /** Executor CPU nanoseconds of operation `op`. */
  def cpuNs(op: Long): Long = layers(op).values.map(_.cpuNs).sum

  def firstJobStartMs(op: Long): Option[Long] = Option(firstJobMs.get(op)).map(_.longValue)

  /** (queries, planning ms) of the queries that ran jobs for `op`. */
  def planning(op: Long): (Int, Long) = {
    val ms = plans.asScala.toSeq.flatMap { case (id, ms) =>
      Option(execTag.get(id)).filter(_.op == op).map(_ => ms)
    }
    (ms.size, ms.sum)
  }
}

object Probe {
  private final case class Tag(op: Long, layer: String)
  val OpKey = "perfbench.op"
  val LayerKey = "perfbench.layer"
  val Unattributed = "unattributed"
  private val CkptSites = Seq("localCheckpoint at ", "checkpoint at ")

  def install(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}

/** One span: a layer call (or a whole operation when `parent` is -1). */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                      parent: Long, op: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run ends. Whether an
  * operation is traced is decided per operation. */
final class Tracer {
  private var nextId = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var currentOp = -1L

  /** True inside a traced operation. */
  var enabled = false

  def all: Seq[Span] = spans.toSeq

  /** Runs `body` as operation `op`: every job started inside is tagged with
    * it. The root span of the operation is recorded even when tracing is off,
    * since it is the operation's latency. */
  def op[T](spark: SparkSession, op: Long, kind: String, traced: Boolean)(body: => T): (T, Span) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.OpKey, op.toString)
    sc.setLocalProperty(Probe.LayerKey, null)
    currentOp = op
    enabled = traced
    nextId += 1
    val id = nextId
    stack = List(id)
    val t0 = System.nanoTime()
    try {
      val r = body
      val s = Span(id, kind, t0, System.nanoTime(), -1L, op)
      spans += s
      (r, s)
    } finally {
      stack = Nil
      enabled = false
      sc.setLocalProperty(Probe.OpKey, null)
    }
  }

  /** Runs `body` as a call into `layer`; jobs it starts are attributed to
    * the layer. Nested calls restore the outer layer when they return. */
  def layer[T](spark: SparkSession, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Probe.LayerKey)
    sc.setLocalProperty(Probe.LayerKey, layer)
    if (!enabled) {
      try body finally sc.setLocalProperty(Probe.LayerKey, outer)
    } else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(-1L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, layer, t0, System.nanoTime(), parent, currentOp)
        stack = stack.tail
        sc.setLocalProperty(Probe.LayerKey, outer)
      }
    }
  }

  /** Self time per layer name over the spans of `op`: each span's duration
    * minus the part covered by its children. */
  def selfNs(op: Long): Map[String, Long] = {
    val mine = all.filter(_.op == op)
    val kids = mine.groupBy(_.parent)
    mine.filter(_.parent != -1L).groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.durNs - covered(kids.getOrElse(s.id, Nil))).sum
    }
  }

  /** Root-span time of `op` not covered by any layer span. */
  def unattributedNs(op: Long): Long = {
    val mine = all.filter(_.op == op)
    val kids = mine.groupBy(_.parent)
    mine.filter(_.parent == -1L).map(r => r.durNs - covered(kids.getOrElse(r.id, Nil))).sum
  }

  // union length of the children's intervals (they may overlap)
  private def covered(children: Seq[Span]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    children.sortBy(_.startNs).foreach { s =>
      if (s.startNs > curE) {
        if (curE > curS) total += curE - curS
        curS = s.startNs; curE = s.endNs
      } else curE = math.max(curE, s.endNs)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
