package etlbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

/** Spark counters of one span, filled in by [[Counters]]. */
final class SparkCounts {
  var jobs = 0L
  var tasks = 0L
  var taskBusyNs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** Task [launch, finish) intervals in epoch ms, for driver-only time. */
  val taskIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** One traced call: name is `<layer>.<function>`; times are epoch ns. */
final class Span(val id: Int, val parent: Option[Span], val name: String, val runId: String,
                 val startNs: Long) {
  var endNs: Long = -1L
  val children: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val spark = new SparkCounts
  def seconds: Double = (endNs - startNs) / 1e9
  /** Duration minus the part of it that child spans cover. */
  def selfSeconds: Double = seconds - Tracer.unionNs(children.map(c => (c.startNs, c.endNs))) / 1e9
}

/** In-memory span recorder. Spans nest by call; the innermost open span
  * is published as a Spark local property so the [[Counters]] listener
  * charges every job, task and byte to the span that caused it. With
  * `enabled = false` a span only runs its body.
  */
final class Tracer(sc: SparkContext, var enabled: Boolean, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val clock0Ns = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowNs: Long = clock0Ns + System.nanoTime()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(spans.size, open.headOption, name, runId, nowNs)
      spans += s
      byId.put(s.id, s)
      s.parent.foreach(_.children += s)
      open = s :: open
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = nowNs
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProperty, open.headOption.map(_.id.toString).orNull)
      }
    }

  def lookup(id: Int): Option[Span] = Option(byId.get(id))

  def all: Seq[Span] = spans.toSeq

  def size: Int = spans.size

  /** Every span as one JSON object per line. */
  def writeJsonLines(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    val lines = spans.map { s =>
      Json.obj("run" -> s.runId, "id" -> s.id, "parent" -> s.parent.map(_.id),
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "seconds" -> s.seconds, "self_s" -> s.selfSeconds,
        "spark_jobs" -> s.spark.jobs, "spark_tasks" -> s.spark.tasks,
        "task_busy_s" -> s.spark.taskBusyNs / 1e9, "input_bytes" -> s.spark.inputBytes,
        "shuffle_bytes" -> s.spark.shuffleBytes, "spill_bytes" -> s.spark.spillBytes)
    }
    Files.write(p, lines.asJava, StandardCharsets.UTF_8)
  }
}

object Tracer {
  val SpanProperty = "etlbench.span"

  /** Total length covered by a set of [start, end) intervals. */
  def unionNs(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** JVM-wide garbage-collection time so far, in ms. In local mode the
    * driver JVM runs every task, so this is the runtime's GC.
    */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Block-manager usage over a window of time. */
final case class BlockUse(rddPeakBytes: Long, rddBlocks: Long, storedBytes: Long)

/** SparkListener that charges job, task and byte counts to the span named
  * by the job's local property, and tracks storage blocks: RDD blocks
  * (cache and checkpoint, the Blocks layer) and broadcast pieces.
  */
final class Counters(tracer: () => Option[Tracer]) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val blockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  private val lock = new Object
  private var rddLive = 0L
  private var rddPeak = 0L
  private var rddBlocks = 0L
  private var storedBytes = 0L

  private def spanOf(props: java.util.Properties): Option[Span] =
    for {
      p <- Option(props)
      id <- Option(p.getProperty(Tracer.SpanProperty))
      t <- tracer()
      s <- t.lookup(id.toInt)
    } yield s

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      s.spark.synchronized(s.spark.jobs += 1)
      e.stageIds.foreach(stageSpan.put(_, s))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(stageSpan.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      val c = s.spark
      c.synchronized {
        c.tasks += 1
        c.taskBusyNs += m.executorRunTime * 1000000L
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
  }

  /** The live total depends on when asynchronous removals land, so its
    * peak varies from run to run; the bytes of blocks stored do not.
    */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    val isRdd = b.blockId.isInstanceOf[RDDBlockId]
    if (isRdd || b.blockId.isInstanceOf[BroadcastBlockId]) {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      lock.synchronized {
        val prev = Option(blockBytes.put(b.blockId.name, size)).map(_.longValue).getOrElse(0L)
        if (size == 0L) blockBytes.remove(b.blockId.name)
        if (size > 0 && prev == 0) storedBytes += size
        if (isRdd) {
          rddLive += size - prev
          rddPeak = math.max(rddPeak, rddLive)
          if (size > 0 && prev == 0) rddBlocks += 1
        }
      }
    }
  }

  /** Start a window: returns what the block manager did since. */
  def window(): () => BlockUse = {
    val (r0, n0, s0) = lock.synchronized {
      rddPeak = rddLive
      (rddLive, rddBlocks, storedBytes)
    }
    () => lock.synchronized(BlockUse(rddPeak - r0, rddBlocks - n0, storedBytes - s0))
  }
}
