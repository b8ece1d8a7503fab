package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.job.{CommitStore, ExtractionJob}
import graft.model.Lineage

/** Outside-in tracing: spans opened by the benchmark around calls into the
  * engine's public entry points, plus a SparkListener that attributes every
  * job, stage and task to the span that was open on the submitting thread when
  * Spark submitted it. Attribution goes through a Spark local property, so
  * it is exact even though listener events arrive asynchronously. Spans and
  * stage metrics are kept in memory and read once, after [[flush]].
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val work = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  // task executor run times per stage, for the skew of the busiest stage
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private var sentinelJob = -1
  private var sentinelSeen = false

  sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)

  private def workOf(id: Int): Work = work.getOrElseUpdate(id, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty(SentinelKey) != null)) sentinelJob = e.jobId
    else spanOf(e.properties).foreach { id =>
      workOf(id).jobs += 1
      e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == sentinelJob) { sentinelSeen = true; notifyAll() }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach(id => stageSpan(e.stageInfo.stageId) = id)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageSpan.get(e.stageId).foreach { id =>
      if (m != null) {
        val w = workOf(id)
        w.tasks += 1
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  /** Waits until every listener event posted so far has been handled: runs
    * a one-task sentinel job and waits for its end event (the listener bus
    * delivers events in order).
    */
  def flush(): Unit = {
    synchronized { sentinelSeen = false; sentinelJob = -1 }
    sc.setLocalProperty(SentinelKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelKey, null)
    synchronized {
      val deadline = System.currentTimeMillis() + 30000
      while (!sentinelSeen && System.currentTimeMillis() < deadline) wait(100)
    }
  }

  def close(): Unit = sc.removeSparkListener(this)

  /** All spans named `name`. */
  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  /** Span ids of `root` and every span nested under it. */
  private def subtree(root: Span): Set[Int] = {
    var ids = Set(root.id)
    var grew = true
    while (grew) {
      val next = ids ++ spans.iterator.filter(s => ids.contains(s.parent)).map(_.id)
      grew = next.size > ids.size
      ids = next
    }
    ids
  }

  /** Work of the given spans and everything nested under them. */
  def workUnder(roots: Seq[Span]): Work = synchronized {
    val ids = roots.flatMap(subtree).toSet
    val total = new Work
    ids.flatMap(work.get).foreach { w =>
      total.jobs += w.jobs; total.tasks += w.tasks
      total.cpuNs += w.cpuNs; total.gcMs += w.gcMs
      total.shuffleWriteBytes += w.shuffleWriteBytes
      total.spillBytes += w.spillBytes
    }
    total
  }

  /** Max / median task run time of the stage with the most executor time
    * among the stages run under `roots` (1.0 for a perfectly even stage).
    */
  def taskSkew(roots: Seq[Span]): Double = synchronized {
    val ids = roots.flatMap(subtree).toSet
    val stages = stageSpan.collect { case (st, id) if ids.contains(id) => st }
    val busiest = stages.flatMap(stageTaskMs.get).filter(_.nonEmpty).maxByOption(_.sum)
    busiest.map { ms =>
      val med = Stats.median(ms.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else ms.max / med
    }.getOrElse(0.0)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = -1L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Per-span totals of the tasks Spark ran for it. */
  final class Work {
    var jobs = 0
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  val SpanKey = "perfbench.span"
  val SentinelKey = "perfbench.sentinel"

  /** Runs `body` inside span `name` when tracing, plainly otherwise. */
  def span[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer match {
      case Some(t) => t.span(name)(body)
      case None => body
    }
}

/** [[CommitStore]] decorator that opens a span around each call into the
  * wrapped store: `committedGroups` is the resume probe, `commitBatch` the
  * commit path.
  */
final class TracedStore(inner: CommitStore, tracer: Tracer) extends CommitStore {
  override def committedGroups()(implicit spark: SparkSession): Set[Int] =
    tracer.span("committedGroups")(inner.committedGroups())

  override def commitBatch(
      results: Dataset[ExtractionJob.ResultRow],
      lineageRows: Seq[Lineage],
      batch: Seq[Int]
  )(implicit spark: SparkSession): Unit =
    tracer.span("commitBatch")(inner.commitBatch(results, lineageRows, batch))
}

/** Peak bytes (memory + disk) of the cached and checkpointed RDD blocks of
  * one repetition, from the block updates the block manager reports. Only
  * RDDs created after [[start]] count, so blocks of earlier repetitions
  * that the context cleaner has not yet released do not. Always on: it is
  * an end-to-end metric, not part of tracing.
  */
final class StoragePeak(sc: SparkContext) extends SparkListener {
  private val blocks = mutable.HashMap.empty[String, Long]
  private var current = 0L
  private var peak = 0L
  private var firstRdd = Int.MaxValue

  sc.addSparkListener(this)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.asRDDId.exists(_.rddId >= firstRdd)) {
      val key = s"${info.blockManagerId}/${info.blockId}"
      val size = info.memSize + info.diskSize
      current += size - blocks.getOrElse(key, 0L)
      if (size == 0) blocks.remove(key) else blocks(key) = size
      peak = math.max(peak, current)
    }
  }

  /** Starts counting the blocks of RDDs created from now on. */
  def start(): Unit = {
    val next = sc.emptyRDD[Int].id
    synchronized { blocks.clear(); current = 0L; peak = 0L; firstRdd = next }
  }

  /** Peak since [[start]]. */
  def peakBytes: Long = synchronized(peak)

  def close(): Unit = sc.removeSparkListener(this)
}
