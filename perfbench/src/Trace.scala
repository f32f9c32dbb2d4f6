package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Everything the traced run attaches to graft from the outside: a
  * SparkListener (jobs, stages, task metrics), a StreamingQueryListener
  * (per-trigger progress), the JVM's GC and memory-pool MXBeans, wall-clock
  * spans around the public calls the harness makes, and a stack sampler
  * that splits a span's time among the graft modules running on the
  * calling thread (how `EtlPipeline.run` divides between its source,
  * transform and sinks without touching engine code). All of it stays in
  * memory; `spans` is written out when the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext

  // ---- SparkListener: every job carries the op tag it was started under
  final class TagStats {
    val jobs, stages, tasks = new LongAdder
    val runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, inBytes, inRecords = new LongAdder
  }
  private val byTag = new ConcurrentHashMap[String, TagStats]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val stageWall = new ConcurrentHashMap[Int, Long]()
  def stats(tag: String): TagStats = byTag.computeIfAbsent(tag, _ => new TagStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
      tag.foreach { t =>
        stats(t).jobs.increment()
        e.stageIds.foreach(stageTag.put(_, t))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageTag.get(info.stageId)).foreach { t =>
        stats(t).stages.increment()
        for (a <- info.submissionTime; b <- info.completionTime)
          stageWall.put(info.stageId, b - a)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageTag.get(e.stageId)).foreach { t =>
        val s = stats(t)
        s.tasks.increment()
        Option(e.taskInfo).foreach { ti =>
          stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
            .synchronized { stageTasks.get(e.stageId) += ti.duration }
        }
        Option(e.taskMetrics).foreach { m =>
          s.runMs.add(m.executorRunTime)
          s.cpuNs.add(m.executorCpuTime)
          s.gcMs.add(m.jvmGCTime)
          s.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
          s.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
          s.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
          s.inBytes.add(m.inputMetrics.bytesRead)
          s.inRecords.add(m.inputMetrics.recordsRead)
        }
      }
  }

  /** Max over median task time in the slowest stage run under `tag`. */
  def taskSkew(tag: String): Double = {
    val stages = stageTag.asScala.collect { case (id, t) if t == tag => id }
    val slowest = stages.toSeq.filter(stageWall.containsKey).sortBy(id => -stageWall.get(id)).headOption
    slowest.flatMap(id => Option(stageTasks.get(id))).map(b => b.synchronized(b.sorted.toSeq)) match {
      case Some(ts) if ts.nonEmpty && ts(ts.size / 2) > 0 => ts.last.toDouble / ts(ts.size / 2)
      case _ => 1.0
    }
  }

  // ---- StreamingQueryListener: one record per trigger
  final case class Progress(queryId: String, triggerMs: Long, addBatchMs: Long, planMs: Long,
                            walMs: Long, sourceMs: Long, inputRows: Long,
                            stateRows: Long, stateBytes: Long)
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress.add(Progress(p.id.toString, d("triggerExecution"), d("addBatch"),
        d("queryPlanning"), d("walCommit"), d("latestOffset") + d("getBatch"), p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  // ---- JVM MXBeans
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq
  private var gcStartMs = 0L
  def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  // ---- spans and the stack sampler
  final case class Span(name: String, op: Int, startNs: Long, durNs: Long)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val sampleCounts = new ConcurrentHashMap[String, LongAdder]()
  @volatile private var sampling = false
  private val target = Thread.currentThread()
  private val sampler = new Thread(() => {
    try while (true) {
      if (sampling) {
        val layer = classify(target.getStackTrace)
        sampleCounts.computeIfAbsent(layer, _ => new LongAdder).increment()
      }
      Thread.sleep(SampleMs)
    } catch { case _: InterruptedException => () }
  }, "perfbench-sampler")
  sampler.setDaemon(true)

  /** Time `body` as span `name` of op `op`, attributing sampled stack time
    * to graft modules; returns the body's value. */
  def span[T](name: String, op: Int)(body: => T): T = {
    sampleCounts.clear()
    sampling = true
    val t0 = System.nanoTime()
    try body
    finally {
      val dur = System.nanoTime() - t0
      sampling = false
      spans += Span(name, op, t0, dur)
      val counts = sampleCounts.asScala.map { case (k, v) => k -> v.sum }.toMap
      val total = counts.values.sum
      if (total > 0) counts.foreach { case (k, c) =>
        spans += Span(s"$name>$k", op, t0, (dur * c.toDouble / total).toLong)
      }
    }
  }

  /** Total seconds of the spans named `name` (`parent>layer` for the
    * sampled share of a module inside span `parent`). */
  def spanS(name: String): Double = spans.filter(_.name == name).map(_.durNs).sum / 1e9

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    heapPools.foreach(_.resetPeakUsage())
    gcStartMs = gcMs
    sampler.start()
  }

  def gcDeltaS: Double = (gcMs - gcStartMs) / 1e3

  /** Detach everything. Listener events are delivered asynchronously, so
    * give the bus a moment to drain first. */
  def stop(): Unit = {
    Thread.sleep(1500)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    sampler.interrupt()
    sampler.join()
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s => f"""{"name":"${s.name}","op":${s.op},"start_ns":${s.startNs},"dur_s":${s.durNs / 1e9}%.6f}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val TagKey = "perfbench.tag"
  private val SampleMs = 1L // between stack samples

  /** The graft module a stack is executing in: the innermost `graft.` frame. */
  def classify(stack: Array[StackTraceElement]): String =
    stack.find(_.getClassName.startsWith("graft.")) match {
      case None => "other"
      case Some(f) =>
        val c = f.getClassName; val m = f.getMethodName
        if (c.startsWith("graft.sources")) "sources"
        else if (c.startsWith("graft.operators.TrafficTransform")) "operators.TrafficTransform"
        else if (c.startsWith("graft.sinks.Sinks")) {
          if (m.contains("writeCsv")) "sinks.csv"
          else if (m.contains("loadWarehouse")) "sinks.warehouse"
          else if (m.contains("backup")) "sinks.backup"
          else "sinks.other"
        }
        else if (c.startsWith("graft.pipeline")) "pipeline"
        else if (c.startsWith("graft.sql")) "sql"
        else "operators"
    }
}
