package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its own calls into each layer.
  *
  * The current span travels in an inheritable thread-local, so legs that
  * `graft.exec.Concurrent` runs on pool threads (created by the calling
  * thread) see their parent. The same span id is set as a Spark local
  * property, which Spark copies into the jobs a thread submits and into
  * threads the caller creates (Concurrent legs, the stream execution
  * thread): that is how a job is attributed to the span that caused it.
  *
  * Times are epoch milliseconds with sub-millisecond precision, so they
  * compare directly with the listener's job and stage times. */
object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, op: Long,
                        start: Double, end: Double)

  private final case class Ctx(span: Long, op: Long)

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new InheritableThreadLocal[Ctx]
  @volatile private var sc: SparkContext = _

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def install(context: SparkContext): Unit = sc = context

  /** Run `body` as the root span of op `op` when `traced`; otherwise run
    * it bare, so an untraced op pays nothing for the span machinery. */
  def op[A](name: String, op: Long, traced: Boolean)(body: => A): A =
    if (!traced) body
    else enter(name, Ctx(0L, op))(body)

  /** A child span of the current one; a no-op outside a traced op. */
  def span[A](name: String)(body: => A): A = current.get match {
    case null => body
    case parent => enter(name, parent)(body)
  }

  private def enter[A](name: String, parent: Ctx)(body: => A): A = {
    val id = ids.incrementAndGet()
    val prevCtx = current.get
    val prevProp = Option(sc).map(_.getLocalProperty(SpanProp))
    current.set(Ctx(id, parent.op))
    Option(sc).foreach(_.setLocalProperty(SpanProp, id.toString))
    val t0 = nowMs()
    try body
    finally {
      spans.add(Span(id, name, parent.span, parent.op, t0, nowMs()))
      current.set(prevCtx)
      Option(sc).foreach(_.setLocalProperty(SpanProp, prevProp.orNull))
    }
  }

  def recorded: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Records every job and stage the session runs, and the planning phases
  * of every query execution. Registered only by a traced run; listener
  * events arrive asynchronously, so [[awaitQuiet]] must run before the
  * records are read. */
final class JobLedger extends SparkListener
    with org.apache.spark.sql.util.QueryExecutionListener {
  final case class Job(id: Int, submit: Long, var end: Long, span: String,
                       desc: String, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, var submit: Long,
                         var firstLaunch: Long, var complete: Long,
                         var tasks: Int, var runMs: Long, var cpuNs: Long,
                         var shuffleWrite: Long, var shuffleRead: Long,
                         var spill: Long, var input: Long, var output: Long)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val plans = mutable.ArrayBuffer[Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt),
      Stage(id, attempt, -1, -1, -1, 0, 0, 0, 0, 0, 0, 0, 0))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    jobs(e.jobId) = Job(e.jobId, e.time, -1,
      props.flatMap(p => Option(p.getProperty(Trace.SpanProp))).getOrElse(""),
      props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(""),
      e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stage(i.stageId, i.attemptNumber()).submit =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    if (s.firstLaunch < 0 || e.taskInfo.launchTime < s.firstLaunch)
      s.firstLaunch = e.taskInfo.launchTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.complete = i.completionTime.getOrElse(System.currentTimeMillis())
      s.tasks = i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        s.runMs = m.executorRunTime
        s.cpuNs = m.executorCpuTime
        s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead = m.shuffleReadMetrics.totalBytesRead
        s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
        s.input = m.inputMetrics.bytesRead
        s.output = m.outputMetrics.bytesWritten
      }
    }

  override def onSuccess(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = synchronized {
    plans += qe.tracker.phases.map { case (phase, p) =>
      phase -> Map("start" -> p.startTimeMs, "end" -> p.endTimeMs)
    }
  }

  override def onFailure(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()

  /** Wait until every started job has ended and every submitted stage
    * has completed (bounded, so a lost event cannot hang the run). */
  def awaitQuiet(timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def busy = synchronized {
      jobs.values.exists(_.end < 0) ||
        stages.values.exists(s => s.submit >= 0 && s.complete < 0)
    }
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def jobRecords: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map("id" -> j.id, "submit" -> j.submit,
      "end" -> j.end, "span" -> j.span, "desc" -> j.desc,
      "stages" -> j.stages))
  }

  def planRecords: Seq[Map[String, Any]] = synchronized(plans.toSeq)

  def stageRecords: Seq[Map[String, Any]] = synchronized {
    stages.values.toSeq.filter(_.complete >= 0).map(s => Map(
      "id" -> s.id, "attempt" -> s.attempt, "submit" -> s.submit,
      "first_launch" -> s.firstLaunch, "complete" -> s.complete,
      "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
      "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
      "spill" -> s.spill, "input" -> s.input, "output" -> s.output))
  }
}

/** Hadoop per-scheme filesystem statistics, summed over schemes. The
  * counters are process-wide, which in a one-client closed loop makes
  * the before/after difference of an op that op's own file traffic. */
object FsStats {
  final case class Snap(readOps: Long, writeOps: Long, bytesRead: Long,
                        bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(readOps - o.readOps, writeOps - o.writeOps,
      bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
    def toMap: Map[String, Long] = Map("read_ops" -> readOps,
      "write_ops" -> writeOps, "bytes_read" -> bytesRead,
      "bytes_written" -> bytesWritten)
  }

  @annotation.nowarn("cat=deprecation")
  def snap(): Snap = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Snap(all.map(s => s.getReadOps.toLong + s.getLargeReadOps).sum,
      all.map(_.getWriteOps.toLong).sum, all.map(_.getBytesRead).sum,
      all.map(_.getBytesWritten).sum)
  }
}

/** The local filesystem, counting its calls in the Hadoop statistics
  * that [[FsStats]] reads: the stock local filesystem counts bytes but
  * no operations. Reads are opens, listings and status probes; writes are
  * creates, appends, renames, deletes and mkdirs. A call made inside
  * another counted call is not counted again. Installed through the
  * `fs.file.impl` Hadoop setting; it changes no behaviour. */
class CountingRawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{CreateFlag, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  private def counted[A](read: Boolean)(body: => A): A = {
    val d = CountingRawLocalFileSystem.depth
    if (d.get == 0 && statistics != null)
      if (read) statistics.incrementReadOps(1) else statistics.incrementWriteOps(1)
    d.set(d.get + 1)
    try body finally d.set(d.get - 1)
  }

  override def open(f: Path, bufferSize: Int) = counted(read = true)(super.open(f, bufferSize))
  override def listStatus(f: Path) = counted(read = true)(super.listStatus(f))
  override def getFileStatus(f: Path) = counted(read = true)(super.getFileStatus(f))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable) =
    counted(read = false)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable) =
    counted(read = false)(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long, progress: Progressable) =
    counted(read = false)(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable) =
    counted(read = false)(super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def append(f: Path, bufferSize: Int, progress: Progressable) =
    counted(read = false)(super.append(f, bufferSize, progress))
  override def rename(src: Path, dst: Path) = counted(read = false)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean) = counted(read = false)(super.delete(p, recursive))
  override def mkdirs(f: Path) = counted(read = false)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission) =
    counted(read = false)(super.mkdirs(f, permission))
}

object CountingRawLocalFileSystem {
  private val depth = ThreadLocal.withInitial[Int](() => 0)
}

/** `fs.file.impl`: the stock checksummed local filesystem over
  * [[CountingRawLocalFileSystem]]. */
class CountingLocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new CountingRawLocalFileSystem)

/** Garbage-collection time and heap peaks of this JVM. */
object JvmStats {
  import java.lang.management.ManagementFactory

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def peakHeapMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use after a full collection: the live set. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
