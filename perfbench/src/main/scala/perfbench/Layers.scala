package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** One finished Spark job with its tasks' metrics summed. */
final case class JobRec(id: Int, description: String, startMs: Long,
    endMs: Long, tasks: Long, taskFailures: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, input: Long, output: Long)

/** Records every job and its tasks. It is attached to the SparkContext
  * only around traced calls, so untraced runs carry no listener. */
final class JobRecorder extends SparkListener {
  private final class Acc(val id: Int, val desc: String, val startMs: Long) {
    var tasks, taskFailures, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite,
      spill, input, output = 0L
  }
  private val open = scala.collection.mutable.HashMap.empty[Int, Acc]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val done = ArrayBuffer.empty[JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    open(e.jobId) = new Acc(e.jobId, desc, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(open.get).foreach { a =>
      a.tasks += 1
      if (e.reason != Success) a.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { a =>
      done += JobRec(a.id, a.desc, a.startMs, e.time, a.tasks, a.taskFailures, a.runMs,
        a.cpuNs, a.gcMs, a.shuffleRead, a.shuffleWrite, a.spill, a.input,
        a.output)
    }
  }

  def jobs: Seq[JobRec] = synchronized(done.toList)
}

/** Counters behind the `io.*` metrics, bumped by [[CountingRawFs]]. */
object IoCounters {
  val enabled = new java.util.concurrent.atomic.AtomicBoolean(false)
  val reads, lists, writes = new AtomicLong
  private def bump(c: AtomicLong): Unit = if (enabled.get) c.incrementAndGet()
  def read(): Unit = bump(reads)
  def list(): Unit = bump(lists)
  def write(): Unit = bump(writes)

  /** (read ops, list ops, write ops, bytes read, bytes written). */
  def snapshot(): Array[Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics
    var (br, bw) = (0L, 0L)
    st.forEach { s =>
      if (s.getScheme == "file") { br += s.getBytesRead; bw += s.getBytesWritten }
    }
    Array(reads.get, lists.get, writes.get, br, bw)
  }
}

/** The local file system with operation counts: opens and status reads
  * are read ops, listings are list ops, creates, renames, deletes and
  * mkdirs are write ops. Installed as `fs.file.impl` in traced runs. */
class CountingRawFs extends RawLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    IoCounters.read(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    IoCounters.read(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    IoCounters.list(); super.listStatus(f)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    IoCounters.write()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    IoCounters.write()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    IoCounters.write()
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    IoCounters.write(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    IoCounters.write(); super.delete(p, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    IoCounters.write(); super.mkdirs(f, permission)
  }
}

class CountingLocalFs extends LocalFileSystem(new CountingRawFs)

/** A span around one public call of the benchmark, or one Spark job. */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    op: Int, startNs: Long, endNs: Long, label: String = "")

/** Spans of the benchmark's public calls, kept in memory. Calls nest on
  * the benchmark's one client thread; Spark jobs are attached afterwards
  * to the innermost call whose interval holds their start. */
final class Tracer {
  @volatile var enabled = false
  private var op = -1
  private val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack.empty[Int]
  // epoch milliseconds ↔ nanoTime, so Spark event times line up
  private val nanoAtEpoch0 = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def startOp(i: Int): Unit = op = i

  def call[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans(id) = Span(id, name, "call", parent, op, t0, System.nanoTime())
      }
    }

  def calls: Seq[Span] = spans.toList

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toList

  /** Call spans plus one child span per job. */
  def withJobs(jobs: Seq[JobRec]): Seq[Span] = {
    val cs = calls
    val js = jobs.sortBy(_.startMs).zipWithIndex.map { case (j, k) =>
      val s = j.startMs * 1000000L + nanoAtEpoch0
      val e = j.endMs * 1000000L + nanoAtEpoch0
      val encl = cs.filter(c => c.startNs <= s + 1000000L && s <= c.endNs)
      val parent = if (encl.isEmpty) None else Some(encl.maxBy(_.startNs))
      Span(cs.size + k, s"job ${j.id}", "job", parent.map(_.id).getOrElse(-1),
        parent.map(_.op).getOrElse(-1), s, e, j.description)
    }
    cs ++ js
  }

  def epochToNano(epochMs: Long): Long = epochMs * 1000000L + nanoAtEpoch0
}

object Spans {
  /** Length of the union of intervals, in the intervals' unit. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var first = true
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (first || s > curE) {
        if (!first) total += curE - curS
        curS = s; curE = e; first = false
      } else if (e > curE) curE = e
    }
    if (first) 0L else total + curE - curS
  }

  /** A span's duration minus the part of it its children cover. */
  def selfNs(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cov = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a })
      s.id -> (s.endNs - s.startNs - cov)
    }.toMap
  }

  def toJson(all: Seq[Span]): String = {
    val self = selfNs(all)
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    all.map { s =>
      f"""{"id":${s.id},"name":${Json.str(s.name)},"kind":"${s.kind}",""" +
        f""""parent":${s.parent},"op":${s.op},"start_s":${(s.startNs - t0) / 1e9}%.6f,""" +
        f""""end_s":${(s.endNs - t0) / 1e9}%.6f,"self_s":${self(s.id) / 1e9}%.6f,""" +
        f""""label":${Json.str(s.label)}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Host steal and load, read from /proc; diagnostics only. */
object HostStat {
  /** (steal ticks, total ticks) from the aggregate cpu line. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal [guest guest_nice]
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
