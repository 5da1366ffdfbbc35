package crawlbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with nanosecond resolution, so
  * benchmark spans and Spark listener times (epoch ms) share one axis. */
object Clock {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6
}

final case class JobRec(startMs: Long, endMs: Long)

/** Exact Spark counts from the listener bus. Every counter is a sum over
  * completed work, so two runs of the same plan on the same input read the
  * same numbers; only the task intervals carry wall time. */
final class SparkCounts extends SparkListener {
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  val jobs = ArrayBuffer.empty[JobRec]
  val taskSpans = ArrayBuffer.empty[(Long, Long)]
  var stages = 0L
  var tasks = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += JobRec(jobStarts.remove(e.jobId).getOrElse(e.time), e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  /** Counters accumulated so far, after every posted event is delivered. */
  def snap(spark: SparkSession): Snap = {
    BenchBus.drain(spark.sparkContext)
    synchronized {
      Snap(jobs.size.toLong, stages, tasks, shuffleWrite, shuffleRead, spill,
        jobs.size, taskSpans.size)
    }
  }

  def jobsSince(s: Snap): Seq[JobRec] = synchronized(jobs.drop(s.jobIdx).toSeq)

  /** (union of task intervals, sum of task intervals) clipped to [a, b] ms,
    * over the tasks that ended after snapshot `s`. */
  def taskTime(s: Snap, a: Double, b: Double): (Double, Double) = {
    val iv = synchronized(taskSpans.drop(s.taskIdx).toSeq)
      .map { case (l, f) => (math.max(l.toDouble, a), math.min(f.toDouble, b)) }
      .filter { case (l, f) => f > l }
      .sortBy(_._1)
    var union = 0.0
    var curL = Double.NaN
    var curR = Double.NaN
    iv.foreach { case (l, r) =>
      if (curL.isNaN || l > curR) {
        if (!curL.isNaN) union += curR - curL
        curL = l; curR = r
      } else curR = math.max(curR, r)
    }
    if (!curL.isNaN) union += curR - curL
    (union, iv.map { case (l, r) => r - l }.sum)
  }
}

/** Counter totals; `jobIdx`/`taskIdx` mark where the listener's job and
  * task logs stood when the snapshot was taken. */
final case class Snap(jobs: Long, stages: Long, tasks: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long, jobIdx: Int, taskIdx: Int) {
  def minus(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead, spill - o.spill,
    jobIdx, taskIdx)
}

/** One traced interval. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double, parent: Int)

/** In-memory span store; written out once, when the benchmark ends. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]
  def add(name: String, startMs: Double, endMs: Double, parent: Int): Int = synchronized {
    val id = buf.size
    buf += Span(id, name, startMs, endMs, parent)
    id
  }
  def all: Seq[Span] = synchronized(buf.toSeq)

  /** Attach each Spark job to the innermost span whose interval holds the
    * job's start, among `candidates` (ordered outermost first). */
  def attachJobs(jobs: Seq[JobRec], candidates: Seq[Int]): Unit = {
    val cs = all.filter(s => candidates.contains(s.id))
    jobs.foreach { j =>
      val st = j.startMs.toDouble
      // the listener clock has millisecond resolution: widen by 1 ms
      val inner = cs.filter(s => st >= s.startMs - 1 && st <= s.endMs + 1).lastOption
      inner.foreach(p => add("spark.job", st, j.endMs.toDouble, p.id))
    }
  }

  /** Self time per span name: duration minus the union of its children. */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val cover = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var r = Double.NegativeInfinity
      cover.foreach { case (a, b) =>
        val from = math.max(a, r)
        if (b > from) covered += b - from
        r = math.max(r, b)
      }
      s.name -> math.max(0.0, s.endMs - s.startMs - covered) / 1000.0
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs)},""" +
      s""""end_ms":${Json.num(s.endMs)},"parent":${s.parent}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Storage {
  /** Bytes of Spark storage blocks (memory plus disk) currently held. */
  def heldBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def dirFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(Files.isRegularFile(_)).toLong
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  def path(s: String): Path = Paths.get(s)
}

object Stats {
  /** Median by linear interpolation (the `statistics.median` rule). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of p90/p99 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(("p99", 0.99), ("p90", 0.90)).collectFirst {
      case (name, q) if xs.size * (1 - q) >= 10 =>
        val s = xs.sorted
        name -> s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1))
    }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
