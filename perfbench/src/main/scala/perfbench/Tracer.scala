package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What one traced call cost: wall time, the Spark jobs it launched, the
  * task CPU they burned, the rows they read from files, the bytes they
  * shuffled and wrote, and the driver gap — wall time no job interval of
  * the call covers (planning, AQE re-optimization, collect, driver-side
  * loops). */
final case class CallStat(wallMs: Double, jobs: Int, tasks: Int,
    cpuS: Double, gapMs: Double, rowsRead: Long, shuffleBytes: Long,
    bytesWritten: Long)

/** One span of the trace file: a layer call, its parent and its counts. */
final case class Span(name: String, parent: String, startMs: Long,
    endMs: Long, stat: CallStat)

/**
 * Per-layer tracing. Untraced (`enabled = false`) it only runs the body:
 * no listener is installed and no local property is set, so the
 * end-to-end run measures the program alone. Traced, each [[span]] tags
 * the calling thread with a unique `perfbench.tag` local property; a
 * [[SparkListener]] keys every job, stage and task to the tag its job
 * started under, and the bus is drained before the call's counts are read.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val TagKey = "perfbench.tag"

  private final class Counts {
    var jobs = 0
    var tasks = 0
    var cpuNs = 0L
    var rowsRead = 0L
    var shuffleBytes = 0L
    var bytesWritten = 0L
    val intervals = ArrayBuffer.empty[(Long, Long)]
  }

  private val lock = new Object
  private val counts = scala.collection.mutable.HashMap.empty[String, Counts]
  private val stageTag = scala.collection.mutable.HashMap.empty[Int, String]
  private val jobTag = scala.collection.mutable.HashMap.empty[Int, (String, Long)]
  private val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack.empty[String]
  private var seq = 0L

  private def countsOf(tag: String): Counts = counts.getOrElseUpdate(tag, new Counts)

  if (enabled) spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
        .getOrElse("untagged")
      countsOf(tag).jobs += 1
      jobTag(e.jobId) = (tag, e.time)
      e.stageIds.foreach(s => stageTag(s) = tag)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobTag.remove(e.jobId).foreach { case (tag, start) =>
        countsOf(tag).intervals += ((start, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = countsOf(stageTag.getOrElse(e.stageId, "untagged"))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.rowsRead += m.inputMetrics.recordsRead
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  })

  /** Run `body` as one call into layer `name`; traced, its counts are
    * recorded as a span. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val parentTag = sc.getLocalProperty(TagKey)
    val tag = lock.synchronized { seq += 1; s"$name#$seq" }
    val parent = stack.headOption.getOrElse("")
    stack.push(name)
    sc.setLocalProperty(TagKey, tag)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wallMs = (System.nanoTime() - t0) / 1e6
      val end = System.currentTimeMillis()
      sc.setLocalProperty(TagKey, parentTag)
      stack.pop()
      org.apache.spark.PerfbenchBus.drain(sc)
      val stat = lock.synchronized {
        val c = counts.remove(tag).getOrElse(new Counts)
        CallStat(wallMs, c.jobs, c.tasks, c.cpuNs / 1e9,
          math.max(0.0, wallMs - covered(c.intervals.toSeq, start, end)),
          c.rowsRead, c.shuffleBytes, c.bytesWritten)
      }
      spans += Span(name, parent, start, end, stat)
    }
  }

  /** Milliseconds of [start, end] covered by the union of job intervals. */
  private def covered(iv: Seq[(Long, Long)], start: Long, end: Long): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    (total + (curB - curA)).toDouble
  }

  /** Every recorded call of layer `name`. */
  def calls(name: String): Seq[CallStat] = spans.filter(_.name == name).map(_.stat).toSeq

  /** Write the spans as JSON lines: name, start, end, parent, counts. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val c = s.stat
      s"""{"name":${Json.str(s.name)},"parent":${Json.str(s.parent)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""wall_ms":${Json.num(c.wallMs)},"jobs":${c.jobs},"tasks":${c.tasks},""" +
        s""""cpu_s":${Json.num(c.cpuS)},"gap_ms":${Json.num(c.gapMs)},""" +
        s""""rows_read":${c.rowsRead},"shuffle_bytes":${c.shuffleBytes},""" +
        s""""bytes_written":${c.bytesWritten}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
