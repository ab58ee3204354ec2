package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of the Spark jobs that ran under one job group. */
final class GroupStats {
  var jobs = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // ms, submit -> end
  var execCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var rowsRead = 0L
}

/** A span the benchmark recorded around one call into a layer. */
final case class Span(name: String, opId: Int, parent: Option[String],
                      startMs: Long, endMs: Long, stats: GroupStats) {
  def wallS: Double = (endMs - startMs) / 1e3

  /** Wall time during which no job of this span was running. */
  def driverS: Double = {
    val ivs = stats.jobIntervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(endMs - startMs - covered, 0L) / 1e3
  }
}

/** Job-group tracer: every span runs its jobs under its own job group, and a
  * listener folds job and stage metrics into that group. Spans stay in
  * memory and are written out by the caller when the run ends.
  *
  * The listener bus is asynchronous, so a span closes only after a marker
  * job submitted behind it has been seen: events of one queue arrive in
  * order, hence every event of the span has been folded by then.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val MarkerPrefix = "perfbench-marker-"

  sc.addSparkListener(this)

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private val markerJobs = mutable.HashMap.empty[Int, String]
  private val markerEnds = mutable.HashSet.empty[String]

  /** Group of the span that is open, if any. Jobs that carry another
    * group, such as a streaming query's own, belong to it.
    */
  @volatile private var openGroup: Option[String] = None

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = groupOf(e.properties)
    if (tag.exists(_.startsWith(MarkerPrefix))) markerJobs(e.jobId) = tag.get
    else tag.filter(groups.contains).orElse(openGroup).foreach { g =>
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageGroup(_) = g)
      groups(g).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    markerJobs.remove(e.jobId).foreach(markerEnds += _)
    jobGroup.remove(e.jobId).foreach { g =>
      groups(g).jobIntervals += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.remove(e.stageInfo.stageId).foreach { g =>
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        val s = groups(g)
        s.execCpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.rowsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Wait until the listener has folded every event posted so far. */
  private def sync(): Unit = {
    val marker = s"$MarkerPrefix${markerEnds.size}-${System.nanoTime()}"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!synchronized(markerEnds.contains(marker)) && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  /** Run `body` as span `name`; its jobs are tagged with a fresh group. */
  def span[T](name: String, opId: Int = -1, parent: Option[String] = None)(body: => T): (T, Span) = {
    val group = s"$name#${spans.size}"
    sync()
    val stats = new GroupStats
    synchronized { groups(group) = stats; openGroup = Some(group) }
    sc.setJobGroup(group, name)
    val t0 = System.currentTimeMillis()
    val out = try body finally sc.clearJobGroup()
    val t1 = System.currentTimeMillis()
    sync()
    synchronized { openGroup = None }
    val s = Span(name, opId, parent, t0, t1, stats)
    spans += s
    (out, s)
  }

  def close(): Unit = sc.removeSparkListener(this)

  def toJson: String = spans.map { s =>
    val p = s.parent.map(x => "\"" + x + "\"").getOrElse("null")
    s"""{"name":"${s.name}","op_id":${s.opId},"parent":$p,"start_ms":${s.startMs},""" +
      s""""end_ms":${s.endMs},"wall_s":${s.wallS},"driver_s":${s.driverS},"jobs":${s.stats.jobs},""" +
      s""""exec_cpu_s":${s.stats.execCpuNs / 1e9},"shuffle_mb":${s.stats.shuffleWriteBytes / 1e6},""" +
      s""""spill_mb":${s.stats.spillBytes / 1e6},"rows_read":${s.stats.rowsRead}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
