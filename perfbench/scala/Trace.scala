package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (0 for a root); all spans of one benchmark run share `run`. */
final case class Span(id: Int, parent: Int, name: String, run: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task and job totals for one job group. */
final class GroupStats {
  var jobs = 0
  var jobsEnded = 0
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val taskDurations = mutable.ArrayBuffer.empty[Long]

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; jobsEnded += o.jobsEnded; tasks += o.tasks; failedTasks += o.failedTasks
    taskMs += o.taskMs; gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    taskDurations ++= o.taskDurations
  }

  /** Slowest task over the median task (1.0 when there are no tasks). */
  def skew: Double =
    if (taskDurations.isEmpty) 1.0
    else {
      val s = taskDurations.sorted
      s.last.toDouble / math.max(1L, s(s.length / 2))
    }
}

/** Aggregates task metrics per job group. The tracer tags every traced call
  * with its own job group (`name#spanId`), so totals attribute to the
  * innermost layer call that ran the job. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  val groups = mutable.LinkedHashMap.empty[String, GroupStats]

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged")
    jobGroup(e.jobId) = g
    e.stageIds.foreach(stageGroup(_) = g)
    stats(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    stats(jobGroup.getOrElse(e.jobId, "untagged")).jobsEnded += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, "untagged"))
    s.tasks += 1
    if (!e.taskInfo.successful) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.taskDurations += m.executorRunTime
    }
  }

  /** Wait until every started job's end event has been delivered (the
    * listener bus is asynchronous), giving up after `timeoutMs`. */
  def drain(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = synchronized(groups.values.exists(g => g.jobsEnded < g.jobs))
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Totals over every job that the spans with these ids ran. */
  def totals(spanIds: Set[Int]): GroupStats = synchronized {
    val t = new GroupStats
    groups.foreach { case (n, g) =>
      n.split('#') match {
        case Array(_, id) if spanIds.contains(id.toInt) => t.add(g)
        case _ =>
      }
    }
    t
  }
}

/** In-memory span recorder. With `enabled = false` every `span` call runs
  * its body and records nothing, so untraced runs pay no tracing cost. */
final class Tracer(val enabled: Boolean, val run: String, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener: Option[GroupListener] =
    if (enabled) { val l = new GroupListener; sc.addSparkListener(l); Some(l) } else None
  private var nextId = 1

  /** The id the next span gets: spans with an id at or above a mark taken
    * before a call are the spans of that call. */
  def mark: Int = nextId
  private var stack = List.empty[(Int, String)]

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, name) :: stack
      sc.setJobGroup(s"$name#$id", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some((pid, n)) => sc.setJobGroup(s"$n#$pid", n)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, parent, name, run, t0, t1)
      }
    }

  /** Span duration minus the time its direct children cover (children of
    * one span run one after another, never overlapping). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def selfByName(name: String, from: Int = 0): Double =
    spans.filter(s => s.name == name && s.id >= from).map(selfSeconds).sum
  def totalByName(name: String, from: Int = 0): Double =
    spans.filter(s => s.name == name && s.id >= from).map(_.seconds).sum

  /** Ids of the spans named `root` and of every span below them (a parent's
    * id is always lower than its children's). */
  def under(root: String): Set[Int] =
    spans.sortBy(_.id).foldLeft(Set.empty[Int]) { (ids, s) =>
      if (s.name == root || ids.contains(s.parent)) ids + s.id else ids
    }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    listener.foreach(_.drain())
    val groups = listener.map(_.groups).getOrElse(mutable.LinkedHashMap.empty[String, GroupStats])
    val lines = spans.sortBy(_.id).map { s =>
      val g = groups.get(s"${s.name}#${s.id}").map(g =>
        s""","spark":{"jobs":${g.jobs},"tasks":${g.tasks},"task_ms":${g.taskMs},"gc_ms":${g.gcMs},""" +
        s""""shuffle_write_bytes":${g.shuffleWriteBytes},"shuffle_read_bytes":${g.shuffleReadBytes},""" +
        s""""spill_bytes":${g.spillBytes},"failed_tasks":${g.failedTasks}}""").getOrElse("")
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","run":"${s.run}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f$g}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** A disabled tracer for untimed helper calls inside a traced run. */
  lazy val off: Tracer = new Tracer(false, "", null)
}
