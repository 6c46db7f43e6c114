package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-task counters of one finished stage. */
final case class TaskStat(runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleWriteBytes: Long, shuffleReadBytes: Long,
                          shuffleRecordsRead: Long, spillBytes: Long)

final case class StageStat(stageId: Int, name: String,
                           startMs: Long, endMs: Long, tasks: Seq[TaskStat]) {
  def wallS: Double = (endMs - startMs) / 1e3
  def readsShuffle: Boolean = tasks.exists(_.shuffleReadBytes > 0)
  /** Slowest task over the median task of the stage (1.0 = level). */
  def taskSkew: Double = {
    val d = tasks.map(_.runMs.toDouble).sorted
    if (d.isEmpty) 1.0 else d.last / math.max(1.0, d(d.length / 2))
  }
}

final case class JobStat(jobId: Int, group: String, startMs: Long, endMs: Long,
                         stageIds: Seq[Int])

/** Totals over the jobs of one job group (one benchmark step).
  * `driverMs` is the part of the step's wall clock not covered by any of
  * its Spark jobs: planning, code generation, job scheduling gaps and
  * driver-side commits. */
final case class GroupStats(jobs: Seq[JobStat], stages: Seq[StageStat],
                            driverMs: Double) {
  private def tasks = stages.flatMap(_.tasks)
  def runS: Double = tasks.map(_.runMs).sum / 1e3
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def gcS: Double = tasks.map(_.gcMs).sum / 1e3
  def shuffleWrite: Long = tasks.map(_.shuffleWriteBytes).sum
  def shuffleRead: Long = tasks.map(_.shuffleReadBytes).sum
  def spill: Long = tasks.map(_.spillBytes).sum
  def ++(o: GroupStats): GroupStats =
    GroupStats(jobs ++ o.jobs, stages ++ o.stages, driverMs + o.driverMs)
}

object GroupStats {
  val empty: GroupStats = GroupStats(Nil, Nil, 0.0)
}

/** A span of the trace tree: workload → step → Spark job → stage. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      layer: String, startMs: Long, endMs: Long,
                      attrs: Map[String, Double] = Map.empty)

/** The benchmark's tracer. It registers its own SparkListener; the engine
  * is not instrumented. Each traced step
  * runs under a job group the benchmark sets (a thread-local property, so
  * no session conf changes), and its counters are read only after every
  * job started under that group has ended and the listener bus has
  * delivered that job's events. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val lock = new Object
  private val jobs = mutable.Map.empty[Int, JobStat]
  private val openJobs = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val stageTasks = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[TaskStat]]()
  private val stages = mutable.Map.empty[Int, StageStat]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 1
  private var fenceSeen = -1L

  private val GroupKey = "spark.jobGroup.id"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
      if (g == "perfbench-fence") {
        fenceSeen = e.properties.getProperty("perfbench.fence").toLong
        lock.notifyAll()
      } else if (g != null) {
        jobs(e.jobId) = JobStat(e.jobId, g, e.time, -1L, e.stageIds)
        openJobs(g) += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { j =>
        jobs(e.jobId) = j.copy(endMs = e.time)
        openJobs(j.group) -= 1
        lock.notifyAll()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val buf = stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => mutable.ArrayBuffer.empty[TaskStat])
        buf.synchronized {
          buf += TaskStat(m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
            m.shuffleReadMetrics.recordsRead, m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val ts = Option(stageTasks.remove((i.stageId, i.attemptNumber())))
        .map(_.toSeq).getOrElse(Nil)
      stages(i.stageId) = StageStat(i.stageId, i.name,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), ts)
    }
  }

  sc.addSparkListener(listener)

  def stop(): Unit = {
    sc.removeSparkListener(listener)
  }

  def span(parent: Int, kind: String, name: String, layer: String,
           startMs: Long, endMs: Long, attrs: Map[String, Double] = Map.empty): Int =
    lock.synchronized {
      val id = nextSpan
      nextSpan += 1
      spans += Span(id, parent, kind, name, layer, startMs, endMs, attrs)
      id
    }

  def close(id: Int, endMs: Long): Unit = lock.synchronized {
    val i = spans.indexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(endMs = endMs)
  }

  /** Blocks until the listener bus has delivered every event posted before
    * this call: a one-task fence job is submitted and its start event
    * awaited (the bus delivers in order), then every job of `group` must
    * have ended. No fixed sleeps. */
  def settle(group: String): Unit = {
    val token = System.nanoTime()
    val prevGroup = sc.getLocalProperty(GroupKey)
    sc.setJobGroup("perfbench-fence", "perfbench fence")
    sc.setLocalProperty("perfbench.fence", token.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty("perfbench.fence", null)
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevGroup)
    }
    val deadline = System.currentTimeMillis() + 60000
    lock.synchronized {
      while ((fenceSeen != token || openJobs(group) > 0) &&
             System.currentTimeMillis() < deadline)
        lock.wait(1000)
      require(fenceSeen == token && openJobs(group) == 0,
        s"listener did not settle for job group $group")
    }
  }

  /** Runs `body` as one step under its own job group; returns its result,
    * wall seconds and counters (read after the group settled). The step,
    * its jobs and their stages become spans under `parent`. */
  def step[T](parent: Int, name: String, layer: String)(body: => T): (T, Double, GroupStats, Int) = {
    val group = s"pb-$name-${System.nanoTime()}"
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    sc.setJobGroup(group, name)
    val out = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    val (stats, sid) = collect(group, parent, name, layer, t0, t1)
    (out, wall, stats, sid)
  }

  /** Counters of an existing job group (e.g. a streaming query's run id),
    * recorded as a span under `parent`. */
  def collect(group: String, parent: Int, name: String, layer: String,
              t0: Long, t1: Long): (GroupStats, Int) = {
    settle(group)
    lock.synchronized {
      val js = jobs.values.filter(_.group == group).toSeq.sortBy(_.jobId)
      val st = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
      val gs = GroupStats(js, st, (t1 - t0 - covered(t0, t1, js.map(j => (j.startMs, j.endMs)))).toDouble)
      val sid = span(parent, "step", name, layer, t0, t1,
        Map("jobs" -> js.size.toDouble, "driver_ms" -> gs.driverMs))
      js.foreach { j =>
        val jid = span(sid, "job", s"job ${j.jobId}", layer, j.startMs, j.endMs)
        j.stageIds.flatMap(stages.get).foreach { s =>
          span(jid, "stage", s"stage ${s.stageId}: ${s.name.take(60)}", layer,
            s.startMs, s.endMs, Map("tasks" -> s.tasks.size.toDouble,
              "shuffle_write_bytes" -> s.tasks.map(_.shuffleWriteBytes).sum.toDouble,
              "shuffle_read_bytes" -> s.tasks.map(_.shuffleReadBytes).sum.toDouble))
        }
      }
      // drop what was read so long runs keep a bounded heap
      js.foreach(j => jobs.remove(j.jobId))
      (gs, sid)
    }
  }

  /** Milliseconds of [t0, t1] covered by the union of `intervals`. */
  private def covered(t0: Long, t1: Long, intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = 0L
    var curB = 0L
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curB) { total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
    total + curB - curA
  }

  /** Self time and count per layer: a span's duration minus the part of
    * its interval covered by its children. */
  def layerSelfTimes: Map[String, (Double, Int)] = lock.synchronized {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      val self = ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
        (s.endMs - s.startMs - covered(s.startMs, s.endMs, kids.toSeq)) / 1e3
      }.sum
      layer -> (self, ss.size)
    }
  }

  def spansJson: String = lock.synchronized {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
    spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${esc(s.name)}",""" +
        s""""layer":"${s.layer}","start_ms":${s.startMs},"end_ms":${s.endMs},"attrs":{$attrs}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
