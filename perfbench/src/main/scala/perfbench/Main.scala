package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE`.
  *
  * Sets up seeded inputs (several times; the median is `setup_s`), runs
  * an untimed warm-up that also produces the outputs the correctness
  * gates check, then measures the workload for `--seconds` seconds (a
  * fixed number of rounds on workloads that ask for one). With `--trace 1`
  * it measures three half-length windows instead: untraced, under the
  * benchmark's own Spark listener, and untraced again; the result carries
  * the per-layer metrics, the tracing overhead and a span file. The
  * result object is written to `--out`; the wrapper script prints it. */
object Main {

  /** Task threads: one fewer than the host's cores, at most 4. The spare
    * core runs the JIT compiler, the garbage collector and the driver; with
    * a task thread on every core they queue behind the tasks and the
    * compiler falls behind by a different amount in every JVM. On a 4-core
    * host under G1 this halved the run-to-run spread of the extract pass. */
  val Threads: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", new File(req("work")).getAbsolutePath, req("out"))
  }

  /** Shuffle partitions of every session: the same at 1 thread and at
    * `Threads`, so a 1-thread pass plans exactly the stages of the
    * measured pass. */
  val ShufflePartitions: Int = Threads * 4

  def session(threads: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.io.compression.zstd.level", "1")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Exits explicitly, also on failure: a thread the engine left running
    * must not hold the JVM open after the result is written. */
  def main(args: Array[String]): Unit = {
    val code = try {
      val o = parse(args)
      new File(o.work).mkdirs()
      val wl: Workload = o.workload match {
        case "extract"     => new ExtractWorkload(o)
        case "battery"     => new BatteryWorkload(o)
        case "incremental" => new IncrementalWorkload(o)
        case other         => sys.error(s"unknown workload $other")
      }
      val result = wl.run()
      Files.write(Paths.get(o.out), result.getBytes(StandardCharsets.UTF_8))
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }
}

/** Peak resident set size of this process, sampled every 10 ms while armed
  * (covers only the timed part). */
final class RssSampler {
  @volatile private var armed = false
  @volatile private var peakKb = 0L
  private def rssKb(): Long = {
    val it = scala.io.Source.fromFile("/proc/self/status")
    try it.getLines().find(_.startsWith("VmRSS:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally it.close()
  }
  private val t = new Thread(() => {
    while (true) {
      if (armed) peakKb = math.max(peakKb, rssKb())
      Thread.sleep(10)
    }
  }, "perfbench-rss")
  t.setDaemon(true)
  t.start()
  def arm(): Unit = { peakKb = rssKb(); armed = true }
  def disarm(): Double = { armed = false; peakKb / 1024.0 }
}

/** Peak heap in use right after a garbage collection, over the GCs while
  * armed: the heap the program's data kept alive, which a fixed-size heap
  * hides from the RSS. With no GC while armed, the heap in use at the end. */
final class HeapAfterGc {
  import scala.jdk.CollectionConverters._
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var armed = false
  @volatile private var peak = 0L
  @volatile private var gcs = 0
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used); gcs += 1 }
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def arm(): Unit = synchronized { peak = 0L; gcs = 0; armed = true }
  /** (peak MB, number of GCs seen) */
  def disarm(): (Double, Int) = synchronized {
    armed = false
    val bytes = if (gcs > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (bytes / 1048576.0, gcs)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  /** The highest percentile p (in 5-point steps) with at least ten samples
    * above it, with its value; None when there are fewer than 20 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    (95 to 55 by -5).find(p => s.length - math.ceil(s.length * p / 100.0) >= 10)
      .map(p => p -> s(math.min(s.length - 1, math.ceil(s.length * p / 100.0).toInt - 1)))
  }
}

/** One timed operation of a workload. */
final case class OpRecord(name: String, round: Int, wallS: Double, ok: Boolean,
                          items: Double)

/** Shared run skeleton: setup ×`setupRuns` (median), warm pass, measured window,
  * correctness gates, result object. */
abstract class Workload(val o: Main.Opts) {
  val spark: SparkSession = Main.session(Main.Threads, o.work)
  protected val dir: String = o.work
  protected val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  protected val extra = mutable.LinkedHashMap.empty[String, String]
  private var tracer: Option[Tracer] = None
  private var lastTracer: Tracer = _
  private var rootSpan = 0
  protected val stepStats = mutable.ArrayBuffer.empty[(String, Double, GroupStats)]

  /** Runs `body` as a named step: under tracing a traced step (own job
    * group, counters recorded in `stepStats`), otherwise a plain call. */
  protected def sub[T](name: String, layer: String)(body: => T): T = tracer match {
    case Some(tr) =>
      val (out, wall, stats, _) = tr.step(rootSpan, name, layer)(body)
      stepStats += ((name, wall, stats))
      out
    case None => body
  }

  protected def statsOf(name: String): Seq[(Double, GroupStats)] =
    stepStats.collect { case (n, w, s) if n == name => (w, s) }.toSeq

  /** Counters of a job group the engine set itself (a streaming query's
    * run id), when tracing. */
  protected def collectGroup(group: String, name: String, layer: String,
                             t0: Long): Option[GroupStats] =
    tracer.map(_.collect(group, rootSpan, name, layer, t0, System.currentTimeMillis())._1)

  /** Writes the seeded inputs; must be repeatable (overwrites). */
  def setup(): Unit
  /** How often setup() runs. The first run in a JVM is always the
    * slowest, which the median leaves out. */
  protected def setupRuns: Int = 3
  /** Untimed pass: warms the JIT and the file cache, and leaves behind the
    * outputs the correctness gates read. */
  def warm(): Unit
  /** One round of timed operations. */
  def round(r: Int): Seq[OpRecord]
  /** Correctness gates over what warm() and the timed rounds produced. */
  def verify(): Unit
  /** The items-per-second figure of the window and what an item is. */
  def itemsPerS(ops: Seq[OpRecord]): Double
  def itemUnit: String
  /** Per-layer metrics gathered in the traced window; `after` is the
    * untraced window that follows it. */
  def layerMetrics(traced: Seq[OpRecord], after: Seq[OpRecord]): Map[String, Double] = Map.empty
  /** A fixed number of rounds per measured window, for workloads whose
    * work must not depend on their speed; None measures for `--seconds`. */
  protected def roundsPerWindow: Option[Int] = None

  protected def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  protected def timed(name: String, r: Int, items: Double)(body: => Unit): OpRecord = {
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op $name failed: $e")
        e.printStackTrace()
        false
    }
    OpRecord(name, r, (System.nanoTime() - t0) / 1e9, ok, items)
  }

  /** Rounds until `seconds` have elapsed (at least one round), or exactly
    * `roundsPerWindow` rounds. */
  private def window(seconds: Double, firstRound: Int): Seq[OpRecord] = {
    val out = mutable.ArrayBuffer.empty[OpRecord]
    val t0 = System.nanoTime()
    var r = firstRound
    def more = roundsPerWindow match {
      case Some(n) => r < firstRound + n
      case None    => out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds
    }
    while (more) {
      out ++= round(r)
      r += 1
    }
    out.toSeq
  }

  def opP50(ops: Seq[OpRecord]): Double = Stats.median(ops.filter(_.ok).map(_.wallS))

  def run(): String = {
    val setups = (1 to setupRuns).map { _ =>
      val t0 = System.nanoTime()
      setup()
      (System.nanoTime() - t0) / 1e9
    }
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](n: String)(f: => T): T = {
      val t0 = System.nanoTime(); val x = f; phases(n) = (System.nanoTime() - t0) / 1e9; x
    }
    phase("warm")(warm())
    val rss = new RssSampler
    val heap = new HeapAfterGc
    rss.arm()
    heap.arm()
    val ops = phase("window")(window(if (o.trace) o.seconds / 2.0 else o.seconds.toDouble, 0))
    val peakRss = rss.disarm()
    val (peakHeap, gcs) = heap.disarm()
    extra("gcs_in_window") = gcs.toString
    // traced runs: untraced, traced, untraced again; the overhead compares
    // the traced window with the untraced one after it, so residual
    // warm-up in the first window does not count as (negative) overhead
    val (tracedOps, afterOps) = if (!o.trace) (Seq.empty[OpRecord], Seq.empty[OpRecord]) else {
      val tr = new Tracer(spark)
      tracer = Some(tr)
      lastTracer = tr
      rootSpan = tr.span(0, "workload", o.workload, "workload", System.currentTimeMillis(), 0L)
      val traced =
        try window(o.seconds / 2.0, 1000)
        finally { tracer = None; tr.stop(); tr.close(rootSpan, System.currentTimeMillis()) }
      (traced, window(o.seconds / 2.0, 2000))
    }
    val allOps = ops ++ tracedOps ++ afterOps
    val failedOps = allOps.count(!_.ok)
    check("no_failed_ops", failedOps == 0, s"$failedOps of ${allOps.size} ops failed")
    phase("verify")(verify())

    val result = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!o.trace) {
      result("setup_s") = (Stats.median(setups), "s")
      result("op_p50_s") = (opP50(ops), "s")
      result("items_per_s") = (itemsPerS(ops), "1/s")
      result("peak_rss_mb") = (peakRss, "MB")
    } else {
      val overhead = opP50(tracedOps) / opP50(afterOps) - 1
      val layers = Layers.all.map(_._1 -> 0.0).toMap ++ Probes.kernelAndCodec(o.seed) ++
        layerMetrics(tracedOps, afterOps) + ("trace.overhead_share" -> overhead) +
        ("jvm.peak_heap_after_gc_mb" -> peakHeap)
      Layers.all.foreach { case (k, unit) => result(k) = (layers(k), unit) }
      val tr = lastTracer
      val self = tr.layerSelfTimes.map { case (l, (s, n)) =>
        s""""$l":{"self_s":${Json.num(s)},"count":$n}""" }.mkString("{", ",", "}")
      val traceFile = s"${o.work}/trace_${o.workload}.json"
      Files.write(Paths.get(traceFile),
        (s"""{"workload":"${o.workload}","seed":${o.seed},"untraced_op_p50_s":${Json.num(opP50(afterOps))},""" +
          s""""traced_op_p50_s":${Json.num(opP50(tracedOps))},"layers":$self,"spans":${tr.spansJson}}""")
          .getBytes(StandardCharsets.UTF_8))
      extra("trace_file") = Io.quote(traceFile)
    }
    val okOps = ops.filter(_.ok).map(_.wallS)
    extra("ops_measured") = okOps.size.toString
    extra("item_unit") = Io.quote(itemUnit)
    Stats.tail(okOps).foreach { case (p, v) => extra(s"op_p${p}_s") = Json.num(v) }
    extra("setup_runs_s") = setups.map(Json.num).mkString("[", ",", "]")
    extra("op_median_s") = ops.filter(_.ok).groupBy(_.name).toSeq.sortBy(_._1).map { case (n, xs) =>
      s""""$n":${Json.num(Stats.median(xs.map(_.wallS)))}""" }.mkString("{", ",", "}")
    extra("op_walls_s") = ops.map(x => Json.num(x.wallS)).mkString("[", ",", "]")
    extra("phase_s") = phases.map { case (n, v) => s""""$n":${Json.num(v)}""" }.mkString("{", ",", "}")
    spark.stop()

    val metrics = result.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val checksJson = checks.map { case (n, ok, d) =>
      s"""{"name":"$n","ok":$ok,"detail":${Io.quote(d.take(300))}}""" }.mkString("[", ",", "]")
    val extraJson = extra.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"correct":${checks.forall(_._2)},"attempted":${allOps.size},"failed":$failedOps,""" +
      s""""metrics":$metrics,"checks":$checksJson,"extra":$extraJson}"""
  }
}
