package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.analytics.Scoring
import graft.corpus.{Fixtures, FromTable, Synth}
import graft.kernel.Extract
import graft.model.{Doc, DocResult}
import graft.ops.Dedup
import graft.pipeline.ExtractionPipeline
import graft.sources.DocSources
import graft.streaming.{IncrementalClusters, IncrementalDedup}
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Files and JSON helpers shared by the workloads. */
object Io {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(rm)
    f.delete(): Unit
  }
  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)
  def bytes(dir: String): Long = files(new File(dir)).map(_.length).sum
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def writeJsonMap(path: String, m: Map[String, String]): Unit =
    Files.write(Paths.get(path), m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }
      .mkString("{\n", ",\n", "\n}").getBytes(StandardCharsets.UTF_8))
}

/** Kernel and codec micro-measurements: single-thread, in the driver, on
  * seeded pages and documents. Taken in every traced run, so they read the
  * same layer on every workload. */
object Probes {
  /** Median ns per element over 7 timed passes, after 5 untimed ones so
    * the JIT has compiled the measured code. */
  private def timeEach[A](xs: Seq[A])(f: A => Unit): Double = {
    (1 to 5).foreach(_ => xs.foreach(f))
    val t = (1 to 7).map { _ =>
      val t0 = System.nanoTime(); xs.foreach(f); (System.nanoTime() - t0).toDouble
    }
    Stats.median(t) / xs.size
  }

  def kernelAndCodec(seed: Long): Map[String, Double] = {
    val r = new Synth.Rng(Synth.splitmix64(seed ^ 0x5eedL))
    def pageDocs(gen: Synth.Rng => String) = (0 until 1000).map(i =>
      Doc(s"p$i", Seq(graft.model.Span(graft.model.Kinds.TextKind, gen(r), "", 0))))
    val kinds = Seq(
      "layout_json" -> pageDocs(Synth.layoutJsonPage),
      "html" -> pageDocs(Synth.htmlPage),
      "markdown" -> pageDocs(Synth.markdownPage))
    val opts = Extract.Options()
    val kernel = kinds.map { case (k, docs) =>
      s"kernel.us_per_page.$k" -> timeEach(docs)(d => Extract.extractDoc(d, opts)) / 1e3
    }
    val docs = (0L until 1000L).map(Synth.docFor(seed, _))
    val blobs = docs.map(d => graft.pipeline.SpanCodec.pack(d.spans))
    kernel.toMap ++ Map(
      "pipeline.codec.pack_ns_per_doc" ->
        timeEach(docs)(d => graft.pipeline.SpanCodec.pack(d.spans)),
      "pipeline.codec.unpack_ns_per_doc" ->
        timeEach(blobs)(b => graft.pipeline.SpanCodec.unpack(b)),
      "pipeline.codec.bytes_per_doc" -> blobs.map(_.length.toDouble).sum / blobs.size)
  }
}

// ---------------------------------------------------------------- extract

/** The production `Main extract` path over a seeded synthetic corpus:
  * readDocs → extract → writeResults → partitionMetrics over the re-read
  * output. One op is one whole pass; items are pages. */
final class ExtractWorkload(o: Main.Opts) extends Workload(o) {
  // About 66k pages: a pass at 3 task threads takes about 3 s, so a
  // 10-second window holds three or four passes and their median.
  private val nDocs = 20000L
  private val corpus = s"$dir/corpus"
  private val out = s"$dir/results"
  // the same plan at 1 thread and at Main.Threads
  private val cfg = ExtractionPipeline.Config(numPartitions = Main.ShufflePartitions)
  private var pages = 0L

  def itemUnit = "pages"

  def setup(): Unit =
    ExtractionPipeline.synthDocs(spark, nDocs, seed = o.seed, parallelism = Main.Threads * 4)
      .write.mode(SaveMode.Overwrite).parquet(corpus)

  private def readResults(s: SparkSession) =
    s.read.parquet(out).selectExpr("doc_id", "spans",
      "cast(success as boolean) as success",
      "failure_code", "n_spans", "n_pages", "partition_id", "kernel_nanos")
      .as[DocResult](Encoders.product[DocResult])

  /** Main's `extract` subcommand, step by step. */
  private def pass(s: SparkSession): Unit = {
    sub("extract", "pipeline") {
      DocSources.writeResults(
        ExtractionPipeline.extract(DocSources.readDocs(s, corpus), cfg), out)
    }
    sub("metrics_pass", "main") {
      ExtractionPipeline.partitionMetrics(readResults(s), snapshotId = 0)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/_metrics")
    }
  }

  /** Two passes: the first, cold, takes about three steady passes, and the
    * JIT compiler is still busy through the second, which runs 20-40% over
    * the steady pass. */
  def warm(): Unit = {
    pass(spark)
    pass(spark)
    pages = spark.read.parquet(s"$out/_metrics").agg(sum("n_pages")).first().getLong(0)
  }

  def round(r: Int): Seq[OpRecord] = Seq(timed("pass", r, pages.toDouble)(pass(spark)))

  def itemsPerS(ops: Seq[OpRecord]): Double = pages / opP50(ops)

  def verify(): Unit = {
    import spark.implicits._
    val verdicts = Scoring.spanVerdicts(
      ExtractionPipeline.extract(Fixtures.inputDocs.toDS(),
        ExtractionPipeline.Config(numPartitions = 2)),
      Fixtures.expected.values.toSeq.toDS())
      .select("doc_id", "verdict").as[(String, String)].collect()
    check("golden_fixtures_14_of_14",
      verdicts.length == 14 && verdicts.forall(_._2 == "PASS"),
      verdicts.filter(_._2 != "PASS").mkString(","))
    val results = readResults(spark)
    check("all_docs_extracted", results.count() == nDocs, s"expected $nDocs results")
    // a seeded sample of result rows must equal a direct kernel recompute
    val sample = results.filter(pmod(xxhash64(col("doc_id"), lit(o.seed)), lit(50)) === 0)
      .collect().map(r => r.doc_id -> r).toMap
    val inputs = DocSources.readDocs(spark, corpus)
      .filter(col("doc_id").isin(sample.keys.toSeq: _*)).collect()
    val bad = inputs.filterNot { d =>
      val want = Extract.extractDoc(d)
      val got = sample(d.doc_id)
      got.spans == want.spans && got.failure_code == want.failure_code &&
        got.success == want.success && got.n_pages == want.n_pages &&
        got.n_spans == want.n_spans
    }
    check("sample_matches_kernel_recompute",
      inputs.length == sample.size && sample.size > 20 && bad.isEmpty,
      s"${bad.length} of ${sample.size} sampled docs differ: ${bad.take(3).map(_.doc_id).mkString(",")}")
  }

  override def layerMetrics(traced: Seq[OpRecord], after: Seq[OpRecord]): Map[String, Double] = {
    val ex = statsOf("extract")
    val mp = statsOf("metrics_pass")
    val exStages = ex.map(_._2.stages)
    val m = mutable.Map.empty[String, Double]
    def perPass(f: GroupStats => Double) = Stats.median(ex.map(x => f(x._2)))
    m("pipeline.exchange.shuffle_write_bytes") = perPass(_.shuffleWrite.toDouble)
    m("pipeline.exchange.shuffle_read_bytes") = perPass(_.shuffleRead.toDouble)
    m("pipeline.exchange.stage_s") = Stats.median(exStages.map(_.map(_.wallS).sum))
    m("pipeline.exchange.task_skew") =
      Stats.median(exStages.map(ss => ss.filter(_.readsShuffle).map(_.taskSkew).maxOption.getOrElse(1.0)))
    m("pipeline.exchange.spill_bytes") = perPass(_.spill.toDouble)
    m("pipeline.exchange.gc_s") = perPass(_.gcS)
    m("main.extract_jobs") = Stats.median(ex.zip(mp).map { case (a, b) =>
      (a._2.jobs.size + b._2.jobs.size).toDouble })
    m("main.metrics_pass_s") = Stats.median(mp.map(_._1))
    val kernelS = readResults(spark).agg(sum("kernel_nanos")).first().getLong(0) / 1e9
    m("kernel.busy_share") = kernelS / ex.last._2.runS

    // sources: the read alone (decoded to Doc rows) and the sink alone
    // (over cached results), each the median of three calls
    def med3(f: => Unit) = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 })
    m("sources.read_s") = med3(DocSources.readDocs(spark, corpus).foreach((_: Doc) => ()))
    val cached = ExtractionPipeline.extract(DocSources.readDocs(spark, corpus), cfg).persist()
    cached.count()
    m("sources.write_s") = med3(DocSources.writeResults(cached, s"$dir/sink_probe"))
    cached.unpersist(blocking = true)
    m("sources.out_bytes") = Io.bytes(out).toDouble

    // scaling: the identical pass at one task thread, in a fresh session,
    // against the untraced window at Main.Threads
    val pN = itemsPerS(after)
    spark.stop()
    val one = Main.session(1, o.work)
    try {
      pass(one)
      val walls = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (walls.size < 2 || (System.nanoTime() - t0) / 1e9 < o.seconds / 2.0) {
        val s0 = System.nanoTime(); pass(one); walls += (System.nanoTime() - s0) / 1e9
      }
      m("main.pages_per_s_1t") = pages / Stats.median(walls.toSeq)
    } finally one.stop()
    m("main.scaling_eff") = pN / (Main.Threads * m("main.pages_per_s_1t"))
    extra("scaling_threads") = Main.Threads.toString
    m.toMap
  }
}

// ---------------------------------------------------------------- battery

/** The battery's queries (see [[Layers.BatteryQueries]]) over
  * seeded analytics tables. The warm pass dumps every result to parquet
  * for the oracle, four queries at a time (it is untimed); the timed
  * rounds run the queries one after another through the noop sink. One op
  * is one query; items are queries. */
final class BatteryWorkload(o: Main.Opts) extends Workload(o) {
  private val data = s"$dir/tables"
  private val queries = Layers.BatteryQueries
  def itemUnit = "queries"
  // One round (about 11 s) per window whatever the engine's speed, so a
  // faster engine measures the same queries and the run's length is fixed.
  override protected def roundsPerWindow: Option[Int] = Some(1)

  private val scale = DataGen.Scale(customers = 300, orders = 3000, events = 2000,
    documents = 250, embeddings = 250)

  def setup(): Unit = DataGen.writeTables(spark, data, o.seed, scale)

  private def fn(q: String) = SparkEntry.queries(q)

  def warm(): Unit = {
    val outDir = s"$dir/out"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Threads)
    try {
      val futures = queries.map { q =>
        q -> pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = fn(q)(spark, data).coalesce(1).write
            .mode(SaveMode.Overwrite).parquet(s"$outDir/$q")
        })
      }
      futures.foreach { case (q, f) =>
        val err = try { f.get(); None } catch { case e: Throwable => Some(e) }
        check(s"dump_$q", err.isEmpty, err.map(_.toString).getOrElse(""))
      }
    } finally pool.shutdownNow(): Unit
    Io.writeJsonMap(s"$dir/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) })
    Files.write(Paths.get(s"$dir/tables.txt"), data.getBytes(StandardCharsets.UTF_8))
  }

  def round(r: Int): Seq[OpRecord] = queries.map { q =>
    timed(q, r, 1.0) {
      sub(q, "ops")(fn(q)(spark, data).write.format("noop").mode(SaveMode.Overwrite).save())
    }
  }

  private def perQuery(ops: Seq[OpRecord]): Map[String, Double] =
    ops.filter(_.ok).groupBy(_.name).map { case (q, xs) => q -> Stats.median(xs.map(_.wallS)) }

  /** Median over the queries of each query's median wall. */
  override def opP50(ops: Seq[OpRecord]): Double = Stats.median(perQuery(ops).values.toSeq)

  /** Queries over the sum of their median walls (the battery's steady
    * sum, inverted). */
  def itemsPerS(ops: Seq[OpRecord]): Double = {
    val pq = perQuery(ops)
    pq.size / pq.values.sum
  }

  /** The x-queries have no SQL twin: x1 is checked against a direct
    * kernel recompute of the same documents, x4 against the golden
    * fixtures. */
  def verify(): Unit = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect()
    val recomputed = docs.map { case (id, t, l, s, n) =>
      Extract.extractDoc(FromTable.docFromRow(id, t, l, s, n)) }
    val wantSpans = recomputed.flatMap(r => r.spans.map(sp =>
      (r.doc_id, sp.offset, sp.kind, sp.media_ref, sp.text))).sorted.toSeq
    val gotSpans = spark.read.parquet(s"$dir/out/x1_extract_spans")
      .as[(String, Int, String, String, String)].collect().sorted.toSeq
    check("x1_matches_kernel_recompute", gotSpans == wantSpans,
      s"${gotSpans.size} spans vs ${wantSpans.size} recomputed")
    val x4 = spark.read.parquet(s"$dir/out/x4_golden_verdicts")
      .select("verdict").as[String].collect()
    check("x4_golden_14_of_14", x4.length == 14 && x4.forall(_ == "PASS"), x4.mkString(","))
  }

  override def layerMetrics(traced: Seq[OpRecord], after: Seq[OpRecord]): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    perQuery(traced).foreach { case (q, s) => m(s"query.${q}_s") = s }
    val rounds = traced.map(_.round).distinct.size.toDouble
    // per-family totals for one round of the battery
    Layers.Families.foreach { f =>
      val ss = stepStats.filter(_._1.startsWith(f)).map(_._3).toSeq
      if (ss.nonEmpty) {
        val g = ss.reduce(_ ++ _)
        m(s"ops.$f.jobs") = g.jobs.size / rounds
        m(s"ops.$f.plan_ms") = g.driverMs / rounds
        m(s"ops.$f.shuffle_bytes") = g.shuffleWrite / rounds
        m(s"ops.$f.cpu_s") = g.cpuS / rounds
      }
    }
    // join stages: every stage that reads shuffle output
    val joinStages = stepStats.flatMap(_._3.stages).filter(_.readsShuffle)
    if (joinStages.nonEmpty) {
      m("ops.join.max_task_records") =
        joinStages.flatMap(_.tasks.map(_.shuffleRecordsRead)).max.toDouble
      m("ops.join.task_skew") = joinStages.map(_.taskSkew).max
      m("ops.join.shuffle_bytes") = joinStages.flatMap(_.tasks.map(_.shuffleReadBytes)).sum / rounds
      m("ops.join.spill_bytes") = joinStages.flatMap(_.tasks.map(_.spillBytes)).sum / rounds
    }
    m.toMap
  }
}

// ---------------------------------------------------------------- incremental

/** Seeded document drops folded one at a time into the incremental dedup
  * store and cluster labels (closed loop, one client: the next drop lands
  * only after the previous micro-batch committed). The stores grow over the
  * whole run, as nightly drops would: the warm pass lands the first drop,
  * and each window is one round that lands `perRound` more into the
  * committed stores and then compacts both through the latest batch. The
  * work of a window is fixed, not timed, so a faster engine measures the
  * same drops into the same stores. One op is one drop, from landing to
  * commit, or one compaction; items are documents. */
final class IncrementalWorkload(o: Main.Opts) extends Workload(o) {
  private val perRound = 1
  private val perDrop = 150L
  // the warm drop and one round for each of a traced run's three windows
  private val staged = 1 + perRound * 3
  override protected def roundsPerWindow: Option[Int] = Some(1)
  // a setup takes well under a second, so more of them steady the median
  override protected def setupRuns: Int = 5
  private val staging = s"$dir/staging"
  private val stream = s"$dir/stream"
  private var landed = 0
  private val progress = mutable.ArrayBuffer.empty[(Double, Double, Double)] // plan ms, addBatch s, jobs
  private val compactWalls = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  def itemUnit = "documents"

  def setup(): Unit = {
    import spark.implicits._
    val total = staged * perDrop
    val (seed, n) = (o.seed, perDrop)
    spark.range(0L, total, 1L, Main.Threads)
      .map(DataGen.document(seed, _, total)).select("doc_id", "text")
      .withColumn("drop", (col("doc_id") / n).cast("int"))
      .repartition(col("drop"))
      .write.mode(SaveMode.Overwrite).partitionBy("drop").parquet(staging)
  }

  /** Lands the next drop and waits for its micro-batch to commit. */
  private def land(r: Int): OpRecord = {
    val i = landed
    val op = timed("drop", r, perDrop.toDouble) {
      val t0 = System.currentTimeMillis()
      val src = new File(s"$staging/drop=$i").listFiles.find(_.getName.endsWith(".parquet")).get
      new File(s"$stream/in").mkdirs()
      // landing: the drop file appears in the stream's input directory
      Files.copy(src.toPath, Paths.get(s"$stream/in/drop_$i.parquet"))
      val q = IncrementalDedup.run(spark, s"$stream/in", s"$stream/store", s"$stream/pairs",
        s"$stream/cp", labelsDir = Some(s"$stream/labels"))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      collectGroup(q.runId.toString, s"drop $i", "streaming", t0).foreach { g =>
        q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
          progress += ((p.durationMs.getOrDefault("queryPlanning", 0L).toDouble,
            p.durationMs.getOrDefault("addBatch", 0L) / 1e3, g.jobs.size.toDouble))
        }
      }
    }
    landed += 1
    op
  }

  /** Compacts both stores through the latest micro-batch. */
  private def compact(r: Int): Seq[OpRecord] = {
    val through = landed - 1L
    var cd = 0.0
    val a = timed("compact_dedup", r, 0.0) {
      val t0 = System.nanoTime()
      sub("compact_dedup", "streaming")(IncrementalDedup.compactStore(spark, s"$stream/store", through))
      cd = (System.nanoTime() - t0) / 1e9
    }
    val b = timed("compact_labels", r, 0.0) {
      val t0 = System.nanoTime()
      sub("compact_labels", "streaming")(IncrementalClusters.compact(spark, s"$stream/labels", through))
      compactWalls += ((r, cd, (System.nanoTime() - t0) / 1e9))
    }
    Seq(a, b)
  }

  def warm(): Unit = { land(-1); compact(-1): Unit }
  def round(r: Int): Seq[OpRecord] = Seq.fill(perRound)(land(r)) ++ compact(r)

  override def opP50(ops: Seq[OpRecord]): Double =
    Stats.median(ops.filter(o => o.ok && o.name == "drop").map(_.wallS))

  def itemsPerS(ops: Seq[OpRecord]): Double =
    Stats.median(ops.groupBy(_.round).values.map(rs => rs.map(_.items).sum / rs.map(_.wallS).sum).toSeq)

  def verify(): Unit = {
    import spark.implicits._
    extra("drops_landed") = landed.toString
    val pairs = spark.read.parquet(s"$stream/pairs")
    val labels = IncrementalClusters.currentLabels(spark, s"$stream/labels")
      .as[(Long, Long)].collect().toMap
    val batch = Dedup.duplicateClusters(pairs.select("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    check("incremental_labels_equal_batch_clusters", labels == batch && batch.nonEmpty,
      s"${labels.size} incremental labels vs ${batch.size} batch")
    val all = spark.read.parquet(staging).filter(col("drop") < landed).select("doc_id", "text")
    def canon(df: DataFrame) = df.select("doc_a", "doc_b").as[(Long, Long)].collect().sorted.toSeq
    val batchPairs = canon(Dedup.lshNearDupPairs(Dedup.minhashSignatures(all)))
    check("incremental_pairs_equal_batch_pairs", canon(pairs) == batchPairs,
      s"${canon(pairs).size} incremental pairs vs ${batchPairs.size} batch")
  }

  override def layerMetrics(traced: Seq[OpRecord], after: Seq[OpRecord]): Map[String, Double] = {
    val walls = compactWalls.filter(w => w._1 >= 1000 && w._1 < 2000).toSeq
    Map(
      "streaming.jobs_per_drop" -> Stats.median(progress.map(_._3).toSeq),
      "streaming.batch_plan_ms" -> Stats.median(progress.map(_._1).toSeq),
      "streaming.add_batch_s" -> Stats.median(progress.map(_._2).toSeq),
      "streaming.compact_dedup_s" -> Stats.median(walls.map(_._2)),
      "streaming.compact_labels_s" -> Stats.median(walls.map(_._3)),
      "streaming.store_bytes" -> (Io.bytes(s"$stream/store") + Io.bytes(s"$stream/labels")).toDouble,
      "streaming.store_files" ->
        (Io.files(new File(s"$stream/store")) ++ Io.files(new File(s"$stream/labels"))).size.toDouble)
  }
}
