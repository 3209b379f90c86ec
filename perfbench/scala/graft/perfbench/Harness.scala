package graft.perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.Cli

/** Runs graft the way a user does — argv through `Cli.parseArgs` into
  * `Cli.run` — in one warm local session, and measures it from outside.
  *
  * usage: Harness JOB_JSON. The job (written by run.py) names the
  * workload, the argv with `{OUT}` and standing-state placeholders, the
  * input size, the run budget and the verifier command; the harness writes
  * `{correct, attempted, failed, metrics}` to the job's result path.
  *
  * Untraced (`trace = false`): the session and standing state are set up
  * `setups` times (median = `setup_s`): the first set-up starts the Spark
  * context in the cold JVM, each later one starts a new session on it
  * (a context restart would make the next runs pay for re-warming it).
  * Then timed runs repeat until their walls sum to `seconds`. Traced: one
  * set-up, then runs alternate untraced and under [[LayerListener]] for
  * the same budget; the per-layer metrics are medians over the traced
  * runs. Every run's output
  * is verified after its timing stops; a run that throws or fails
  * verification counts as failed and keeps its wall sample.
  */
object Harness {
  private val mapper = new ObjectMapper()
  private val StageLine = """pipeline (\S+): (\d+) rows""".r
  /** The stages text_pipeline's CLI flags enable, as the CLI prints them. */
  private val PipelineStages = Seq("scrub_lines", "quality", "exact_dedup", "near_dup",
    "within_batch_near_dup", "decontaminate", "redact")

  final case class Run(wall: Double, ok: Boolean, outBytes: Long, layers: Map[String, Double])

  /** One call into the program: start and end on the millisecond clock
    * Spark's job events use, and its wall seconds on the nanosecond clock,
    * all read around the same call. */
  final case class Span(startMs: Long, endMs: Long, wall: Double)

  def timed[T](body: => T): (T, Span) = {
    val (m0, n0) = (System.currentTimeMillis(), System.nanoTime())
    val r = body
    (r, Span(m0, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e9))
  }

  /** The calls set-up makes into the program, in order; each is reported
    * as `setup.<name>_s` from the traced invocation's set-up. */
  val SetupSteps = Seq("session", "corpus", "fingerprint_table", "band_table", "warmup")

  def main(args: Array[String]): Unit = {
    val job = mapper.readTree(Paths.get(args(0)).toFile)
    val h = new Harness(job)
    val result = try h.run() finally h.stop()
    mapper.writeValue(Paths.get(job.get("result").asText).toFile, result)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val walk = Files.walk(p)
    try walk.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally walk.close()
  }

  /** Row count of a parquet output from its footers (no Spark job). */
  def parquetRows(dir: Path): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val walk = Files.walk(dir)
    try walk.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .mapToLong { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
        try r.getRecordCount finally r.close()
      }.sum()
    finally walk.close()
  }

  /** Bytes read through Hadoop's local filesystem, all threads. */
  @annotation.nowarn("cat=deprecation")
  def localFsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
}

final class Harness(job: JsonNode) {
  import Harness._

  private val work = Paths.get(job.get("work").asText)
  private val cores = job.get("cores").asInt
  private val docs = job.get("docs").asLong
  private val inputBytes = job.get("input_bytes").asLong
  private val argvTemplate = job.get("argv").elements.asScala.map(_.asText).toVector
  private val verifyCmd = job.get("verify").elements.asScala.map(_.asText).toVector
  private val corpusJsonl = Option(job.get("corpus_jsonl")).filterNot(_.isNull).map(_.asText)

  private var spark: SparkSession = _
  private var standing = Map.empty[String, String]
  private var runCount = 0
  /** Seconds of each set-up step of the latest set-up. */
  private val setupSpans = mutable.LinkedHashMap.empty[String, Double]
  private val heap = new OldGenPeak

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def addSpan(name: String, secs: Double): Unit =
    setupSpans(name) = setupSpans.getOrElse(name, 0.0) + secs

  private def step[T](name: String)(body: => T): T = {
    val (r, sp) = timed(body)
    addSpan(name, sp.wall)
    r
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  def run(): java.util.Map[String, Any] = {
    val trace = job.get("trace").asBoolean
    val seconds = job.get("seconds").asDouble
    val setups = (1 to job.get("setups").asInt).map { k =>
      val s = setup(k)
      log(f"setup $k: $s%.3f s")
      s
    }
    val all = measure(seconds, if (trace) Some(new LayerListener) else None)
    val untraced = all.filter(_.layers.isEmpty)
    val traced = all.filter(_.layers.nonEmpty)
    val metrics = new java.util.LinkedHashMap[String, Any]()
    if (!trace) {
      val walls = untraced.map(_.wall)
      metrics.put("wall_s", median(walls))
      metrics.put("docs_per_s", median(walls.map(docs / _)))
      metrics.put("setup_s", median(setups))
      metrics.put("out_bytes_per_in_byte", median(untraced.map(_.outBytes.toDouble / inputBytes)))
    } else {
      metrics.put("heap_live_peak_mb", heap.peakBytes / LayerListener.MB)
      SetupSteps.foreach(s => metrics.put(s"setup.${s}_s", setupSpans.getOrElse(s, 0.0)))
      traced.head.layers.keys.toSeq.sorted.foreach { k =>
        metrics.put(k, median(traced.map(_.layers(k))))
      }
      // each traced run against the mean of the untraced runs on either
      // side of it, which cancels JIT warming that is linear over the runs
      val overhead = all.indices.filter(i => all(i).layers.nonEmpty)
        .map(i => all(i).wall - (all(i - 1).wall + all(i + 1).wall) / 2)
      metrics.put("trace.overhead_s", median(overhead))
    }
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", all.forall(_.ok))
    result.put("attempted", all.size)
    result.put("failed", all.count(!_.ok))
    result.put("metrics", metrics)
    result
  }

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session start, standing state through the program's own writers,
    * then warm-up runs; returns its wall seconds. */
  private def setup(k: Int): Double = {
    val dir = work.resolve(s"setup_$k")
    deleteTree(dir)
    setupSpans.clear()
    val t0 = System.nanoTime()
    spark = step("session") {
      if (spark == null) session()
      else {
        val s = spark.newSession()
        SparkSession.setActiveSession(s)
        SparkSession.setDefaultSession(s)
        s
      }
    }
    corpusJsonl.foreach { jsonl =>
      val corpusDir = dir.resolve("corpus").toString
      step("corpus")(spark.read.json(jsonl).write.parquet(corpusDir))
      val corpus = spark.read.parquet(corpusDir)
      val nd = graft.ops.Pipeline.NearDup()
      // one bucket per core: the corpus is small, and a file per
      // (task, bucket) pair would otherwise dominate every probe's listing
      val buckets = cores
      val (fp, bands) = (s"perfbench_fp_$k", s"perfbench_bands_$k")
      step("fingerprint_table") {
        graft.ops.Dedup.writeFingerprintTable(corpus, "text", fp, numBuckets = buckets)
      }
      step("band_table") {
        graft.ops.Dedup.writeBandTable(corpus, "text", "id", bands,
          numHashes = nd.numHashes, bands = nd.bands, shingleSize = nd.shingleSize,
          numBuckets = buckets)
      }
      val wh = work.resolve("warehouse")
      standing = Map("{CORPUS}" -> corpusDir,
        "{FP}" -> wh.resolve(fp).toString, "{BANDS}" -> wh.resolve(bands).toString)
      standing.values.foreach(p => require(Files.isDirectory(Paths.get(p)), s"missing $p"))
    }
    (1 to job.get("warmups").asInt).foreach { _ =>
      val out = work.resolve("warmup")
      val (sp, _, err) = cliRun(out)
      err.foreach(e => throw e)
      addSpan("warmup", sp.wall)
      deleteTree(out)
      reclaim()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** One CLI invocation; returns (its span, captured stdout, failure). */
  private def cliRun(out: Path): (Span, String, Option[Throwable]) = {
    deleteTree(out)
    val argv = argvTemplate.map(a => standing.getOrElse(a, a.replace("{OUT}", out.toString)))
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    val (err, sp) = timed {
      try {
        Console.withOut(ps)(Cli.run(spark, Cli.parseArgs(argv.toArray), System.in))
        None
      } catch { case NonFatal(e) => Some(e) }
    }
    (sp, buf.toString("UTF-8"), err)
  }

  /** Between runs, outside any timing: a full GC (its old-generation
    * occupancy is the live heap the run left behind), then drop Spark's
    * data cache. `Cli.run` leaves nothing cached today (`Flatten` unpersists
    * its input); the clear keeps it that way for every timed run should a
    * program change leave a Dataset cached, which a fresh CLI process
    * would not have and a later run over the same files would read
    * instead of parsing. */
  private def reclaim(): Unit = {
    System.gc()
    spark.catalog.clearCache()
  }

  /** Timed runs until their walls sum to `budget`, at least three (the
    * first still runs while the JIT warms; the median of three drops it);
    * with a listener, every second run is traced and the runs start and
    * end untraced, so traced and untraced runs see the same warm-up. */
  private def measure(budget: Double, listener: Option[LayerListener]): Seq[Run] = {
    val runs = mutable.ArrayBuffer.empty[Run]
    heap.arm(true)
    while (runs.size < 3 || runs.map(_.wall).sum < budget ||
        (listener.nonEmpty && runs.size % 2 == 0)) {
      runCount += 1
      val out = work.resolve("out")
      val traced = listener.filter(_ => runs.size % 2 == 1)
      val sc = spark.sparkContext
      // every run starts with the listener bus empty: events the last run
      // left queued would otherwise be processed during this one
      PerfbenchBus.drain(sc)
      traced.foreach { l => l.reset(); sc.addSparkListener(l) }
      val fs0 = localFsBytesRead()
      val (sp, stdout, err) = cliRun(out)
      val wall = sp.wall
      val fsRead = localFsBytesRead() - fs0
      val (layers, sane) = traced.map { l =>
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(l)
        val held = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        val m = l.layers(sp.startMs, sp.endMs)
        (layerMetrics(m, out, stdout, fsRead, held), traceSane(l, m, sp))
      }.getOrElse((Map.empty[String, Double], true))
      val ok = err match {
        case Some(e) => log(s"run $runCount threw: $e"); false
        case None => verify(out, stdout) && sane
      }
      runs += Run(wall, ok, treeBytes(out), layers)
      log(f"run $runCount: wall $wall%.3f s ${if (ok) "ok" else "FAILED"}" +
        (if (traced.nonEmpty) " (traced)" else ""))
      if (ok) deleteTree(out)
      else if (!Files.exists(work.resolve("failed_out"))) Files.move(out, work.resolve("failed_out"))
      else deleteTree(out)
      reclaim()
    }
    Thread.sleep(200) // the last GC's notification arrives asynchronously
    heap.arm(false)
    runs.toSeq
  }

  private def stageCounts(stdout: String): Seq[(String, Long)] =
    stdout.linesIterator.collect { case StageLine(s, n) => s -> n.toLong }.toSeq

  private def layerMetrics(base: Map[String, Double], out: Path, stdout: String,
      fsRead: Long, heldBytes: Long): Map[String, Double] = {
    val counts = stageCounts(stdout).toMap
    val rows = PipelineStages.map(s => s"ops.rows.$s" -> counts.getOrElse(s, 0L).toDouble)
    val kept = counts.getOrElse(PipelineStages.last, 0L)
    base ++ rows ++ Map(
      "sources.read_amp" -> fsRead.toDouble / inputBytes,
      "sinks.csv_mb" -> (treeBytes(out.resolve("csv")) / LayerListener.MB),
      "sinks.parquet_mb" -> (treeBytes(out.resolve("parquet")) / LayerListener.MB),
      "ops.kept_frac" -> kept.toDouble / docs,
      "util.blocks_held_mb" -> heldBytes / LayerListener.MB)
  }

  /** Checks a traced run's attribution against facts it does not derive
    * from (the self times and the gap add up to the span by construction):
    * every job is claimed by a module (`other.jobs` is 0); every job the
    * run started ended inside the `Cli.run` span, so none was lost before
    * the bus drained or left running after the call returned; and the
    * executors' summed run time fits in the time some job ran times the
    * cores (1% + 50 ms per core of slack for millisecond rounding), which
    * fails when tasks land in a run whose jobs did not carry them. */
  private def traceSane(l: LayerListener, m: Map[String, Double], sp: Span): Boolean = {
    val unclaimed = m(s"${LayerListener.Other}.jobs").toInt
    val strays = l.strays(sp.startMs, sp.endMs)
    val busy = (sp.endMs - sp.startMs) / 1e3 - m("driver.gap_s")
    val execRun = LayerListener.Modules.map(x => m(s"$x.exec_run_s")).sum
    val problems = Seq(
      (unclaimed > 0, s"$unclaimed jobs claimed by no module"),
      (strays > 0, s"$strays jobs unfinished or outside the Cli.run span"),
      (execRun > cores * (busy * 1.01 + 0.05),
        f"executor run time $execRun%.3f s exceeds $cores cores x $busy%.3f s of job time")
    ).collect { case (true, msg) => msg }
    problems.foreach(p => log(s"trace check failed: $p"))
    problems.isEmpty
  }

  /** Read back what needs Spark's readers, then hand the output to the
    * verifier; true when it passes. */
  private def verify(out: Path, stdout: String): Boolean = {
    val facts = new java.util.LinkedHashMap[String, Any]()
    val pq = new java.util.LinkedHashMap[String, Long]()
    val pqDir = out.resolve("parquet")
    if (Files.isDirectory(pqDir)) {
      val ls = Files.list(pqDir)
      try ls.iterator.asScala.toSeq.foreach { d =>
        pq.put(d.getFileName.toString.stripSuffix(".parquet"), parquetRows(d))
      } finally ls.close()
    }
    facts.put("parquet_rows", pq)
    facts.put("stage_counts", stageCounts(stdout).map { case (s, n) => Seq[Any](s, n).asJava }.asJava)
    val pipeline = out.resolve("pipeline")
    if (Files.isDirectory(pipeline))
      facts.put("kept", spark.read.parquet(pipeline.toString).select("id", "text").collect()
        .map(r => Seq[Any](r.getString(0), r.getString(1)).asJava).toSeq.asJava)
    val factsFile = work.resolve("facts.json")
    mapper.writeValue(factsFile.toFile, facts)
    val p = new ProcessBuilder((verifyCmd ++ Seq(out.toString, factsFile.toString)).asJava)
      .redirectErrorStream(true).start()
    val msg = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val code = p.waitFor()
    if (code != 0) log(s"verification failed:\n$msg")
    code == 0
  }
}

/** Largest old-generation occupancy right after a full GC while armed,
  * from the JMX GC notifications. Young collections are skipped: the old
  * pool they report still holds the garbage only a full GC removes. */
final class OldGenPeak extends NotificationListener {
  private val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
    .map(_.getName).getOrElse(sys.error("no old-generation memory pool"))
  @volatile private var armed = false
  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  def arm(on: Boolean): Unit = armed = on

  def peakBytes: Long = peak

  override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (info.getGcAction == "end of major GC")
        Option(info.getGcInfo.getMemoryUsageAfterGc.get(oldPool)).foreach { u =>
          if (u.getUsed > peak) peak = u.getUsed
        }
    }
}
