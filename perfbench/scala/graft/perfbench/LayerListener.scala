package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Assigns each Spark job to the graft module whose code launched it, and
  * sums the job's task metrics and named accumulators per module.
  *
  * Attribution reads call stacks captured on the caller's thread, never
  * stage names: an AQE stage is named after the pool thread that submits
  * it. A SQL job is mapped through its `spark.sql.execution.id` property to
  * the execution's start event, whose `details` is the long call site of
  * the action; a nested execution falls back to its root execution; an RDD
  * job (no execution id, e.g. `zipWithIndex` in FlattenPlanner, the SQLite
  * sink's `runJob`) uses the long call site of its stages. The innermost
  * frame of a graft module wins; api, util and kernel frames pass through
  * to their caller.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  private final case class JobRec(module: String, start: Long, var end: Long)

  private val execs = mutable.HashMap.empty[Long, (String, Option[Long])]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageModule = mutable.HashMap.empty[Int, String]
  private val sums = mutable.HashMap.empty[String, Array[Double]]
  private val accums = mutable.HashMap.empty[Long, (String, Long)]

  def reset(): Unit = synchronized {
    execs.clear(); jobs.clear(); stageModule.clear(); sums.clear(); accums.clear()
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = (s.details, s.rootExecutionId.map(_.asInstanceOf[Long]))
    }
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val fromExec = exec.toSeq.flatMap { id =>
      execs.get(id).toSeq.flatMap { case (details, root) =>
        details +: root.flatMap(execs.get).map(_._1).toSeq
      }
    }
    val module = (fromExec ++ js.stageInfos.map(_.details)).iterator
      .map(moduleOf).collectFirst { case Some(m) => m }.getOrElse(Other)
    jobs(js.jobId) = JobRec(module, js.time, -1L)
    js.stageIds.foreach(s => stageModule.getOrElseUpdate(s, module))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(je.jobId).foreach(_.end = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    if (m != null) {
      val s = sums.getOrElseUpdate(stageModule.getOrElse(te.stageId, Other), new Array[Double](7))
      s(0) += 1
      s(1) += m.executorRunTime / 1e3
      s(2) += m.executorCpuTime / 1e9
      s(3) += m.jvmGCTime / 1e3
      s(4) += m.inputMetrics.bytesRead
      s(5) += m.shuffleWriteMetrics.bytesWritten
      s(6) += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    sc.stageInfo.accumulables.values.foreach { a =>
      for (name <- a.name if NamedAccumulators.contains(name); v <- a.value) {
        val n = v.toString.toLong
        if (accums.get(a.id).forall(_._2 < n)) accums(a.id) = (name, n)
      }
    }
  }

  /** Jobs that have not ended, or that started before t0 or ended after
    * t1 (epoch ms). */
  def strays(t0: Long, t1: Long): Int = synchronized {
    jobs.values.count(j => j.end < 0 || j.start < t0 || j.end > t1)
  }

  /** Per-layer metrics of the span [t0, t1] (epoch ms, the clock job
    * events use). Each ms inside the span is charged to the jobs running
    * then, split equally among them, or to `driver.gap_s` when none runs,
    * so the self times and the gap add up to the span.
    */
  def layers(t0: Long, t1: Long): Map[String, Double] = synchronized {
    val clipped = jobs.values.toSeq.map { j =>
      (j.module, math.max(j.start, t0), math.min(if (j.end < 0) t1 else j.end, t1))
    }
    val self = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var gap = 0.0
    val bounds = (Seq(t0, t1) ++ clipped.flatMap(j => Seq(j._2, j._3)))
      .filter(t => t >= t0 && t <= t1).distinct.sorted
    bounds.zip(bounds.tail).foreach { case (a, b) =>
      val active = clipped.filter(j => j._2 <= a && j._3 >= b)
      val secs = (b - a) / 1e3
      if (active.isEmpty) gap += secs
      else active.foreach(j => self(j._1) += secs / active.size)
    }
    val perModule = Modules.flatMap { m =>
      val s = sums.getOrElse(m, new Array[Double](7))
      Seq(s"$m.self_s" -> self(m),
        s"$m.jobs" -> jobs.values.count(_.module == m).toDouble,
        s"$m.tasks" -> s(0), s"$m.exec_run_s" -> s(1), s"$m.exec_cpu_s" -> s(2),
        s"$m.gc_s" -> s(3), s"$m.input_mb" -> s(4) / MB,
        s"$m.shuffle_write_mb" -> s(5) / MB, s"$m.spill_mb" -> s(6) / MB)
    }
    val named = NamedAccumulators.map { n =>
      s"ops.$n" -> accums.values.filter(_._1 == n).map(_._2.toDouble).sum
    }
    (perModule ++ named :+ ("driver.gap_s" -> gap)).toMap
  }
}

object LayerListener {
  val Other = "other"
  /** The layers: this repository's modules, plus `other` for jobs no
    * graft frame claims (expected to stay at 0). */
  val Modules: Seq[String] = Seq("sources", "plan", "meta", "sinks", "ops", "Cli", Other)
  val NamedAccumulators: Seq[String] = Seq("neardup_dropped_bucket_rows", "cc_changed")
  val MB: Double = 1024.0 * 1024.0

  private val Frame = """(?:^|/)(graft\.[\w$.]+?)\.[\w$<>]+\(""".r

  /** The module of the innermost graft frame in a long call site. */
  def moduleOf(callSite: String): Option[String] =
    callSite.linesIterator.flatMap(l => Frame.findFirstMatchIn(l.trim).map(_.group(1)))
      .map(classify).collectFirst { case Some(m) => m }

  private def classify(cls: String): Option[String] =
    if (cls.startsWith("graft.perfbench.")) Some(Other)
    else if (cls.startsWith("graft.sources.")) Some("sources")
    else if (cls.startsWith("graft.plan.")) Some("plan")
    else if (cls.startsWith("graft.meta.") || cls.startsWith("graft.functions.TypeGuess")) Some("meta")
    else if (cls.startsWith("graft.sinks.")) Some("sinks")
    else if (cls.startsWith("graft.ops.")) Some("ops")
    else if (cls.startsWith("graft.Cli")) Some("Cli")
    else None
}
