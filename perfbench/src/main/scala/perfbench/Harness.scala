package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The record stream the Python side reads: one JSON object per line,
  * each tagged with its `kind` (call, cycle, job, span, summary, ...).
  */
final class Records(path: String) {
  private val out = new PrintWriter(path, "UTF-8")
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.println(json.writeValueAsString(
      mutable.LinkedHashMap(("kind" -> kind) +: fields: _*)))
    out.flush()
  }
  def close(): Unit = out.close()
}

/** Job accounting from outside the engine: a `SparkListener` registered
  * by the benchmark. Each job carries the benchmark's local properties
  * (the public call it ran under, the phase of that call and the module
  * whose plan the call's write runs) and the graft frames of its long
  * call site, from which the Python side attributes it to a module.
  */
final class JobListener(rec: Records) extends SparkListener {
  private final class Job(val id: Int, val start: Long, val call: String,
      val phase: String, val module: String, val cycle: String,
      val site: Seq[String]) {
    var tasks = 0L
    var empty = 0L
    var shuffleBytes = 0L
    var cpuNs = 0L
    var maxTaskMs = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def graftFrames(details: String): Seq[String] =
    details.split("\n").iterator.map(_.trim)
      .filter(_.startsWith("graft."))
      .map(l => l.takeWhile(_ != '('))
      .toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val details = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    jobs.put(e.jobId, new Job(e.jobId, e.time, prop("perfbench.call"),
      prop("perfbench.phase"), prop("perfbench.module"), prop("perfbench.cycle"),
      graftFrames(details)))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    j.foreach { job =>
      job.synchronized {
        job.tasks += 1
        job.maxTaskMs = math.max(job.maxTaskMs, e.taskInfo.duration)
        Option(e.taskMetrics).foreach { m =>
          val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          val written = m.outputMetrics.recordsWritten +
            m.shuffleWriteMetrics.recordsWritten
          if (read == 0 && written == 0) job.empty += 1
          job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          job.cpuNs += m.executorCpuTime
        }
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      rec.emit("job", "job_id" -> j.id, "call" -> j.call, "phase" -> j.phase,
        "module" -> j.module, "cycle" -> j.cycle, "site" -> j.site, "start_ms" -> j.start,
        "end_ms" -> e.time, "tasks" -> j.tasks, "empty_tasks" -> j.empty,
        "shuffle_bytes" -> j.shuffleBytes, "task_cpu_s" -> j.cpuNs / 1e9,
        "max_task_s" -> j.maxTaskMs / 1e3,
        "ok" -> (e.jobResult == JobSucceeded))
    }
}

/** Times every public call a workload makes, from outside the module:
  * `construct` (building the DataFrame, including any eager jobs the
  * module runs), `plan` (physical planning) and `exec` (the write a
  * user would do). With tracing on it also records spans (cycle and
  * call) and tags each call's Spark jobs through local properties,
  * which the gate pool's threads inherit.
  */
final class Harness(val spark: SparkSession, val rec: Records,
    val outRoot: String) {
  @volatile var tracing = false
  private val callSeq = new AtomicInteger(0)
  private var cycleId = "setup"
  private var cycleOut = s"$outRoot/setup"
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS(): Double = osBean.getProcessCpuTime / 1e9
  def nowS(): Double = System.nanoTime() / 1e9
  def epochMs(): Long = System.currentTimeMillis()

  def gcS(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def setProps(call: String, phase: String, module: String = ""): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.call", call)
    sc.setLocalProperty("perfbench.phase", phase)
    sc.setLocalProperty("perfbench.module", module)
    sc.setLocalProperty("perfbench.cycle", cycleId)
  }

  private def span(name: String, layer: String, parent: String,
      startMs: Long, endMs: Long): Unit =
    if (tracing)
      rec.emit("span", "name" -> name, "layer" -> layer, "parent" -> parent,
        "cycle" -> cycleId, "start_ms" -> startMs, "end_ms" -> endMs)

  /** Run one timed cycle; returns its wall seconds. */
  def cycle(id: String)(body: => Unit): Double = {
    cycleId = id
    cycleOut = s"$outRoot/$id"
    new File(cycleOut).mkdirs()
    val (c0, w0, e0) = (cpuS(), nowS(), epochMs())
    body
    val (c1, w1, e1) = (cpuS(), nowS(), epochMs())
    span(id, "cycle", "", e0, e1)
    rec.emit("cycle", "cycle" -> id, "wall_s" -> (w1 - w0),
      "cpu_s" -> (c1 - c0), "traced" -> tracing)
    w1 - w0
  }

  def out(name: String): String = s"$cycleOut/$name"

  private def record(layer: String, name: String, id: String, t: Array[Double],
      e0: Long, e1: Long, err: Option[Throwable], check: Map[String, Any]): Unit = {
    span(id, layer, cycleId, e0, e1)
    err.foreach { x =>
      System.err.println(s"[perfbench] $layer.$name failed in $cycleId: $x")
    }
    rec.emit("call", "cycle" -> cycleId, "layer" -> layer, "call" -> name,
      "id" -> id, "construct_s" -> t(0), "plan_s" -> t(1), "exec_s" -> t(2),
      "ok" -> err.isEmpty, "error" -> err.map(_.toString),
      "check" -> check, "traced" -> tracing)
  }

  private def nextId(layer: String, name: String) =
    s"$cycleId/$layer.$name#${callSeq.incrementAndGet()}"

  /** A call that returns a DataFrame: construct, plan, then write it to
    * the cycle's output directory (the `check` spec tells the Python side
    * how to verify what landed). The write's jobs have no graft frame in
    * their call site; `planModule` names the module whose code built the
    * plan they run, when that is not `layer` itself.
    */
  def frame(layer: String, name: String, check: Map[String, Any],
      planModule: String = "")(build: => DataFrame): Unit = {
    val id = nextId(layer, name)
    val t = Array(0.0, 0.0, 0.0)
    val e0 = epochMs()
    val path = out(name)
    val err = try {
      setProps(id, "construct")
      var s = nowS()
      val df = build
      t(0) = nowS() - s
      setProps(id, "plan")
      s = nowS()
      df.queryExecution.executedPlan
      t(1) = nowS() - s
      setProps(id, "exec", planModule)
      s = nowS()
      df.write.mode(SaveMode.Overwrite).parquet(path)
      t(2) = nowS() - s
      None
    } catch { case x: Exception => Some(x) }
    finally setProps("", "")
    record(layer, name, id, t, e0, epochMs(), err, check + ("out" -> path))
  }

  /** A call that does its work eagerly (a store sync, a write inside
    * the module): all its time is `exec`.
    */
  def action(layer: String, name: String, check: Map[String, Any])(
      body: => Any): Unit = {
    val id = nextId(layer, name)
    val t = Array(0.0, 0.0, 0.0)
    val e0 = epochMs()
    val err = try {
      setProps(id, "exec")
      val s = nowS()
      body
      t(2) = nowS() - s
      None
    } catch { case x: Exception => Some(x) }
    finally setProps("", "")
    record(layer, name, id, t, e0, epochMs(), err, check)
  }

  /** Untimed bookkeeping a check needs (e.g. a store's id set), written
    * outside the cycle's timed window.
    */
  def dump(name: String, df: DataFrame): String = {
    val path = out(name)
    setProps("", "check")
    df.write.mode(SaveMode.Overwrite).parquet(path)
    setProps("", "")
    path
  }
}

object Du {
  def bytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
}
