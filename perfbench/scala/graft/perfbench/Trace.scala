package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, plus the Spark
  * work each span caused.
  *
  * A span records name, start, end, parent and run id. Entering a span
  * sets the Spark job group to the span's id, so every job (and its
  * stages and tasks) started inside is attributed to the innermost open
  * span. Each stage is also attributed to the program module of the
  * first `graft.*` frame (outside this package) in its call site.
  * Everything stays in memory until [[dump]].
  *
  * With `enabled = false` no listener is registered and [[span]] only
  * runs its body: the timed runs pay nothing for tracing. A traced run
  * sets [[active]] for the iterations it traces. */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {

  private final case class Span(id: Int, parent: Int, name: String,
                                start: Long, var end: Long = -1L)

  /** Per-stage totals, filled from task-end events. */
  private final class StageRec(val id: Int, val span: Int, val module: String,
                               val name: String) {
    val taskMs = mutable.ArrayBuffer[Long]()
    var cpuNs = 0L; var gcMs = 0L; var spillB = 0L; var shuffleWB = 0L
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  /** files read by each scan over a snapshot's manifest-backed index */
  private val snapshotScanFiles = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  private val sc = spark.sparkContext
  private val GroupPrefix = "perfbench-span-"

  private def spanOfProps(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix).toInt).getOrElse(0)

  /** `graft.operators.Bpe$.mergeRounds(Bpe.scala:55)` → `operators.Bpe` */
  private[perfbench] def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench."))
      .map { l =>
        val cls = l.takeWhile(_ != '(').split('.').dropRight(1)
        cls.drop(1).mkString(".").takeWhile(_ != '$')
      }.getOrElse("bench")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOfProps(e.properties)
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      val s = Option(stageSpan.get(info.stageId)).map(_.intValue)
        .getOrElse(spanOfProps(e.properties))
      stages.putIfAbsent(info.stageId,
        new StageRec(info.stageId, s, moduleOf(info.details), info.name))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rec = stages.get(e.stageId)
      val m = e.taskMetrics
      if (rec != null && m != null) rec.synchronized {
        rec.taskMs += m.executorRunTime
        rec.cpuNs += m.executorCpuTime
        rec.gcMs += m.jvmGCTime
        rec.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.shuffleWB += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: QueryStageExec => p +: flatten(q.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(flatten)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      flatten(qe.executedPlan).foreach {
        case s: FileSourceScanExec
            if s.relation.location.isInstanceOf[graft.sources.SnapshotFileIndex] =>
          snapshotScanFiles.add(s.metrics.get("numFiles").map(_.value).getOrElse(0L))
        case _ =>
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def setGroup(): Unit = stack.headOption match {
    case Some(s) => sc.setJobGroup(s"$GroupPrefix${s.id}", s.name, interruptOnCancel = false)
    case None => sc.clearJobGroup()
  }

  /** Spans are recorded only while active (and only when enabled). */
  var active = false

  /** Run `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled || !active) return body
    val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0), name, System.nanoTime)
    nextId += 1
    spans += s
    stack = s :: stack
    setGroup()
    try body
    finally {
      s.end = System.nanoTime
      stack = stack.tail
      setGroup()
    }
  }

  /** Spans, jobs and stages as JSON-ready maps. Drains the listener bus
    * first so every task of every finished job is counted. */
  def dump(): Map[String, Any] = {
    if (!enabled) return Map("enabled" -> false)
    org.apache.spark.PerfbenchBus.drain(sc)
    Map(
      "enabled" -> true,
      "run_id" -> runId,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end, "run" -> runId)),
      "jobs" -> jobSpan.asScala.toSeq.sortBy(_._1)
        .map { case (j, s) => Map("id" -> j.intValue, "span" -> s.intValue) },
      "stages" -> stages.values.asScala.toSeq.sortBy(_.id).map { r =>
        r.synchronized(Map("id" -> r.id, "span" -> r.span, "module" -> r.module,
          "name" -> r.name, "task_ms" -> r.taskMs.toList, "cpu_ns" -> r.cpuNs,
          "gc_ms" -> r.gcMs, "spill_bytes" -> r.spillB,
          "shuffle_write_bytes" -> r.shuffleWB))
      },
      "snapshot_scan_files" -> snapshotScanFiles.asScala.toList)
  }
}
