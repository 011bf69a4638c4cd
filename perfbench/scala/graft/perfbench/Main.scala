package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{Checkpoints, Session}

/** What every workload sees: the session, the tracer, the recorder, and
  * the run's settings. `cache` holds generated inputs per seed; `work`
  * is this run's scratch directory. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val rec: Recorder,
                val seed: Long, val seconds: Double, val trace: Boolean,
                val cache: String, val work: String) {
  val cpus: Int = spark.sparkContext.defaultParallelism

  /** CPU nanoseconds used so far by this (the client) thread plus every
    * finished Spark task: it grows less than wall time while the host
    * runs another guest on our cores or a disk is slow. The listener
    * bus is drained first so no finished task is missing. */
  def cpuNs(): Long = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime + taskCpuNs.get
  }

  private val taskCpuNs = new java.util.concurrent.atomic.AtomicLong
  spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => taskCpuNs.addAndGet(m.executorCpuTime))
  })

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** A timed point read: recorded in ms under `read_ms` on success. */
  def read[T](what: String)(body: => T): Option[T] = {
    val c0 = cpuNs()
    val t0 = System.nanoTime
    rec.attempt(what)(span(what)(body)).map { r =>
      rec.sample("read_ms", (System.nanoTime - t0) / 1e6)
      rec.sample("read_cpu_ms", (cpuNs() - c0) / 1e6)
      r
    }
  }
}

/** One closed-loop workload with a single client: generate inputs once
  * per seed, then repeat [[op]] (the user's top-level call, timed),
  * each followed by [[after]] (output checks, untimed, and point reads,
  * each timed). The first [[Main.WarmupCalls]] iterations are made and
  * checked but not timed. In a traced run every other timed iteration
  * is traced and followed by [[probe]], which calls the layers that
  * [[op]] fuses one by one on the same inputs. */
abstract class Workload(val ctx: Ctx) {
  /** Build this seed's inputs under `ctx.cache` unless already there. */
  def generate(): Unit
  /** Untimed preparation of op `iter`'s inputs. */
  def before(iter: Int): Unit = ()
  /** The top-level call; returns the number of input items it processed. */
  def op(iter: Int): Long
  /** Output checks and point reads after op `iter`. */
  def after(iter: Int): Unit
  /** Traced runs only: per-layer probes after a traced op. */
  def probe(iter: Int): Unit = ()
  /** End-of-run counters. */
  def finish(): Unit = ()

  protected def spark: SparkSession = ctx.spark
  protected def rec: Recorder = ctx.rec
  protected def span[T](name: String)(body: => T): T = ctx.span(name)(body)
  protected def read[T](what: String)(body: => T): Option[T] = ctx.read(what)(body)
}

object Main {
  /** iterations at the start of the loop that are made and checked but
    * not timed: the first calls in a JVM run well slower than the next */
  val WarmupCalls = 1

  private def usage(): Nothing = {
    System.err.println("usage: Main --workload W --seed N --seconds S --trace 0|1 " +
      "--cache DIR --work DIR --out FILE")
    sys.exit(2)
  }

  def loadavg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Nil }

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  private val jvmStart = System.nanoTime
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime - jvmStart) / 1e9}%.1f s: $what")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case _ => usage()
    }.toMap
    def arg(k: String): String = kv.getOrElse(k, usage())
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val loadStart = loadavg()

    // set-up, once per JVM and cold, as a user pays it: Session.local
    // plus one warm-up job
    val rec = new Recorder
    val t0 = System.nanoTime
    val spark = Session.local("perfbench")
    val t1 = System.nanoTime
    val n = 4000000L
    val got = spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(id % 7)").head().getLong(0)
    require(got == (0L until 7L).sum * (n / 7) + (0L until n % 7).sum,
      s"warm-up job returned $got")
    val t2 = System.nanoTime
    rec.sample("setup_s", (t2 - t0) / 1e9)
    rec.sample("warmup_s", (t2 - t1) / 1e9)

    val runId = s"$workload-$seed-${System.currentTimeMillis}"
    val tracer = new Tracer(spark, trace, runId)
    val ctx = new Ctx(spark, tracer, rec, seed, seconds, trace,
      arg("cache"), arg("work"))
    val w: Workload = workload match {
      case "reference_cycle" => new ReferenceCycleWorkload(ctx)
      case "corpus_curation" => new CurationWorkload(ctx)
      case other =>
        System.err.println(s"unknown workload '$other'"); sys.exit(2)
    }

    phase("set-up done")
    val (_, genS) = Recorder.clock(w.generate())
    phase("inputs ready")

    resetHeapPeaks()
    val loopStart = System.nanoTime
    val deadline = loopStart + (seconds * 1e9).toLong
    var iter = 0
    while (iter <= WarmupCalls || System.nanoTime < deadline) {
      rec.timing = iter >= WarmupCalls
      val traced = trace && rec.timing && (iter - WarmupCalls) % 2 == 0
      tracer.active = traced
      val name = if (traced) "op_traced_s" else "op_s"
      rec.attempt("prepare")(w.before(iter))
      val c0 = ctx.cpuNs()
      val t0 = System.nanoTime
      val items =
        if (traced) rec.attempt("op")(tracer.span("op")(w.op(iter)))
        else rec.attempt("op")(w.op(iter))
      items.foreach { n =>
        val s = (System.nanoTime - t0) / 1e9
        rec.sample(name, s)
        if (!traced) {
          rec.sample("items_per_s", n / s)
          rec.sample("items_per_cpu_s", n / ((ctx.cpuNs() - c0) / 1e9))
        }
      }
      w.after(iter)
      if (traced) w.probe(iter)
      tracer.active = false
      rec.sample("live_rdds", spark.sparkContext.getPersistentRDDs.size)
      phase(s"iteration $iter done")
      iter += 1
    }
    val loopS = (System.nanoTime - loopStart) / 1e9
    w.finish()
    Checkpoints.freeAllPersisted(spark)

    val out = Map(
      "workload" -> workload,
      "seed" -> seed,
      "trace" -> trace,
      "gen_s" -> genS,
      "loop_s" -> loopS,
      "iterations" -> iter,
      "warmup_calls" -> WarmupCalls,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "failures" -> rec.failures.toList,
      "samples" -> rec.samples.map { case (k, v) => k -> v.toList },
      "counters" -> rec.counters,
      "peak_heap_mb" -> heapPeakMb(),
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores_used" -> ctx.cpus,
        "loadavg_start" -> loadStart,
        "loadavg_end" -> loadavg(),
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_master" -> spark.sparkContext.master,
        "spark_version" -> spark.version),
      "trace_dump" -> tracer.dump())
    Files.writeString(Paths.get(arg("out")), Json.value(out))
    spark.stop()
  }
}
