package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.core.JobResult
import graft.jobclass.{Action, JobClass, ScalaJobClass}
import graft.net.JobRef
import graft.runner.JobListener

/** What one unit returns: per-operation latencies (seconds), operations
  * attempted and failed, and per-layer values measured from outside.
  */
final case class UnitOut(ops: Seq[Double], attempted: Int, failed: Int,
    layers: Map[String, Double] = Map.empty)

trait Workload {
  /** Set-up work a fresh process repeats before its first unit. */
  def prepare(): Unit
  /** Put inputs and state back as they were before any unit ran. */
  def reset(): Unit
  /** Untimed calls of a traced unit that time one layer in isolation. */
  def probe(): Unit = ()
  /** One timed unit. */
  def run(): Unit
  /** What the unit just run did, read after its timing stopped, given the
    * unit's Spark counters and the epoch-ms start times of its Spark jobs.
    */
  def result(u: Int, spark: Map[String, Double], jobStarts: Seq[Long]): UnitOut
  /** Output checks of the unit just run; each string is one failure. */
  def check(): Seq[String]
}

/** Shared context handed to every workload. */
final class Bench(val spark: SparkSession, val inputs: Path, val work: Path,
    val seed: Long, val tracer: Tracer) {
  val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def readJson(p: Path): Map[String, Any] =
    json.readValue(p.toFile, classOf[Map[String, Any]])

  def rmrf(p: Path): Unit = graft.core.TempDirs.deleteRecursively(p)
}

/** JobListener recording job spans, per-job latency and results. */
final class Jobs(tracer: Tracer) extends JobListener {
  val latencies = mutable.ArrayBuffer.empty[Double]
  var failed = 0
  private var t0 = 0L
  private var preflightOpen = false
  /** Span from the start of `JobNetRunner.run` to its first job: net
    * planning and the pre-flight compile of every job.
    */
  def openPreflight(): Unit = { tracer.open("runner.preflight"); preflightOpen = true }
  def closePreflight(): Unit = if (preflightOpen) { tracer.close(); preflightOpen = false }
  override def beforeAllJobs(refs: Seq[JobRef]): Unit = closePreflight()
  override def beforeJob(ref: JobRef): Unit = {
    tracer.open("runner.job")
    t0 = System.nanoTime()
  }
  override def afterJob(ref: JobRef, result: JobResult): Unit = {
    latencies += (System.nanoTime() - t0) / 1e9
    if (!result.success) {
      failed += 1
      System.err.println(s"[perfbench] job $ref failed: ${result.message}")
    }
    tracer.close()
  }
}

object Main {
  /** Untimed units before measuring. The first unit is two to three times
    * slower than the next (class loading, codegen, JIT); the units after
    * it still speed up by a few percent each for about ten units, which a
    * run cannot afford to wait out.
    */
  val WarmupUnits = 1

  /** Units measured however short `--seconds` is. */
  val MinUnits = 3

  /** Built-in job classes whose builds and actions the traced run times. */
  val TracedClasses = Seq("sql", "load", "unload", "exec", "wait-file",
    "streaming_load", "noop")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val inputs = Paths.get(a("inputs")).toAbsolutePath
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val tracer = new Tracer
    val bench = new Bench(spark, inputs, work, seed, tracer)
    val counters = new SparkCounters
    if (trace) installJobClassTiming(tracer)
    val w: Workload = workload match {
      case "etl_jobnet"   => new EtlJobnet(bench)
      case "queue_ingest" => new QueueIngest(bench)
      case "query_mix"    => new QueryMix(bench)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val prepareS = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); w.prepare(); (System.nanoTime() - t0) / 1e9
    }

    /** Reset, run and check one unit; the timed part is `run` alone. */
    def oneUnit(u: Int, traced: Boolean): Map[String, Any] = {
      val r0 = System.nanoTime()
      w.reset()
      cleanup(spark)
      dropTempViews(spark)
      val resetS = (System.nanoTime() - r0) / 1e9
      if (traced) {
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(counters)
      }
      tracer.on = traced
      tracer.unit = u
      if (traced) w.probe()
      val codegen0 = CodeGenerator.compileTime
      val cpu0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val err =
        try { tracer("unit")(w.run()); None }
        catch { case e: Throwable => Some(describe(e)) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val codegen = (CodeGenerator.compileTime - codegen0) / 1e9
      tracer.on = false
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val (sparkC, jobStarts) = if (traced) counters.snapshot() else (Map.empty[String, Double], Nil)
      if (traced) {
        spark.sparkContext.removeSparkListener(counters)
        spark.listenerManager.unregister(counters)
      }
      val leftRdds = spark.sparkContext.getPersistentRDDs.size
      val (res, resErr) = try (w.result(u, sparkC, jobStarts), None)
        catch { case e: Throwable => (UnitOut(Nil, 1, 1), Some(describe(e))) }
      val c0 = System.nanoTime()
      val errors = (err ++ resErr).toSeq ++ (if (err.isEmpty) safeCheck(w) else Nil)
      val checkS = (System.nanoTime() - c0) / 1e9
      errors.foreach(e => System.err.println(s"[perfbench] unit $u: $e"))
      val layers = if (!traced) Map.empty[String, Double] else {
        sparkC ++ res.layers ++ Map(
          "spark.codegen_compile_s" -> codegen,
          "spark.persisted_rdds_left" ->
            (leftRdds + res.layers.getOrElse("spark.persisted_rdds_left", 0.0)),
          "spark.busy_ratio" -> sparkC.getOrElse("spark.executor_run_s", 0.0) / (wall * cores))
      }
      Map("unit" -> u, "traced" -> traced, "ok" -> errors.isEmpty, "errors" -> errors,
        "wall_s" -> wall, "cpu_s" -> cpu, "reset_s" -> resetS, "check_s" -> checkS,
        "ops" -> res.ops,
        "attempted" -> res.attempted,
        "failed" -> (if (errors.isEmpty) res.failed else res.attempted),
        "layers" -> layers)
    }

    val tw = System.nanoTime()
    val warm = (1 to WarmupUnits).map(i => oneUnit(-i, traced = false))
    val warmupS = (System.nanoTime() - tw) / 1e9
    val units = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    var u = 1
    while (u <= MinUnits || (System.nanoTime() - start) / 1e9 < seconds) {
      units += oneUnit(u, traced = trace && u % 2 == 1)
      u += 1
    }

    val traceFile = work.resolve("trace.jsonl")
    if (trace) Files.write(traceFile, tracer.jsonl.toSeq.asJava)
    val selfTimes = if (!trace) Map.empty else
      units.filter(_("traced") == true).map(_("unit").asInstanceOf[Int])
        .map(tracer.selfTime).flatMap(_.toSeq).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).sum }
    stopStreams(spark)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "session_ready_ms" -> sessionReadyMs,
      "prepare_s" -> prepareS, "warmup_s" -> warmupS, "warmup" -> warm,
      "units" -> units.toSeq, "span_self_s" -> selfTimes,
      "trace_file" -> (if (trace) traceFile.toString else ""))
    Files.writeString(out, bench.json.writeValueAsString(result))
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
  }

  private def safeCheck(w: Workload): Seq[String] =
    try w.check() catch { case e: Throwable => Seq("check failed: " + describe(e)) }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Release what a unit left cached, so units stay independent. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Drop the temp views a unit registered (query views, memory sinks). */
  def dropTempViews(spark: SparkSession): Unit =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))

  def stopStreams(spark: SparkSession): Unit = {
    try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => }
  }

  /** Shadow each built-in job class with one that times its build (the
    * class part of `Job.compile`) and every `Action.run`, through the
    * public plugin registry. Timing is recorded only while tracing is on.
    */
  private def installJobClassTiming(tracer: Tracer): Unit =
    TracedClasses.foreach { id =>
      val jc = JobClass.get(id)
      JobClass.register(new ScalaJobClass(id, jc.params)((p, vars, ctx) => {
        val actions = tracer("core.compile")(jc.build(p, vars, ctx))
        actions.map { act =>
          new Action {
            def label: String = act.label
            def run(): Unit = tracer(s"jobclass.$id")(act.run())
            override def explain(): Option[String] = act.explain()
          }
        }
      }))
    }
}
