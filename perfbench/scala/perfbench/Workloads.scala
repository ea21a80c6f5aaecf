package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{JobResult, Variables}
import graft.net.FileTaskQueue
import graft.runner.{Application, Cli, JobNetRunner}

/** Span totals and file listings shared by the workloads. */
object Layers {
  def jobnet(t: Tracer, u: Int, jobs: Int): Map[String, Double] = {
    val actions = Main.TracedClasses.map(c => s"jobclass.${c}_s" -> t.total(u, s"jobclass.$c")).toMap
    actions ++ Map(
      "runner.load_context_s" -> t.total(u, "runner.load_context"),
      "runner.preflight_s" -> t.total(u, "runner.preflight"),
      "runner.job_overhead_s" -> (t.total(u, "runner.job") - actions.values.sum),
      "core.compile_s" -> t.total(u, "core.compile"),
      "net.plan_s" -> t.total(u, "net.plan"),
      "net.queue_s_per_job" -> t.total(u, "net.queue") / math.max(1, jobs))
  }

  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }
}

/** The repository's curation pipeline jobnet over a generated corpus, run
  * the way `bricolage-jobnet` runs it: fresh context, a `FileTaskQueue`,
  * and the runner's listener hooks.
  */
final class EtlJobnet(b: Bench) extends Workload {
  private val home = b.inputs.resolve("home")
  private val netPath = home.resolve("pipeline").resolve("pipeline.jobnet")
  private val queueFile = b.work.resolve("jobnet.queue")
  private val meta = b.readJson(b.inputs.resolve("meta.json"))
  private val docs = meta("docs").toString.toLong
  private val queueObjects = meta("queue_objects").toString.toInt
  private val unloadDir = b.work.resolve("unload")
  private val cliVariables = Variables(
    "sf_dir" -> b.inputs.toString, "unload_dir" -> unloadDir.toString,
    "work_dir" -> b.work.toString, "queue_objects" -> queueObjects.toString,
    "stream_batch" -> "8")
  private var jobs = new Jobs(b.tracer)
  private var outcome: JobResult = JobResult.success

  def prepare(): Unit = { Cli.loadContext(home, "pipeline", b.spark); reset() }

  def reset(): Unit = {
    b.spark.sql("DROP DATABASE IF EXISTS pipe CASCADE")
    Seq("unload", "graft_pipeline_queue", "graft_pipeline_save", "graft_pipeline_ready")
      .foreach(d => b.rmrf(b.work.resolve(d)))
    Files.deleteIfExists(queueFile)
  }

  override def probe(): Unit = {
    val runner = new JobNetRunner(Cli.loadContext(home, "pipeline", b.spark))
    val refs = b.tracer("net.plan")(runner.sequentialJobs(netPath))
    val probeQueue = b.work.resolve("probe.queue")
    val q = new FileTaskQueue(probeQueue)
    refs.foreach(q.enqueue)
    b.tracer("net.queue")(q.consumeEach(_ => JobResult.success))
    Files.deleteIfExists(probeQueue)
  }

  def run(): Unit = {
    jobs = new Jobs(b.tracer)
    val ctx = b.tracer("runner.load_context")(Cli.loadContext(home, "pipeline", b.spark))
    b.tracer("runner.run") {
      jobs.openPreflight()
      try outcome = new JobNetRunner(ctx, Seq(jobs)).run(
        netPath, new FileTaskQueue(queueFile), cliVariables)
      finally jobs.closePreflight()
    }
  }

  def result(u: Int, spark: Map[String, Double], jobStarts: Seq[Long]): UnitOut =
    UnitOut(jobs.latencies.toSeq, jobs.latencies.size, jobs.failed,
      Layers.jobnet(b.tracer, u, jobs.latencies.size))

  def check(): Seq[String] = {
    val s = b.spark
    def rows(t: String): Long = s.table(s"pipe.$t").count()
    val train = s.read.parquet(unloadDir.resolve("train").toString).count()
    val distinct = meta("distinct_texts").toString.toLong
    val queued = Layers.files(b.work.resolve("graft_pipeline_queue"))
    val saved = Layers.files(b.work.resolve("graft_pipeline_save"))
    Seq(
      outcome.success -> s"jobnet failed: ${outcome.message}",
      !Files.exists(queueFile) -> "job queue not empty after the run",
      (rows("documents_raw") == docs) -> s"documents_raw ${rows("documents_raw")} != $docs",
      (rows("documents_dedup") == distinct) -> s"documents_dedup != $distinct distinct texts",
      (train > 0 && train < docs) -> s"train split has $train rows of $docs",
      (rows("documents_stream") == docs) -> s"streaming_load ingested ${rows("documents_stream")} of $docs",
      queued.isEmpty -> s"${queued.size} objects left in the queue",
      (saved.size == queueObjects) -> s"${saved.size} objects saved, expected $queueObjects",
    ).collect { case (false, msg) => msg }
  }
}

/** One `streaming_load` job through `Application.runJobFile`. */
final class QueueIngest(b: Bench) extends Workload {
  private val meta = b.readJson(b.inputs.resolve("meta.json"))
  private val home = b.inputs.resolve("home")
  private val jobFile = home.resolve("ingest").resolve("ingest.job")
  private val qroot = b.work.resolve("qroot")
  private val queueDir = qroot.resolve("queue")
  private val saveDir = qroot.resolve("save")
  private val objects = meta("objects").toString.toInt
  private var jobs = new Jobs(b.tracer)
  private var outcome: JobResult = JobResult.success
  private var unitStartMs = 0L
  private var listed = 0

  def prepare(): Unit = { Cli.loadContext(home, "ingest", b.spark); reset() }

  def reset(): Unit = {
    val s = b.spark
    s.sql("DROP DATABASE IF EXISTS ingest CASCADE")
    s.sql("CREATE DATABASE ingest")
    s.sql("""CREATE TABLE ingest.docs (doc_id BIGINT, text STRING, lang STRING,
      | source STRING, n_chars BIGINT) USING parquet""".stripMargin)
    s.sql("""CREATE TABLE ingest.docs_l (job_process_id STRING, start_time TIMESTAMP,
      | end_time TIMESTAMP, target_table STRING, data_file STRING) USING parquet""".stripMargin)
    s.read.json(b.inputs.resolve("log_history.json").toString)
      .select(col("job_process_id"), to_timestamp(col("start")).as("start_time"),
        to_timestamp(col("end")).as("end_time"), lit("ingest.docs").as("target_table"),
        concat(lit(qroot.toString + "/"), col("rel")).as("data_file"))
      .write.insertInto("ingest.docs_l")
    b.rmrf(qroot)
    Files.createDirectories(queueDir)
    Files.list(b.inputs.resolve("queue")).iterator().asScala
      .foreach(f => Files.copy(f, queueDir.resolve(f.getFileName)))
  }

  def run(): Unit = {
    jobs = new Jobs(b.tracer)
    listed = Layers.files(queueDir).size
    unitStartMs = System.currentTimeMillis()
    val ctx = b.tracer("runner.load_context")(Cli.loadContext(home, "ingest", b.spark))
    outcome = Application.runJobFile(jobFile, ctx, listeners = Seq(jobs))
  }

  private def newLog: DataFrame = b.spark.table("ingest.docs_l")
    .where(not(col("job_process_id").startsWith("hist-")) && col("job_process_id") =!= "crashed")

  def result(u: Int, spark: Map[String, Double], jobStarts: Seq[Long]): UnitOut = {
    val log = newLog.select(col("end_time"), col("start_time")).collect()
    val ops = log.map(r => (r.getTimestamp(0).getTime - unitStartMs) / 1e3).toSeq
    val loaded = log.length.toDouble
    val batches = log.map(_.getTimestamp(1)).distinct.length.toDouble
    val stream = b.tracer.ofUnit(u).filter(_.name == "jobclass.streaming_load")
    val offset = System.currentTimeMillis() - System.nanoTime() / 1000000
    val inStream = jobStarts.count(t => stream.exists(s =>
      t >= s.start / 1000000 + offset - 1 && t <= s.end / 1000000 + offset + 1))
    val layers = Layers.jobnet(b.tracer, u, 1) ++ Map(
      "streaming.objects_listed" -> listed.toDouble,
      "streaming.objects_loaded" -> loaded,
      "streaming.leftovers_dequeued" -> (listed - loaded),
      "streaming.batches" -> batches,
      "streaming.spark_jobs_per_batch" -> inStream / math.max(1.0, batches),
      "streaming.s_per_object" -> b.tracer.total(u, "jobclass.streaming_load") / math.max(1, listed),
      "streaming.useful_ratio" -> loaded / math.max(1, listed),
      "ds.write_amplification" ->
        spark.getOrElse("ds.bytes_written", 0.0) / meta("loaded_bytes").toString.toDouble)
    UnitOut(ops, math.max(ops.size, 1), if (outcome.success) 0 else math.max(ops.size, 1), layers)
  }

  def check(): Seq[String] = {
    val dest = b.spark.table("ingest.docs")
      .agg(count(lit(1)), sum("doc_id"), countDistinct("doc_id")).head()
    val perObject = b.spark.table("ingest.docs_l")
      .where(col("data_file").startsWith(queueDir.toString + "/"))
      .groupBy("data_file").count().agg(count(lit(1)), max("count")).head()
    val queued = Layers.files(queueDir)
    val saved = Layers.files(saveDir)
    val rows = meta("expected_rows").toString.toLong
    Seq(
      outcome.success -> s"streaming_load failed: ${outcome.message}",
      (dest.getLong(0) == rows) -> s"dest holds ${dest.getLong(0)} rows, expected $rows",
      (dest.getLong(2) == dest.getLong(0)) -> "dest holds duplicate rows",
      (dest.getLong(1).toString == meta("expected_id_sum").toString) -> "dest rows differ from the queued objects",
      (perObject.getLong(0) == objects && perObject.getLong(1) == 1L) ->
        s"load log covers ${perObject.getLong(0)} of $objects objects, max entries ${perObject.get(1)}",
      queued.isEmpty -> s"${queued.size} objects left in the queue",
      (saved.size == objects) -> s"${saved.size} objects in the save directory, expected $objects",
      (listed - newLog.count() == meta("leftovers").toString.toLong) -> "leftover objects were loaded again",
    ).collect { case (false, msg) => msg }
  }
}

/** Oracle-gated SparkEntry queries over the generated fixture. */
final class QueryMix(b: Bench) extends Workload {
  private val dir = b.inputs.resolve("fixture").toString
  private val expected = b.readJson(b.inputs.resolve("expected_counts.json"))
    .map { case (k, v) => k -> v.toString.toLong }
  private val order = new scala.util.Random(b.seed).shuffle(QueryMix.Names)
  private var fns = Map.empty[String, (org.apache.spark.sql.SparkSession, String) => DataFrame]
  private val latency = scala.collection.mutable.Map.empty[String, Double]
  private val counts = scala.collection.mutable.Map.empty[String, Long]
  private val failures = scala.collection.mutable.Map.empty[String, String]
  private var leftRdds = 0

  def prepare(): Unit = fns = SparkEntry.queries.filter { case (k, _) => QueryMix.Names.contains(k) }

  def reset(): Unit = { latency.clear(); counts.clear(); failures.clear(); leftRdds = 0 }

  def run(): Unit = order.foreach { q =>
    val t0 = System.nanoTime()
    try b.tracer(s"operators.$q") {
      val df = b.tracer("operators.build")(fns(q)(b.spark, dir))
      counts(q) = b.tracer("operators.action")(df.count())
    } catch { case e: Throwable => failures(q) = Main.describe(e) }
    latency(q) = (System.nanoTime() - t0) / 1e9
    leftRdds += b.spark.sparkContext.getPersistentRDDs.size
    Main.cleanup(b.spark)
  }

  def result(u: Int, spark: Map[String, Double], jobStarts: Seq[Long]): UnitOut =
    UnitOut(order.map(latency), order.size, check().size,
      Map("operators.build_s" -> b.tracer.total(u, "operators.build"),
        "operators.action_s" -> b.tracer.total(u, "operators.action"),
        "spark.persisted_rdds_left" -> leftRdds.toDouble) ++
        order.map(q => s"operators.${q}_s" -> b.tracer.total(u, s"operators.$q")))

  def check(): Seq[String] = order.flatMap { q =>
    failures.get(q).map(e => s"$q failed: $e").orElse(
      if (counts.get(q).contains(expected(q))) None
      else Some(s"$q returned ${counts.get(q)} rows, the DuckDB oracle ${expected(q)}"))
  }
}

object QueryMix {
  /** Four queries of the full query bench's hot set, and eight short
    * queries from seven other operator objects, whose time is mostly
    * planning. Three units give twelve hot-set samples, so the tail
    * percentile (ten samples beyond it) falls among the hot-set queries.
    * With three of them it would fall at the upper edge of the short
    * queries and jump between queries from run to run.
    */
  val Names: Seq[String] = Seq(
    // hot set
    "q_allpairs_jaccard", "q_minhash_recall", "q_stream_hourly", "q_dup_triangles",
    // short queries, from seven other operator objects
    "q_dedup_exact", "q_dq_rules", "q_having", "q1_pricing_summary", "q_asof_join",
    "q_token_budget", "q_approx_distinct", "q_multi_statement")
}

/** Writes the DuckDB oracle SQL of the query mix, for the harness to run
  * against the generated fixture.
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val oracle = SparkEntry.oracleSql
    val missing = QueryMix.Names.filterNot(oracle.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(java.nio.file.Paths.get(args(0)),
      json.writeValueAsString(QueryMix.Names.map(q => q -> oracle(q)).toMap))
  }
}
