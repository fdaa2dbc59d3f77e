package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}
import graft.sources.Landing
import graft.streaming.Streams

/** The engine side of the benchmark: one JVM runs one workload and writes
  * every raw sample to a JSON file that `run.py` reduces to metrics.
  *
  * The engine is reached only through its public entry points
  * (`SparkEntry.queries`, `Landing.reset`/`timings`, `Streams.*`); layer
  * numbers come from Spark's public `SparkListener`,
  * `QueryExecution.tracker` and `StreamingQueryProgress`.
  *
  * Run shape: set-up (from JVM start: session, then an untimed warm-up
  * pass that lands the artifacts and is also the output check), then the
  * timed window of whole passes in seeded order.
  */
object PerfBench {

  final case class Args(workload: String, corpus: String, streams: String, work: String,
      seed: Long, seconds: Double, trace: Boolean, out: String, injectFailure: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("corpus"), m("streams"), m("work"), m("seed").toLong,
      m("seconds").toDouble, m("trace") == "1", m("out"), m.get("inject-failure").contains("1"))
  }

  /** `graft.Bench`'s session settings, verbatim, on local[nproc]; heavy_k3
    * adds the split size its small-row-group corpus is recorded with
    * (SCALING_r13.json). A session whose effective value differs is refused. */
  def declaredConf(workload: String, cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.shuffle.sort.bypassMergeThreshold" -> "2",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k") ++
    (if (workload == "heavy_k3") Seq("spark.sql.files.maxPartitionBytes" -> "262144")
     else Nil)

  def session(args: Args, cores: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.local.dir", s"${args.work}/spark_local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
    declaredConf(args.workload, cores).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Declared keys whose effective value differs, as "key=want/got". */
  def confDrift(spark: SparkSession, args: Args, cores: Int): Seq[String] = {
    val master = spark.sparkContext.master
    (if (master == s"local[$cores]") Nil else Seq(s"master=local[$cores]/$master")) ++
      declaredConf(args.workload, cores).flatMap { case (k, v) =>
        val got = spark.conf.getOption(k).getOrElse(spark.sparkContext.getConf.get(k, "<unset>"))
        if (got == v) None else Some(s"$k=$v/$got")
      }
  }

  // ---------------------------------------------------------------- trace

  final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long)

  /** Listener counters of one job group. */
  final case class Acc(var jobs: Long = 0, var stages: Long = 0, var tasks: Long = 0,
      var failedTasks: Long = 0, var runMs: Long = 0, var cpuNs: Long = 0,
      var deserMs: Long = 0, var gcMs: Long = 0, var shuffleReadB: Long = 0,
      var shuffleWriteB: Long = 0, var spillB: Long = 0, var inputB: Long = 0,
      var inputRows: Long = 0, var outputB: Long = 0,
      stageIntervalsUs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer())

  /** Spans and per-layer counters of traced passes, kept in memory. Call
    * spans are stamped by the benchmark around each call into a layer;
    * job and stage spans and task counters come from the listener, keyed
    * by the job group the benchmark sets before each call. */
  final class Tracer extends SparkListener with QueryExecutionListener {
    private val t0Ns = System.nanoTime()
    private val t0Us = System.currentTimeMillis() * 1000L
    def nowUs: Long = t0Us + (System.nanoTime() - t0Ns) / 1000L

    val spans = mutable.ArrayBuffer[Span]()
    private var nextId = 0
    def span(parent: Int, name: String, startUs: Long, endUs: Long): Int = synchronized {
      nextId += 1; spans += Span(nextId, parent, name, startUs, endUs); nextId
    }
    /** Ends an open span now. */
    def close(id: Int): Unit = synchronized {
      val i = spans.indexWhere(_.id == id)
      spans(i) = spans(i).copy(endUs = nowUs)
    }

    val acc = mutable.Map[String, Acc]()
    private val stageGroup = mutable.Map[Int, String]()
    private val jobGroup = mutable.Map[Int, String]()
    /** Root span id per group, so job spans hang under their call. */
    val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    /** A stream names its jobs' group after its run id; this maps it back. */
    val alias = new java.util.concurrent.ConcurrentHashMap[String, String]()
    @volatile var jobsStarted = 0L
    @volatile var jobsEnded = 0L
    private val jobStartUs = mutable.Map[Int, Long]()
    private def a(g: String) = acc.getOrElseUpdate(g, Acc())

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val raw = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("-")
      val g = alias.getOrDefault(raw, raw)
      jobGroup(e.jobId) = g
      e.stageIds.foreach(s => stageGroup(s) = g)
      a(g).jobs += 1
      jobStartUs(e.jobId) = e.time * 1000L
      jobsStarted += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val g = jobGroup.getOrElse(e.jobId, "-")
      val parent = Option(groupSpan.get(g)).map(_.intValue).getOrElse(0)
      span(parent, s"job ${e.jobId}", jobStartUs.getOrElse(e.jobId, e.time * 1000L), e.time * 1000L)
      jobsEnded += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val g = stageGroup.getOrElse(i.stageId, "-")
      a(g).stages += 1
      for (s <- i.submissionTime; c <- i.completionTime) {
        a(g).stageIntervalsUs += ((s * 1000L, c * 1000L))
        val parent = Option(groupSpan.get(g)).map(_.intValue).getOrElse(0)
        span(parent, s"stage ${i.stageId}", s * 1000L, c * 1000L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val x = a(stageGroup.getOrElse(e.stageId, "-"))
      x.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) x.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        x.runMs += m.executorRunTime; x.cpuNs += m.executorCpuTime
        x.deserMs += m.executorDeserializeTime; x.gcMs += m.jvmGCTime
        x.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        x.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        x.spillB += m.diskBytesSpilled
        x.inputB += m.inputMetrics.bytesRead; x.inputRows += m.inputMetrics.recordsRead
        x.outputB += m.outputMetrics.bytesWritten
      }
    }

    /** Planner phases (seconds) of each noop sink in completion order,
      * with the wall interval (ms) they cover. */
    val sinkPhases = mutable.ArrayBuffer[(Map[String, Double], Long, Long)]()
    @volatile var sinkEvents = 0L
    @volatile private var session: SparkSession = null
    /** A query's noop sink; a stream's per-batch writes run in a cloned
      * session and are not counted. */
    private def isSink(qe: QueryExecution): Boolean = (qe.sparkSession eq session) &&
      (qe.logical match {
        case w: V2WriteCommand => w.table.name == "noop-table"
        case _ => false
      })
    private def record(qe: QueryExecution): Unit = if (isSink(qe)) synchronized {
      val ph = qe.tracker.phases
      sinkPhases += ((ph.map { case (k, p) => k -> p.durationMs / 1000.0 },
        ph.values.map(_.startTimeMs).minOption.getOrElse(0L),
        ph.values.map(_.endTimeMs).maxOption.getOrElse(0L)))
      sinkEvents += 1
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

    /** Waits until the asynchronous listener bus has delivered every job
      * end and the expected number of sink callbacks. */
    def drain(expectedSinks: Long): Unit = {
      val deadline = System.nanoTime() + 20L * 1000000000L
      var quietSince = System.nanoTime()
      var last = (-1L, -1L)
      while (System.nanoTime() < deadline) {
        val now = (jobsEnded, sinkEvents)
        if (now != last) { last = now; quietSince = System.nanoTime() }
        if (jobsStarted == jobsEnded && sinkEvents >= expectedSinks &&
            System.nanoTime() - quietSince > 200L * 1000000L) return
        Thread.sleep(20)
      }
    }

    def attach(spark: SparkSession): Unit = {
      session = spark
      spark.sparkContext.addSparkListener(this); spark.listenerManager.register(this)
    }
    def detach(spark: SparkSession): Unit = {
      spark.sparkContext.removeSparkListener(this); spark.listenerManager.unregister(this)
    }
  }

  // ------------------------------------------------------------- results

  /** One timed call: a query (build + sink) or a pipeline drain. */
  final case class Sample(op: String, pass: Int, traced: Boolean, wallS: Double,
      buildS: Double, sinkS: Double, sinkStartUs: Long, sinkEndUs: Long, error: String,
      rootSpan: Int = 0)

  final case class Batch(pipeline: String, pass: Int, traced: Boolean, rows: Long,
      durationsMs: Map[String, Long], stateRows: Long, stateMemB: Long)

  /** One timed pass, with the artifacts (kind -> seconds) it landed. */
  final case class Pass(pass: Int, traced: Boolean, wallS: Double, landings: Map[String, Double])

  final class Run(val args: Args) {
    val samples = mutable.ArrayBuffer[Sample]()
    val batches = mutable.ArrayBuffer[Batch]()
    val passes = mutable.ArrayBuffer[Pass]()
    val observations = mutable.ArrayBuffer[Map[String, Any]]()
  }

  /** Writes case classes with snake_case field names. */
  val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE).build()

  // ------------------------------------------------------- query workloads

  /** A cadence-bound spread of the declared surface: every 38th query by
    * name, plus the ORC reader, whose artifact (like quality_gate's
    * perceptron weights) lands in set-up. Each takes well under a second
    * at this size. */
  val Surface: Seq[String] = Seq(
    "q_ab_test", "q_cdc_apply", "q_distinct", "q_group_agg_salted", "q_line_dedup",
    "q_percentiles_approx", "q_sessionize", "q_tpch_pricing", "q_orc_roundtrip")

  /** One reader of each of the seven `Landing.table` artifacts (lift
    * edges, LSH and n-gram pairs, embedding pairs, ownership pairs, dedup
    * clusters, perceptron weights), each the reader whose DuckDB oracle is
    * cheapest at K=3: each pass lands every artifact, then reads it. */
  val HeavyK3: Seq[String] = Seq(
    "q_degree_dist", "q_dedup_recall", "q_semdedup_sweep", "q_recommend",
    "q_cluster_view", "q_perceptron_train")

  val ThrowingQuery = "perfbench_throws"

  def queryFns(args: Args): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val names = if (args.workload == "surface") Surface else HeavyK3
    names.map(n => n -> SparkEntry.queries.getOrElse(n,
      (_: SparkSession, _: String) => throw new NoSuchElementException(s"$n is not declared"))) ++
      (if (args.injectFailure)
        Seq(ThrowingQuery -> ((_: SparkSession, _: String) =>
          throw new IllegalStateException("deliberate failure")))
      else Nil)
  }

  /** Runs one query: build the frame (ops), then consume it through the
    * noop sink (plan + exec), or dump it as parquet the way Verify does. */
  def runQuery(spark: SparkSession, run: Run, tracer: Option[Tracer], name: String,
      fn: (SparkSession, String) => DataFrame, dir: String, pass: Int,
      dump: Option[String]): Sample = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val rootStart = tracer.map(_.nowUs).getOrElse(0L)
    val root = tracer.map(_.span(0, name, rootStart, rootStart)).getOrElse(0)
    tracer.foreach(_.groupSpan.put(s"$name#build", root))
    tracer.foreach(_.groupSpan.put(s"$name#sink", root))
    var t1 = t0
    var sinkStartUs, sinkEndUs = 0L
    val error = try {
      sc.setJobGroup(s"$name#build", name)
      val df = fn(spark, dir)
      t1 = System.nanoTime()
      sc.setJobGroup(s"$name#sink", name)
      sinkStartUs = tracer.map(_.nowUs).getOrElse(0L)
      dump match {
        case None => df.write.format("noop").mode("overwrite").save()
        case Some(out) => normalized(df).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      }
      sinkEndUs = tracer.map(_.nowUs).getOrElse(0L)
      ""
    } catch {
      case e: Throwable =>
        if (t1 == t0) t1 = System.nanoTime()
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    } finally {
      sc.clearJobGroup()
      if (dump.isEmpty) spark.catalog.clearCache() // the warm-up runs queries side by side
    }
    val t2 = System.nanoTime()
    tracer.foreach { tr =>
      tr.close(root)
      tr.span(root, "ops.build", rootStart, rootStart + (t1 - t0) / 1000L)
      if (sinkEndUs > 0) tr.span(root, "exec.sink", sinkStartUs, sinkEndUs)
    }
    Sample(name, pass, tracer.isDefined, (t2 - t0) / 1e9, (t1 - t0) / 1e9,
      (t2 - t1) / 1e9, sinkStartUs, sinkEndUs, error, root)
  }

  val LandingOp = "landing"

  /** heavy_k3's landing step, after `Landing.reset`: builds each query's
    * frame in declared order without consuming it, which lands the
    * artifacts the frames read. One fixed order keeps an artifact's
    * landing out of whichever query a seeded order happens to put first. */
  def runLanding(spark: SparkSession, tracer: Option[Tracer],
      fns: Seq[(SparkSession, String) => DataFrame], dir: String, pass: Int): Sample = {
    val t0 = System.nanoTime()
    val rootStart = tracer.map(_.nowUs).getOrElse(0L)
    val root = tracer.map(_.span(0, LandingOp, rootStart, rootStart)).getOrElse(0)
    tracer.foreach(_.groupSpan.put(s"$LandingOp#build", root))
    val error = try {
      spark.sparkContext.setJobGroup(s"$LandingOp#build", LandingOp)
      fns.foreach(_(spark, dir))
      ""
    } catch {
      case e: Throwable => s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.catalog.clearCache()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    tracer.foreach { tr =>
      tr.close(root)
      tr.span(root, "ops.build", rootStart, tr.nowUs)
    }
    Sample(LandingOp, pass, tracer.isDefined, wall, wall, 0.0, 0L, 0L, error, root)
  }

  /** Verify's dump normalization: integer and float widths as DuckDB
    * produces them, values unchanged. */
  def normalized(df: DataFrame): DataFrame = df.select(df.schema.fields.map(f => f.dataType match {
    case IntegerType | ShortType | ByteType => col(f.name).cast("long").as(f.name)
    case FloatType => col(f.name).cast("double").as(f.name)
    case _ => col(f.name)
  }).toIndexedSeq: _*)

  def landings(): Map[String, Double] = Landing.timings.asScala.toMap.map {
    case (k, v) => k -> v.doubleValue
  }

  /** Artifacts landed since `before` was taken (new or re-timed entries). */
  def landedSince(before: Map[String, Double]): Map[String, Double] =
    landings().filter { case (k, v) => !before.get(k).contains(v) }

  // ------------------------------------------------------ stream pipelines

  val Pipelines = Seq("ingest", "neardup_gate", "sessionize", "cdc_latest", "quality_gate")

  /** Starts one pipeline over its staged files (one micro-batch per file),
    * drained by AvailableNow. */
  def startPipeline(spark: SparkSession, args: Args, corpus: String, name: String,
      ck: String): StreamingQuery = {
    import spark.implicits._
    val in = s"${args.streams}/$name"
    val src = spark.readStream.schema(spark.read.parquet(in).schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    def noop(df: DataFrame, mode: String = "append") = df.writeStream.format("noop")
      .outputMode(mode).option("checkpointLocation", ck).trigger(Trigger.AvailableNow())
    name match {
      case "ingest" =>
        val stations = spark.range(50).select(col("id").as("station_id"),
          concat(lit("STA_"), col("id")).as("station"))
        noop(Streams.ingestPipeline(src, stations).observe("ingest",
          count(lit(1)).as("rows"), sum(col("is_placeholder").cast("long")).as("dead"))).start()
      case "neardup_gate" =>
        Streams.nearDupGate(spark, src, Tables.documents(spark, corpus).select("doc_id", "text"))
          .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
            batch.dropDuplicates("new_doc", "index_doc").write.format("noop")
              .mode("overwrite").save()
          }.option("checkpointLocation", ck).trigger(Trigger.AvailableNow()).start()
      case "sessionize" =>
        noop(Streams.sessionizeWithState(src.withWatermark("ts", "10 minutes"))
          .toDF("user_id", "start_us", "end_us", "n_events")).start()
      case "cdc_latest" =>
        noop(Streams.cdcLatest(src.as[(Long, Long, Long, String, Double)])
          .toDF("user_id", "us", "event_id", "op", "value", "alive"), "update").start()
      case "quality_gate" =>
        noop(Streams.perceptronGate(spark, corpus, src)).start()
    }
  }

  /** Drains one pipeline to the end of its staged files: one sample, and
    * one batch record per micro-batch progress. */
  def runPipeline(spark: SparkSession, run: Run, tracer: Option[Tracer], corpus: String,
      pass: Int, name: String): Sample = {
    val ck = s"${run.args.work}/ck/$name-$pass-${System.nanoTime()}"
    val q0 = System.nanoTime()
    val rootStart = tracer.map(_.nowUs).getOrElse(0L)
    val root = tracer.map(_.span(0, name, rootStart, rootStart)).getOrElse(0)
    tracer.foreach(_.groupSpan.put(s"$name#sink", root))
    val error = try {
      val q = startPipeline(spark, run.args, corpus, name, ck)
      // Its jobs run under a group named after the run id, posted to the
      // listener only after the first micro-batch is planned.
      tracer.foreach(_.alias.put(q.runId.toString, s"$name#sink"))
      q.awaitTermination()
      val prog = q.recentProgress.filter(_.numInputRows > 0)
      prog.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp)
        val startUs = start.getEpochSecond * 1000000L + start.getNano / 1000L
        run.synchronized(run.batches += Batch(name, pass, tracer.isDefined, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
        tracer.foreach(_.span(root, s"batch ${p.batchId}", startUs,
          startUs + p.durationMs.asScala.getOrElse("triggerExecution", 0L: java.lang.Long) * 1000L))
      }
      observe(run, name, pass, q)
      ""
    } catch {
      case e: Throwable => s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }
    tracer.foreach(_.close(root))
    val wall = (System.nanoTime() - q0) / 1e9
    val endUs = tracer.map(_.nowUs).getOrElse(0L)
    Sample(name, pass, tracer.isDefined, wall, 0.0, wall, rootStart, endUs, error, root)
  }

  /** What a drain's output is checked on (in run.py, against counts taken
    * straight from the staged input): rows read, the ingest sink's row and
    * dead-letter counts, and the state store's last and peak row counts. */
  def observe(run: Run, name: String, pass: Int, q: StreamingQuery): Unit = {
    val prog = q.recentProgress
    val obs = prog.flatMap(p => Option(p.observedMetrics.get("ingest")))
    val state = prog.map(_.stateOperators.map(_.numRowsTotal).sum)
    run.synchronized(run.observations += Map(
      "pipeline" -> name, "pass" -> pass, "input_rows" -> prog.map(_.numInputRows).sum,
      "output_rows" -> obs.map(_.getLong(0)).sum,
      "dead_letters" -> obs.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum,
      "state_rows_last" -> state.lastOption.getOrElse(0L),
      "state_rows_peak" -> state.maxOption.getOrElse(0L)))
  }

  // ---------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val run = new Run(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val surface = args.workload == "surface"
    val fns = queryFns(args).toMap
    val ops = queryFns(args).map(_._1) ++ (if (surface) Pipelines else Nil)
    val rnd = new Random(args.seed)
    val dir = args.corpus
    val dumpDir = s"${args.work}/dump"

    val spark = session(args, cores)
    val drift = confDrift(spark, args, cores)
    val context = Map(
      "master" -> spark.sparkContext.master, "nproc" -> cores.toString,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "seed" -> args.seed.toString) ++
      declaredConf(args.workload, cores).map { case (k, _) =>
        s"conf.$k" -> spark.conf.getOption(k).getOrElse("<unset>")
      }
    if (drift.nonEmpty) {
      System.err.println(s"perfbench: effective config differs from the declared one: ${drift.mkString(", ")}")
      spark.stop()
      sys.exit(3)
    }

    def runOp(tr: Option[Tracer], pass: Int, n: String, dump: Option[String]): Sample =
      if (fns.contains(n)) runQuery(spark, run, tr, n, fns(n), dir, pass, dump)
      else runPipeline(spark, run, tr, dir, pass, n)

    // Set-up ends after an untimed warm-up pass, which lands every artifact
    // the queries read and is also the output check: query outputs are
    // dumped for the oracle, pipelines are drained and observed. Its
    // operations run side by side, so the cold JIT and codegen work
    // overlaps across cores.
    Landing.reset(dir)
    locally {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, cores - 1))
      val done = ops.map(n => pool.submit(() => runOp(None, -1, n, Some(dumpDir))))
      run.samples ++= done.map(_.get())
      pool.shutdown()
      spark.catalog.clearCache()
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // The histogram keeps a sample of compile times, not their sum.
    val codegenCompileS =
      codegenCompiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1000.0

    // Timed window: whole passes, each in a fresh seeded order, at least
    // three and until the window is spent. A heavy_k3 pass first re-lands
    // the artifacts, then runs the queries, which read them. A traced run
    // interleaves untraced and traced passes as U T U T, at least four: the
    // overhead compares traced passes with the untraced ones between them,
    // so the first pass's warm-up and a steady drift cancel out of it.
    val tracer = if (args.trace) Some(new Tracer) else None
    val windowEnd = System.nanoTime() + (args.seconds * 1e9).toLong
    var pass = 0
    var phasesSeen = 0
    val minPasses = if (args.trace) 4 else 3
    while (pass < minPasses || System.nanoTime() < windowEnd) {
      val traced = tracer.isDefined && pass % 2 == 1
      val tr = if (traced) tracer else None
      if (!surface) Landing.reset(dir)
      val before = landings()
      tr.foreach(_.attach(spark))
      val t0 = System.nanoTime()
      if (!surface) run.samples += runLanding(spark, tr, HeavyK3.map(fns), dir, pass)
      rnd.shuffle(ops).foreach(n => run.samples += runOp(tr, pass, n, None))
      val wall = (System.nanoTime() - t0) / 1e9
      tr.foreach { t =>
        val sinks = run.samples.filter(s => s.pass == pass && s.sinkEndUs > 0 && fns.contains(s.op))
        t.drain(phasesSeen + sinks.size)
        t.detach(spark)
        // Sinks run one at a time, so their planner callbacks arrive in order.
        sinks.zip(t.synchronized(t.sinkPhases.drop(phasesSeen).toList)).foreach {
          case (s, (_, startMs, endMs)) => t.span(s.rootSpan, "plan", startMs * 1000L, endMs * 1000L)
        }
        phasesSeen = t.synchronized(t.sinkPhases.size)
      }
      run.passes += Pass(pass, traced, wall, landedSince(before))
      pass += 1
    }

    json.writeValue(new File(s"$dumpDir/oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (k, _) => fns.contains(k) })
    val peakRssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    spark.stop()
    json.writeValue(new File(args.out), Map(
      "workload" -> args.workload, "cores" -> cores, "context" -> context,
      "setup_s" -> setupS, "peak_rss_mb" -> peakRssMb,
      "codegen_compiles" -> codegenCompiles, "codegen_compile_s" -> codegenCompileS,
      "samples" -> run.samples, "batches" -> run.batches, "passes" -> run.passes,
      "observations" -> run.observations,
      "groups" -> tracer.map(t => t.synchronized(t.acc.toMap)).getOrElse(Map.empty),
      "sink_phases" -> tracer.map(t => t.synchronized(t.sinkPhases.map(_._1).toList))
        .getOrElse(Nil)))
    tracer.foreach(t => json.writeValue(new File(args.out.stripSuffix(".json") + ".spans.json"),
      t.synchronized(t.spans.sortBy(_.id).toList)))
  }
}
