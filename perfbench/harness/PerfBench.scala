package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.{Sessions, SparkEntry}
import graft.queries.Q
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ReusedExchangeExec}

/** JVM side of the layered benchmark; `run.py` launches one JVM per run.
  *
  * Modes (first argument):
  *  - `run`: set up, warm up, then run timed passes over the workload's
  *    queries until `--seconds` have elapsed (at least two), and write
  *    the result JSON.
  *    One client thread submits one query at a time (a closed loop with
  *    one client); the seed only permutes query order within a pass.
  *  - `oracles`: the DuckDB oracle SQL of the `--queries`.
  *  - `pin`: run each of the `--queries` once and write its digest,
  *    row count and schema.
  *
  * Each query execution is timed from outside, around the calls into
  * each layer: `Q.run` (queries: the builder and any eager jobs it
  * fires), forcing `queryExecution.executedPlan` (plans), and `collect()`
  * (operators). The collected rows are the rows that get checked.
  */
object PerfBench {

  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(opts("out"))
    val result = args.headOption match {
      case Some("oracles") =>
        val o = json.createObjectNode()
        val byName = registry
        queryList(opts).foreach(n => byName(n).oracle.foreach(o.put(n, _)))
        o
      case Some("pin") => pin(opts)
      case Some("run") => new Run(opts).apply()
      case other => sys.error(s"unknown mode $other")
    }
    Files.writeString(out, json.writerWithDefaultPrettyPrinter().writeValueAsString(result))
  }

  private def registry: Map[String, Q] = SparkEntry.all.map(q => q.name -> q).toMap

  private def queryList(opts: Map[String, String]): Seq[String] =
    opts("queries").split(",").toSeq.filter(_.nonEmpty)

  private def session(): SparkSession = {
    val spark = Sessions.local(appName = "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** All persisted Datasets and RDDs: the harness's release between
    * queries. A production caller gets no such release, so the traced
    * run counts what is left before calling this.
    */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def pin(opts: Map[String, String]): ObjectNode = {
    val spark = session()
    val o = json.createObjectNode()
    val byName = registry
    queryList(opts).foreach { n =>
      val e = o.putObject(n)
      try {
        val df = byName(n).run(spark, opts("data"))
        val rows = df.collect()
        e.put("rows", rows.length)
        e.put("sha256", Canon.digest(df.schema, rows))
        e.put("schema", df.schema.simpleString)
      } catch { case t: Throwable => e.put("error", String.valueOf(t)) }
      release(spark)
    }
    spark.stop()
    o
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Inclusive-method quantile, as Python's `statistics.quantiles`. */
  private def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val h = (s.length - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def dirMb(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / 1e6
      finally s.close()
    }

  /** Every node of the final (post-AQE) plan, subqueries included. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case other => other +: (other.children.flatMap(planNodes) ++ other.subqueries.flatMap(planNodes))
  }

  private final case class Expected(check: String, sha256: String, rows: Long, schema: String)

  private def loadExpected(path: String): Map[String, Expected] = {
    val root = json.readTree(new File(path)).get("queries")
    root.fieldNames().asScala.map { n =>
      val e = root.get(n)
      def s(k: String): String = Option(e.get(k)).map(_.asText).orNull
      n -> Expected(s("check"), s("sha256"), Option(e.get("rows")).map(_.asLong).getOrElse(-1L),
        s("schema"))
    }.toMap
  }

  /** One query execution. Times are seconds; `wallS`/`cpuS` cover the
    * layer calls plus the release, never the output check.
    */
  private final case class Exec(query: String, pass: Int, traced: Boolean,
      latencyS: Double, buildS: Double, planS: Double, execS: Double,
      wallS: Double, cpuS: Double, error: Option[String], layers: Map[String, Double])

  private final class Run(opts: Map[String, String]) {
    private val t0EpochMs = opts("t0").toDouble
    private val epochMs0 = System.currentTimeMillis().toDouble
    private val nano0 = System.nanoTime()
    private def epochMs(nano: Long): Double = epochMs0 + (nano - nano0) / 1e6

    private val queries = queryList(opts)
    private val dataDir = opts("data")
    private val seed = opts("seed").toLong
    private val seconds = opts("seconds").toDouble
    private val trace = opts("trace") == "1"
    private val traceDir = opts.get("trace-dir").map(Paths.get(_))
    private val expected = loadExpected(opts("expected"))
    private val byName = registry
    private val loadAvg = Files.readString(Paths.get("/proc/loadavg")).trim

    private val spark = session()
    private val sc = spark.sparkContext
    private val cpus = sc.defaultParallelism
    private val recorder = new Recorder
    private var nextSpan = 0L
    private val spans = json.createArrayNode()

    private def newSpanId(): Long = { nextSpan += 1; nextSpan }

    private def span(id: Long, parent: Option[Long], kind: String, name: String, start: Double,
        end: Double, query: String, pass: Int): ObjectNode = {
      val o = spans.addObject()
      o.put("id", id)
      parent match { case Some(p) => o.put("parent", p); case None => o.putNull("parent") }
      o.put("kind", kind).put("name", name).put("start_ms", start).put("end_ms", end)
      o.put("query", query).put("pass", pass)
      o
    }

    /** Checks one result against the stored expectation; None = pass. */
    private def check(name: String, df: DataFrame, rows: Array[Row]): Option[String] =
      expected.get(name) match {
        case None => Some("no expected result stored")
        case Some(e) if e.check == "hash" =>
          val got = Canon.digest(df.schema, rows)
          if (got == e.sha256) None
          else Some(s"digest mismatch: ${rows.length} rows vs ${e.rows} expected")
        case Some(e) =>
          val schema = df.schema.simpleString
          if (schema != e.schema) Some(s"schema $schema vs ${e.schema} expected")
          else if (rows.isEmpty) Some("empty result")
          else None
      }

    private def execute(name: String, pass: Int, traced: Boolean): Exec = {
      val q = byName.get(name)
      val qSpan = newSpanId()
      var phaseBounds = Vector.empty[(String, Long, Long, Long)]
      def phase[T](label: String)(body: => T): T = {
        val id = newSpanId()
        if (traced) sc.setLocalProperty(Recorder.SpanProperty, id.toString)
        val s = System.nanoTime()
        try body finally phaseBounds :+= ((label, id, s, System.nanoTime()))
      }
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      var df: DataFrame = null
      var rows: Array[Row] = null
      var error: Option[String] = None
      try {
        df = phase("build")(q.getOrElse(sys.error(s"$name is not in the registry")).run(spark, dataDir))
        phase("plan")(df.queryExecution.executedPlan)
        rows = phase("exec")(df.collect())
      } catch { case t: Throwable => error = Some(s"error: $t") }
      sc.setLocalProperty(Recorder.SpanProperty, null)
      val t1 = System.nanoTime()
      val cpu1 = processCpuNs()
      if (error.isEmpty) error = check(name, df, rows)

      var layers = Map.empty[String, Double]
      if (traced && df != null) {
        val tracker = df.queryExecution.tracker.phases
        def ms(p: String): Double = tracker.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        layers ++= Map("plans.analysis_ms" -> ms("analysis"), "plans.optimizer_ms" -> ms("optimization"),
          "plans.planning_ms" -> ms("planning"))
        if (rows != null) {
          val nodes = planNodes(df.queryExecution.executedPlan)
          layers ++= Map(
            "plans.exchanges" -> nodes.count(_.isInstanceOf[Exchange]).toDouble,
            "plans.reused_exchanges" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]).toDouble,
            "plans.broadcast_exchanges" -> nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toDouble)
        }
      }
      if (traced) {
        val persisted = sc.getPersistentRDDs.keySet
        val storage = sc.getRDDStorageInfo.filter(i => persisted.contains(i.id))
        layers ++= Map("operators.cached_rdds_left" -> persisted.size.toDouble,
          "operators.cached_mb_left" -> storage.map(i => i.memSize + i.diskSize).sum / 1e6)
      }

      val cpu2 = processCpuNs()
      val t2 = System.nanoTime()
      release(spark)
      val t3 = System.nanoTime()
      val cpu3 = processCpuNs()

      // every query, traced or not, ends with the listener bus drained, so
      // traced and untraced passes pause alike between queries
      ListenerBusDrain(sc)
      val took = phaseBounds.map(p => p._1 -> (p._4 - p._3) / 1e9).toMap
      if (traced) {
        span(qSpan, None, "query", name, epochMs(t0), epochMs(t1), name, pass)
        phaseBounds.foreach { case (label, id, s, e) =>
          span(id, Some(qSpan), "phase", label, epochMs(s), epochMs(e), name, pass)
        }
        val buildSpan = phaseBounds.find(_._1 == "build").map(_._2)
        layers ++= events(name, pass, qSpan, buildSpan, recorder.take())
      }
      Exec(name, pass, traced, (t1 - t0) / 1e9, took.getOrElse("build", 0.0),
        took.getOrElse("plan", 0.0), took.getOrElse("exec", 0.0),
        (t1 - t0 + t3 - t2) / 1e9, (cpu1 - cpu0 + cpu3 - cpu2) / 1e9, error, layers)
    }

    /** Spark and streaming events of one query, as spans and sums. */
    private def events(name: String, pass: Int, qSpan: Long, buildSpan: Option[Long],
        ev: Recorder.Events): Map[String, Double] = {
      ev.jobs.foreach { j =>
        val parent = if (j.span >= 0) j.span else qSpan
        val end = ev.jobEnds.get(j.id).map(_._1.toDouble).getOrElse(j.start.toDouble)
        span(newSpanId(), Some(parent), "job", s"job ${j.id}", j.start.toDouble, end, name, pass)
          .put("stages", j.stageIds.size)
      }
      val jobOf = Recorder.stagesOf(ev.jobs)
      ev.stages.foreach { s =>
        val job = jobOf.get(s.id)
        val parent = job.map(j => if (j.span >= 0) j.span else qSpan).getOrElse(qSpan)
        span(newSpanId(), Some(parent), "stage", s"stage ${s.id}.${s.attempt}", s.start.toDouble,
          s.end.toDouble, name, pass)
          .put("job", job.map(_.id).getOrElse(-1)).put("tasks", s.tasks).put("ok", s.ok)
      }
      val t = ev.tasks
      def sum(f: Recorder.Task => Long): Double = t.iterator.map(f).sum.toDouble
      Map(
        "queries.build_jobs" -> ev.jobs.count(j => buildSpan.contains(j.span)).toDouble,
        "operators.jobs" -> ev.jobs.size.toDouble,
        "operators.stages" -> ev.stages.size.toDouble,
        "operators.tasks" -> t.size.toDouble,
        "operators.tasks_failed" -> t.count(_.failed).toDouble,
        "operators.task_run_s" -> sum(_.runMs) / 1e3,
        "operators.task_cpu_s" -> sum(_.cpuNs) / 1e9,
        "operators.task_gc_s" -> sum(_.gcMs) / 1e3,
        "operators.task_wait_s" -> sum(_.waitMs) / 1e3,
        "operators.spill_mb" -> sum(_.spill) / 1e6,
        "operators.shuffle_write_mb" -> sum(_.shuffleWrite) / 1e6,
        "operators.shuffle_read_mb" -> sum(_.shuffleRead) / 1e6,
        "sources.input_mb" -> sum(_.inBytes) / 1e6,
        "sources.input_records" -> sum(_.inRecords),
        "sources.output_mb" -> sum(_.outBytes) / 1e6,
        "sources.output_records" -> sum(_.outRecords),
        "streaming.batches" -> ev.batches.size.toDouble,
        "streaming.batch_s" -> ev.batches.map(_._1).sum / 1e3,
        "streaming.input_rows" -> ev.batches.map(_._2).sum.toDouble)
    }

    def apply(): ObjectNode = {
      if (trace) {
        sc.addSparkListener(recorder)
        spark.streams.addListener(recorder.streams)
      }
      // warm-up: one untimed, unchecked execution of every query, so
      // codegen, class loading and parquet footers settle before timing
      val warmS = queries.map { n =>
        val s = System.nanoTime()
        try byName.get(n).foreach(_.run(spark, dataDir).collect())
        catch { case _: Throwable => () }
        release(spark)
        n -> (System.nanoTime() - s) / 1e9
      }
      val firstNs = System.nanoTime()
      val setupS = (epochMs(firstNs) - t0EpochMs) / 1e3
      val deadline = firstNs + (seconds * 1e9).toLong
      // at least two timed passes, so the pass count does not flip between
      // one and two when a pass takes about as long as the run; traced
      // runs alternate untraced and traced passes as U T T U, so the
      // warm-up trend cancels out of trace_overhead
      val minPasses = if (trace) 4 else 2
      val execs = Vector.newBuilder[Exec]
      val passes = Vector.newBuilder[(Int, Boolean, Double, Double)]
      var pass = 0
      while (pass < minPasses || System.nanoTime() < deadline) {
        val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
        recorder.on = traced
        val order = new Random(seed * 1000003L + pass).shuffle(queries)
        val done = order.map(execute(_, pass, traced))
        execs ++= done
        passes += ((pass, traced, done.map(_.wallS).sum, done.map(_.cpuS).sum))
        pass += 1
      }
      recorder.on = false
      val tmpMbLeft = dirMb(Paths.get(System.getProperty("java.io.tmpdir")))
      val all = execs.result()
      val ps = passes.result()
      val plainPasses = ps.filterNot(_._2)
      val tracedPasses = ps.filter(_._2)

      val o = json.createObjectNode()
      val stamp = o.putObject("stamp")
      stamp.put("nproc", Runtime.getRuntime.availableProcessors())
      stamp.put("master", sc.master)
      stamp.put("heap", ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .findLast(_.startsWith("-Xmx")).map(_.drop(4)).getOrElse("JVM default"))
      stamp.put("data", Paths.get(dataDir).getFileName.toString)
      stamp.put("seed", seed)
      stamp.put("loadavg_start", loadAvg)
      stamp.put("spark", spark.version)
      stamp.put("passes", ps.size)

      val failures = all.filter(_.error.isDefined)
      o.put("attempted", all.size)
      o.put("failed", failures.size)
      val f = o.putArray("failures")
      failures.foreach(e => f.addObject().put("query", e.query).put("pass", e.pass)
        .put("reason", e.error.get))

      val plain = all.filterNot(_.traced).filter(_.error.isEmpty).map(_.latencyS)
      val e2e = o.putObject("end_to_end")
      e2e.put("wall_s", median(plainPasses.map(_._3)))
      e2e.put("query_p50_s", median(plain))
      if (plain.size >= 100) e2e.put("query_p90_s", quantile(plain, 0.9))
      e2e.put("cpu_s", median(plainPasses.map(_._4)))
      e2e.put("peak_rss_mb", vmHwmMb())
      e2e.put("setup_s", setupS)
      e2e.put("failed_frac", failures.size.toDouble / math.max(1, all.size))
      e2e.put("executions", plain.size)

      val passArr = o.putArray("passes")
      ps.foreach { case (i, t, w, c) =>
        passArr.addObject().put("pass", i).put("traced", t).put("wall_s", w).put("cpu_s", c)
      }
      val warm = o.putObject("warmup_s")
      warmS.foreach { case (n, t) => warm.put(n, t) }
      val perQuery = o.putObject("query_s")
      all.filterNot(_.traced).groupBy(_.query).toSeq.sortBy(_._1).foreach { case (n, es) =>
        perQuery.put(n, median(es.map(_.latencyS)))
      }

      if (trace) {
        val layer = o.putObject("per_layer")
        val tracedExecs = all.filter(_.traced)
        val byPass = tracedExecs.groupBy(_.pass)
        def perPass(f: Seq[Exec] => Double): Double = median(byPass.values.map(f).toSeq)
        val keys = tracedExecs.flatMap(_.layers.keys).distinct.sorted
        layer.put("queries.build_s", perPass(_.map(_.buildS).sum))
        layer.put("plans.plan_s", perPass(_.map(_.planS).sum))
        layer.put("operators.exec_s", perPass(_.map(_.execS).sum))
        keys.foreach(k => layer.put(k, perPass(_.map(_.layers.getOrElse(k, 0.0)).sum)))
        val eff = perPass(es => es.map(_.layers.getOrElse("operators.task_run_s", 0.0)).sum /
          (es.map(_.wallS).sum * cpus))
        layer.put("operators.parallel_eff", eff)
        layer.put("sources.tmp_mb_left", tmpMbLeft)
        layer.put("trace_overhead",
          median(tracedPasses.map(_._3)) / median(plainPasses.map(_._3)) - 1)
        o.put("regime", if (eff >= 0.5) "data-parallel" else "fixed-overhead")
        traceDir.foreach { d =>
          Files.createDirectories(d)
          Files.writeString(d.resolve("spans.json"), json.writeValueAsString(spans))
          val side = json.createArrayNode()
          tracedExecs.foreach { e =>
            val r = side.addObject().put("query", e.query).put("pass", e.pass)
              .put("latency_s", e.latencyS).put("build_s", e.buildS).put("plan_s", e.planS)
              .put("exec_s", e.execS).put("ok", e.error.isEmpty)
            e.error.foreach(r.put("error", _))
            e.layers.toSeq.sortBy(_._1).foreach { case (k, v) => r.put(k, v) }
          }
          Files.writeString(d.resolve("queries.json"), json.writerWithDefaultPrettyPrinter()
            .writeValueAsString(side))
        }
      }
      spark.stop()
      o
    }
  }
}
