package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.criteria.Criteria
import graft.functions.{Functions, Json}
import graft.model.{AlertDoc, AlertSpecs}
import graft.model.AlertDoc.Doc

/** What a workload hands back: its end-to-end figures, its per-layer
  * figures (traced runs only), operation counts and what the output
  * checks need to find its results.
  */
final case class Outcome(coldS: Double, unitsS: Seq[Double],
    layers: Map[String, Any], attempted: Long, failed: Long,
    errors: Seq[String], outputs: Map[String, Any])

/** Everything set-up produced, shared by the workloads. */
final case class Ctx(spark: SparkSession, args: Main.Args, meta: Doc,
    specs: Seq[Doc], lake: Option[DataFrame]) {
  def inputs: String = args.inputs
  def run: String = args.run
}

/** One benchmark run in a fresh JVM:
  *
  *   perfbench.Main --workload <w> --inputs <dir> --run <dir>
  *     --seconds <s> --trace <0|1> --launch-ms <epoch ms> [--cold-only 1]
  *
  * `--launch-ms` is when the caller started this JVM; `setup_s` runs
  * from there until the first unit of work can start. `--cold-only 1`
  * stops after set-up and the cold unit, for a further cold sample.
  * Results go to `<run>/result.json`; the output checks run afterwards,
  * outside the JVM and outside every timed region.
  */
object Main {
  final case class Args(workload: String, inputs: String, run: String,
      seconds: Double, trace: Boolean, launchMs: Long, seed: String, coldOnly: Boolean)

  val Workloads = Seq("engine-specs", "stream-drain", "catalog-hot")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (kv.get("workload").contains("report-selftest")) {
      // the reporter on fixed values, plus how the default locale itself
      // would format 1.5 (shows which locale the JVM really ran under)
      println(Report.write(ListMap("pi" -> math.Pi, "n" -> 1234567L,
        "small" -> 0.000123, "neg" -> -2.5, "list" -> Seq(1.5, 2.25),
        "default_locale_1_5" -> "%.1f".format(1.5))))
      return
    }
    val args = Args(kv("workload"), kv("inputs"), kv("run"), kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("launch-ms").toLong, kv.getOrElse("seed", ""),
      kv.getOrElse("cold-only", "0") == "1")
    require(Workloads.contains(args.workload), s"unknown workload ${args.workload}")
    val load0 = Box.loadavg()
    val (ctx, setup) = setUp(args)
    val outcome =
      try args.workload match {
        case "engine-specs" => Engine.run(ctx)
        case "stream-drain" => Stream.run(ctx)
        case "catalog-hot" => Catalog.run(ctx)
      } finally ctx.spark.stop()
    val e2e = ListMap(
      "setup_s" -> setup("setup_s"),
      "cold_s" -> outcome.coldS,
      "unit_s" -> median(outcome.unitsS),
      "rss_peak_mb" -> Box.rssPeakMb())
    val layers =
      if (!args.trace) Map.empty[String, Any]
      else Layers.complete(outcome.layers ++ setup.collect {
        case (k, v) if k != "setup_s" => s"setup.$k" -> v
      } ++ criteriaCompile(ctx))
    val result = ListMap(
      "workload" -> args.workload,
      "trace" -> args.trace,
      "box" -> ListMap("loadavg_start" -> load0, "loadavg_end" -> Box.loadavg(),
        "cores" -> Runtime.getRuntime.availableProcessors(),
        "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1024.0 * 1024.0),
        "seed" -> args.seed),
      "end_to_end" -> e2e,
      "units_s" -> outcome.unitsS,
      "layers" -> layers,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "errors" -> outcome.errors.take(20),
      "outputs" -> outcome.outputs)
    Files.write(Paths.get(args.run, "result.json"),
      Report.write(result).getBytes(StandardCharsets.UTF_8))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Session with `GraftExtensions`, `Functions.register`, the YAML specs
    * and the lake schema: what a cron invocation does before its first
    * tick. The catalog reads its table schemas and runs an unrelated
    * warm-up query instead of loading specs.
    */
  private def setUp(a: Args): (Ctx, Map[String, Double]) = {
    val meta = Json.parseMap(new String(
      Files.readAllBytes(Paths.get(a.inputs, "meta.json")), StandardCharsets.UTF_8))
    var t = System.nanoTime()
    val spark = Tables.configure(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.run}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.run}/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secondsSince(t)
    t = System.nanoTime()
    Functions.register(spark)
    val registerS = secondsSince(t)
    t = System.nanoTime()
    val specs =
      if (a.workload == "catalog-hot") Seq.empty
      else AlertSpecs.loadAll(s"${a.inputs}/specs/*.yml")
    val specsS = secondsSince(t)
    t = System.nanoTime()
    val lake: Option[DataFrame] = a.workload match {
      case "engine-specs" =>
        // as AlertaMain reads its events path
        Some(Tables.normalizeTs(spark.read.parquet(s"${a.inputs}/lake")))
      case "stream-drain" =>
        // as AlertaStreamMain: the stream schema from a static read
        Some(spark.read.parquet(s"${a.run}/events"))
      case _ =>
        AlertDoc.seq(meta, "tables").foreach(tb =>
          Tables.readCachedSchema(spark, s"${a.inputs}/$tb.parquet"))
        spark.range(1000000).selectExpr("sum(id)").collect()
        None
    }
    val lakeS = secondsSince(t)
    val setupS = (System.currentTimeMillis() - a.launchMs) / 1000.0
    (Ctx(spark, a, meta, specs, lake), Map("setup_s" -> setupS,
      "session_s" -> sessionS, "register_s" -> registerS,
      "specs_load_s" -> specsS, "lake_schema_s" -> lakeS))
  }

  /** `criteria.*`: compile every static criteria of the specs with
    * `Criteria.toColumn`, outside the timed region. Templated slot
    * criteria only exist after rendering and are skipped.
    */
  private def criteriaCompile(ctx: Ctx): Map[String, Any] = {
    val texts = ctx.specs.flatMap { s =>
      (s +: AlertDoc.docs(s, "slots")).map(AlertDoc.str(_, "criteria"))
    }.filter(c => c.trim.nonEmpty && !c.contains("{{"))
    var failed = 0L
    val t0 = System.nanoTime()
    texts.foreach { c =>
      try ctx.lake.foreach(_.where(Criteria.toColumn(c)).queryExecution.analyzed)
      catch { case _: Exception => failed += 1 }
    }
    Map("criteria.compile_s" -> secondsSince(t0), "criteria.failed" -> failed)
  }
}

/** Box diagnostics recorded in every result. */
object Box {
  def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Peak resident set (`VmHWM`) of this JVM, in MB. */
  def rssPeakMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.replaceAll("[^0-9]", "").toLong / 1024.0
    } catch { case _: Exception => -1.0 }
}

/** Names of every per-layer metric. A traced run reports all of them;
  * a layer the workload does not exercise reports 0.
  */
object Layers {
  /** The catalog sample: an iterative graph loop that also builds the
    * shared co-purchase graph, two document-similarity pipelines and two
    * alert-path scans.
    */
  val Catalog: Seq[String] = Seq("q211_kcore",
    "q105_prefix_filter_jaccard", "q152_bm25_topk", "q05_threshold_trigger",
    "q02_filter_pushdown")

  val EngineFields: Seq[String] = Seq("jobs", "jobs_per_spec", "stages", "tasks",
    "jobs.isEmpty", "jobs.collect", "jobs.checkpoint", "jobs.sequence",
    "executor_busy_s", "driver_gap_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes")

  val StreamFields: Seq[String] = Seq("queries", "batches", "no_data_batches",
    "input_rows", "start_s", "trigger_s", "add_batch_s", "latest_offset_s",
    "query_planning_s", "wal_commit_s", "commit_offsets_s", "state_commit_s",
    "driver_gap_s", "state_rows", "state_memory_bytes")

  val names: Seq[String] =
    Seq("setup.session_s", "setup.register_s", "setup.specs_load_s",
      "setup.lake_schema_s", "sources.files_read", "sources.bytes_read",
      "sources.rows_read", "criteria.compile_s", "criteria.failed") ++
    Seq("", "tickA.", "tickB.").flatMap(p => EngineFields.map(f => s"engine.$p$f")) ++
    Seq("store.open_s", "store.alerted_ids_calls", "store.alerted_ids_s",
      "store.alert_saves", "store.alert_save_s", "store.inflight_saves",
      "store.inflight_deletes", "store.inflight_write_s", "store.bytes_written") ++
    StreamFields.map(f => s"stream.$f") ++
    Seq("stream.backfill.add_batch_s", "stream.backfill.input_rows",
      "stream.backfill.batches") ++
    Catalog.flatMap(q => Seq(s"catalog.$q.s", s"catalog.$q.jobs")) ++
    Seq("catalog.stages", "catalog.shuffle_bytes", "catalog.executor_busy_s",
      "catalog.driver_gap_s", "trace.overhead_frac", "fail_frac")

  /** `m` with every name present (0 where the workload has no value). */
  def complete(m: Map[String, Any]): ListMap[String, Any] = {
    val extra = m.keySet -- names
    require(extra.isEmpty, s"unlisted layer metrics: ${extra.mkString(", ")}")
    ListMap(names.map(n => n -> m.getOrElse(n, 0L)): _*)
  }

  /** The JobStats fields under `prefix` (engine layout). */
  def jobFields(prefix: String, s: JobStats, specs: Int): Map[String, Any] = {
    val byLayer = s.sites.toSeq.groupMapReduce(x => JobTracer.layer(x._1))(_._2.toLong)(_ + _)
    Map(
      s"${prefix}jobs" -> s.jobs.toLong,
      s"${prefix}jobs_per_spec" -> (if (specs == 0) 0.0 else s.jobs.toDouble / specs),
      s"${prefix}stages" -> s.stages.toLong,
      s"${prefix}tasks" -> s.tasks,
      s"${prefix}jobs.isEmpty" -> byLayer.getOrElse("isEmpty", 0L),
      s"${prefix}jobs.collect" -> byLayer.getOrElse("collect", 0L),
      s"${prefix}jobs.checkpoint" -> byLayer.getOrElse("checkpoint", 0L),
      s"${prefix}jobs.sequence" -> byLayer.getOrElse("sequence", 0L),
      s"${prefix}executor_busy_s" -> s.executorBusyS,
      s"${prefix}driver_gap_s" -> s.driverGapS,
      s"${prefix}shuffle_read_bytes" -> s.shuffleReadBytes,
      s"${prefix}shuffle_write_bytes" -> s.shuffleWriteBytes,
      s"${prefix}spill_bytes" -> s.spillBytes)
  }

  /** Per-metric median over traced units (counts repeat exactly, so their
    * median is the value; times are noisy).
    */
  def medians(units: Seq[Map[String, Any]]): Map[String, Any] =
    if (units.isEmpty) Map.empty
    else units.head.keys.map { k =>
      val vs = units.map(_(k))
      val m: Any = vs.head match {
        case _: Long => vs.map(_.asInstanceOf[Long]).sorted.apply((vs.size - 1) / 2)
        case _ => Main.median(vs.map(_.asInstanceOf[Double]))
      }
      k -> m
    }.toMap

  def overheadFrac(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else Main.median(traced) / Main.median(untraced) - 1.0

  def collectErrors(errors: mutable.ArrayBuffer[String], what: String, e: Throwable): Unit =
    errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}
