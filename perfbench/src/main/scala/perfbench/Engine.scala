package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import graft.engine.Runner
import graft.functions.Dates
import graft.model.AlertDoc

/** The cron path: a cycle resets the store to the workload's seeded
  * state, then runs tick A at `now_a` and tick B at `now_b` (15 minutes
  * later), each as `AlertaMain` does one invocation: open the stores,
  * `new Runner(...)`, `runOnce`. The first cycle is cold; warm cycles
  * repeat for `--seconds` (none with `--cold-only`). Traced runs attach
  * the tracer to every other warm cycle and compare the two halves for
  * `trace.overhead_frac`.
  */
object Engine {
  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val nowA = Dates.toUTC(AlertDoc.str(ctx.meta, "now_a"))
    val nowB = Dates.toUTC(AlertDoc.str(ctx.meta, "now_b"))
    val prior = Option(AlertDoc.str(ctx.meta, "prior_alerts")).filter(_.nonEmpty)
      .map(p => Paths.get(ctx.inputs, p))
    val lake = ctx.lake.get
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    var attempted = 0L
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    val warm = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val tracedLayers = mutable.ArrayBuffer.empty[Map[String, Any]]
    var sites = Map.empty[String, Int]

    def cycle(i: Int, traced: Boolean): Double = {
      val dir = s"${ctx.run}/cycles/c$i"
      Files.createDirectories(Paths.get(dir))
      prior.foreach(p => Files.copy(p, Stores.alertsFile(dir), StandardCopyOption.REPLACE_EXISTING))
      val tracer = if (traced) Some(new JobTracer) else None
      tracer.foreach(sc.addSparkListener)
      val priorLines = lines(dir)

      def tick(label: String, now: java.time.Instant): (Span, Option[StoreStats]) = {
        val st = if (traced) Some(new StoreStats) else None
        val size0 = Stores.size(Stores.alertsFile(dir))
        val (_, span) = Span.timed(sc, s"c$i.$label") {
          attempted += ctx.specs.size
          try {
            val (alerts, inflight) = Stores.open(dir, st)
            new Runner(spark, alerts, inflight).runOnce(lake, ctx.specs, now)
          } catch {
            case e: Exception =>
              failed += ctx.specs.size
              Layers.collectErrors(errors, s"cycle $i tick $label", e)
          }
        }
        st.foreach(_.bytesWritten += Stores.size(Stores.alertsFile(dir)) - size0)
        (span, st)
      }

      val (spanA, stA) = tick("A", nowA)
      // outside the clock: what tick A left behind, for the checks
      val linesA = lines(dir)
      val inflight = Paths.get(dir, "inflight.jsonl")
      if (Files.exists(inflight))
        Files.copy(inflight, Paths.get(dir, "inflight_A.jsonl"), StandardCopyOption.REPLACE_EXISTING)
      val (spanB, stB) = tick("B", nowB)
      cycles += Map("dir" -> dir, "lines_prior" -> priorLines, "lines_a" -> linesA,
        "lines_b" -> lines(dir))
      tracer.foreach { tr =>
        JobTracer.drain(sc)
        sc.removeSparkListener(tr)
        val k = ctx.specs.size
        val st = new StoreStats
        (stA ++ stB).foreach(st += _)
        val all = tr.stats(Seq(spanA, spanB))
        sites = all.sites
        tracedLayers += (Layers.jobFields("engine.", all, k) ++
          Layers.jobFields("engine.tickA.", tr.stats(Seq(spanA)), k) ++
          Layers.jobFields("engine.tickB.", tr.stats(Seq(spanB)), k) ++ Map(
          "sources.files_read" -> all.filesRead,
          "sources.bytes_read" -> all.bytesRead,
          "sources.rows_read" -> all.rowsRead,
          "store.open_s" -> st.openNs / 1e9,
          "store.alerted_ids_calls" -> st.alertedIdsCalls,
          "store.alerted_ids_s" -> st.alertedIdsNs / 1e9,
          "store.alert_saves" -> st.alertSaves,
          "store.alert_save_s" -> st.alertSaveNs / 1e9,
          "store.inflight_saves" -> st.inflightSaves,
          "store.inflight_deletes" -> st.inflightDeletes,
          "store.inflight_write_s" -> st.inflightWriteNs / 1e9,
          "store.bytes_written" -> st.bytesWritten))
      }
      spanA.seconds + spanB.seconds
    }

    val trace = ctx.args.trace
    // per-layer figures come from warm cycles only, so counts and times
    // compare like with like
    val coldS = cycle(0, traced = false)
    val minWarm = if (trace) 4 else 2
    val t0 = System.nanoTime()
    var i = 1
    while (!ctx.args.coldOnly &&
        (i <= minWarm || (System.nanoTime() - t0) / 1e9 < ctx.args.seconds)) {
      val traced = trace && i % 2 == 0
      warm += ((cycle(i, traced), traced))
      i += 1
    }
    val layers =
      if (!trace) Map.empty[String, Any]
      else Layers.medians(tracedLayers.toSeq) ++ Map(
        "trace.overhead_frac" -> Layers.overheadFrac(
          warm.collect { case (s, true) => s }.toSeq, warm.collect { case (s, false) => s }.toSeq),
        "fail_frac" -> failed.toDouble / attempted)
    Outcome(coldS, warm.map(_._1).toSeq, layers, attempted, failed, errors.toSeq,
      Map("now_a" -> Dates.iso(nowA), "now_b" -> Dates.iso(nowB), "cycles" -> cycles.toSeq,
        "call_sites" -> sites))
  }

  private def lines(dir: String): Long = {
    val p = Stores.alertsFile(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.lines(p)
      try s.filter(!_.isEmpty).count() finally s.close()
    }
  }
}
