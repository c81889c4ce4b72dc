package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.model.AlertDoc
import graft.model.AlertDoc.Doc
import graft.streaming.StreamingAlerts

/** The streaming drain: `AlertaStreamMain`'s query set (one AvailableNow
  * query per spec, parquet sink, own checkpoint, default sequence
  * engine) over a landing directory. The backfill drains the backlog
  * from empty checkpoints; each tick then lands one file and drains
  * every query again. Traced runs attach the listeners to the backfill
  * and to every other tick.
  */
object Stream {

  /** The queries `AlertaStreamMain` starts for `specs`, with the epoch
    * ms at which each `start()` was called.
    */
  def startAll(events: DataFrame, specs: Seq[Doc], outDir: String)
      : Seq[(String, StreamingQuery, Long)] = {
    val seen = mutable.Map.empty[String, Int]
    specs.flatMap { spec =>
      val base = AlertDoc.str(spec, "alert_name", "unnamed")
      val dup = seen.updateWith(base)(c => Some(c.getOrElse(0) + 1)).get
      val name = if (dup == 1) base else base + "-" + dup
      val out = AlertDoc.str(spec, "alert_type") match {
        case "threshold" => Some(StreamingAlerts.thresholdStream(events, spec).toDF())
        case "deadman" => Some(StreamingAlerts.deadmanStream(events, spec).toDF())
        case "sequence" => Some(StreamingAlerts.sequenceStream(events, spec).toDF())
        case _ => None
      }
      out.map { df =>
        val t = System.currentTimeMillis()
        val q = df.writeStream
          .format("parquet")
          .option("path", s"$outDir/$name")
          .option("checkpointLocation", s"$outDir/_checkpoints/$name")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        (name, q, t)
      }
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val eventsDir = s"${ctx.run}/events"
    val outDir = s"${ctx.run}/out"
    val events = Tables.normalizeTs(
      spark.readStream.schema(ctx.lake.get.schema).parquet(eventsDir))
    val tickFiles = AlertDoc.seq(ctx.meta, "ticks").map(_.toString)
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val snapshots = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracedTicks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val times = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var backfillLayers = Map.empty[String, Any]

    /** Drain every query once (landing `landed` first); returns the wall time. */
    def drain(label: String, traced: Boolean, landed: Option[String]): Double = {
      val jobs = if (traced) Some(new JobTracer) else None
      val progress = if (traced) Some(new StreamTracer) else None
      jobs.foreach(sc.addSparkListener)
      progress.foreach(spark.streams.addListener)
      var started = Seq.empty[(String, StreamingQuery, Long)]
      val (_, span) = Span.timed(sc, label) {
        landed.foreach { f =>
          // land atomically: Spark's file source skips `_`-prefixed names
          val tmp = Paths.get(eventsDir, s"_$f")
          Files.copy(Paths.get(ctx.inputs, "ticks", f), tmp)
          Files.move(tmp, Paths.get(eventsDir, f), StandardCopyOption.ATOMIC_MOVE)
        }
        started = startAll(events, ctx.specs, outDir)
        started.foreach { case (name, q, _) =>
          attempted += 1
          try q.awaitTermination()
          catch { case e: Exception =>
            failed += 1
            Layers.collectErrors(errors, s"$label $name", e)
          }
        }
      }
      // outside the clock: the committed sink files, for the checks
      snapshots += Map("label" -> label, "file" -> landed.getOrElse(""),
        "outputs" -> started.map { case (name, _, _) => name -> sinkFiles(s"$outDir/$name") }.toMap)
      for (jt <- jobs; st <- progress) {
        JobTracer.drain(sc)
        sc.removeSparkListener(jt)
        spark.streams.removeListener(st)
        val runIds = started.map(_._2.runId.toString).toSet
        val batches = st.of(runIds)
        def dur(k: String): Double = batches.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
        val firstBatch = batches.groupBy(_.runId).map { case (r, bs) => r -> bs.map(_.startMs).min }
        val startS = started.map { case (_, q, t) =>
          firstBatch.get(q.runId.toString).map(_ - t).getOrElse(0L) }.sum / 1000.0
        val busy = batches.map(b => (b.startMs, b.startMs + b.durations.getOrElse("triggerExecution", 0L)))
        val lastOf = batches.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
        val m = Map[String, Any](
          "stream.queries" -> started.size.toLong,
          "stream.batches" -> batches.size.toLong,
          "stream.no_data_batches" -> batches.count(_.inputRows == 0).toLong,
          "stream.input_rows" -> batches.map(_.inputRows).sum,
          "stream.start_s" -> startS,
          "stream.trigger_s" -> dur("triggerExecution"),
          "stream.add_batch_s" -> dur("addBatch"),
          "stream.latest_offset_s" -> dur("latestOffset"),
          "stream.query_planning_s" -> dur("queryPlanning"),
          "stream.wal_commit_s" -> dur("walCommit"),
          "stream.commit_offsets_s" -> dur("commitOffsets"),
          "stream.state_commit_s" -> batches.map(_.stateCommitMs).sum / 1000.0,
          "stream.driver_gap_s" ->
            ((span.endMs - span.startMs) - Span.covered(busy, span.startMs, span.endMs)) / 1000.0,
          "stream.state_rows" -> lastOf.map(_.stateRows).sum,
          "stream.state_memory_bytes" -> lastOf.map(_.stateMemory).sum)
        val s = jt.stats(Seq(span))
        val withSources = m ++ Map("sources.files_read" -> s.filesRead,
          "sources.bytes_read" -> s.bytesRead, "sources.rows_read" -> s.rowsRead)
        if (landed.isEmpty) backfillLayers = Map(
          "stream.backfill.add_batch_s" -> m("stream.add_batch_s"),
          "stream.backfill.input_rows" -> m("stream.input_rows"),
          "stream.backfill.batches" -> m("stream.batches"))
        else tracedTicks += withSources
      }
      span.seconds
    }

    val trace = ctx.args.trace
    val backfillS = drain("backfill", trace, None)
    val t0 = System.nanoTime()
    val minTicks = if (trace) 4 else 2
    var i = 0
    while (!ctx.args.coldOnly && i < tickFiles.size &&
        (i < minTicks || (System.nanoTime() - t0) / 1e9 < ctx.args.seconds)) {
      val traced = trace && i % 2 == 1
      times += ((drain(s"tick$i", traced, Some(tickFiles(i))), traced))
      i += 1
    }
    val layers =
      if (!trace) Map.empty[String, Any]
      else Layers.medians(tracedTicks.toSeq) ++ backfillLayers ++ Map(
        "trace.overhead_frac" -> Layers.overheadFrac(
          times.collect { case (s, true) => s }.toSeq, times.collect { case (s, false) => s }.toSeq),
        "fail_frac" -> failed.toDouble / attempted)
    Outcome(backfillS, times.map(_._1).toSeq, layers, attempted, failed, errors.toSeq,
      Map("snapshots" -> snapshots.toSeq))
  }

  /** Committed part files of a sink (relative names, sorted). */
  private def sinkFiles(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
        .toSeq.sorted
      finally s.close()
    }
  }
}
