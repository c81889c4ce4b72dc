package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** A sample of the query catalog, each query executed exactly once in
  * the JVM (set-up already ran an unrelated warm-up). None of these
  * queries reads a drain memoised by an earlier execution. The timed
  * region is `collect()` of the query's DataFrame; writing the rows for
  * the oracle check happens after the clock stops.
  *
  * Traced runs attach the job tracer to the queries, then time an
  * unrelated probe alternately with and without it for
  * `trace.overhead_frac`.
  */
object Catalog {
  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val tables = ctx.inputs
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    val tracer = if (ctx.args.trace) Some(new JobTracer) else None
    tracer.foreach(sc.addSparkListener)
    val timed = Layers.Catalog.map { q =>
      val (ok, span) = Span.timed(sc, q) {
        try {
          val df = queries(q)(spark, tables)
          Some((df.schema, df.collect()))
        } catch { case e: Exception =>
          failed += 1
          Layers.collectErrors(errors, q, e)
          None
        }
      }
      ok.foreach { case (schema, rows) =>
        spark.createDataFrame(rows.toSeq.asJava, schema)
          .write.mode("overwrite").parquet(s"${ctx.run}/catalog/$q")
      }
      (q, span)
    }
    val secs = timed.map(_._2.seconds)
    val layers = tracer.map { tr =>
      JobTracer.drain(sc)
      sc.removeSparkListener(tr)
      val per = timed.flatMap { case (q, span) =>
        Seq(s"catalog.$q.s" -> span.seconds, s"catalog.$q.jobs" -> tr.stats(Seq(span)).jobs.toLong)
      }.toMap
      val all = tr.stats(timed.map(_._2))
      per ++ Map(
        "catalog.stages" -> all.stages.toLong,
        "catalog.shuffle_bytes" -> all.shuffleWriteBytes,
        "catalog.executor_busy_s" -> all.executorBusyS,
        "catalog.driver_gap_s" -> all.driverGapS,
        "sources.files_read" -> all.filesRead,
        "sources.bytes_read" -> all.bytesRead,
        "sources.rows_read" -> all.rowsRead,
        "trace.overhead_frac" -> overhead(ctx),
        "fail_frac" -> failed.toDouble / timed.size)
    }.getOrElse(Map.empty)
    Outcome(secs.sum, secs, layers, timed.size.toLong, failed, errors.toSeq,
      Map("queries" -> Layers.Catalog,
        "oracle" -> Layers.Catalog.map(q => q -> oracle.getOrElse(q, "")).toMap))
  }

  /** An unrelated shuffle probe, alternately untraced and traced. */
  private def overhead(ctx: Ctx): Double = {
    val sc = ctx.spark.sparkContext
    def probe(): Double = {
      val t0 = System.nanoTime()
      ctx.spark.range(2000000).selectExpr("id % 1000 AS k").groupBy("k").count().collect()
      (System.nanoTime() - t0) / 1e9
    }
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    (1 to 4).foreach { _ =>
      plain += probe()
      val tr = new JobTracer
      sc.addSparkListener(tr)
      traced += Span.timed(sc, "probe")(probe())._1
      JobTracer.drain(sc)
      sc.removeSparkListener(tr)
    }
    Layers.overheadFrac(traced.toSeq, plain.toSeq)
  }
}
