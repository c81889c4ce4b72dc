package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.AlertDoc.Doc
import graft.store.{AlertStore, InflightStore}

/** Store-call child spans of one tick, summed. */
final class StoreStats {
  var openNs = 0L
  var alertSaves = 0L
  var alertSaveNs = 0L
  var alertedIdsCalls = 0L
  var alertedIdsNs = 0L
  var inflightSaves = 0L
  var inflightDeletes = 0L
  var inflightWriteNs = 0L
  var bytesWritten = 0L

  def +=(o: StoreStats): Unit = {
    openNs += o.openNs; alertSaves += o.alertSaves; alertSaveNs += o.alertSaveNs
    alertedIdsCalls += o.alertedIdsCalls; alertedIdsNs += o.alertedIdsNs
    inflightSaves += o.inflightSaves; inflightDeletes += o.inflightDeletes
    inflightWriteNs += o.inflightWriteNs; bytesWritten += o.bytesWritten
  }
}

/** Timing subclasses of the engine's stores, handed to `Runner`'s
  * constructor in traced cycles. Each override times the inherited
  * call and nothing else; byte counts are read after the clock stops.
  */
final class TimedAlertStore(dir: String, st: StoreStats) extends AlertStore(dir) {
  override def save(alert: Doc): Doc = {
    val t0 = System.nanoTime()
    val doc = super.save(alert)
    st.alertSaveNs += System.nanoTime() - t0
    st.alertSaves += 1
    doc
  }

  override def alertedEventIds(spark: SparkSession, idField: String): DataFrame = {
    val t0 = System.nanoTime()
    val ids = super.alertedEventIds(spark, idField)
    st.alertedIdsNs += System.nanoTime() - t0
    st.alertedIdsCalls += 1
    ids
  }
}

final class TimedInflightStore(dir: String, st: StoreStats) extends InflightStore(dir) {
  private val path = Paths.get(dir, "inflight.jsonl")

  private def rewritten(t0: Long): Unit = {
    st.inflightWriteNs += System.nanoTime() - t0
    // every save/delete rewrites the whole file
    st.bytesWritten += Files.size(path)
  }

  override def save(alert: Doc): Doc = {
    val t0 = System.nanoTime()
    val doc = super.save(alert)
    rewritten(t0)
    st.inflightSaves += 1
    doc
  }

  override def delete(id: String): Unit = {
    val t0 = System.nanoTime()
    super.delete(id)
    rewritten(t0)
    st.inflightDeletes += 1
  }
}

object Stores {
  def alertsFile(dir: String): java.nio.file.Path = Paths.get(dir, "alerts.jsonl")

  def size(p: java.nio.file.Path): Long = if (Files.exists(p)) Files.size(p) else 0L

  /** Open both stores as a cron run does; timed and traced when `st` is
    * given, the plain classes otherwise.
    */
  def open(dir: String, st: Option[StoreStats]): (AlertStore, InflightStore) = st match {
    case Some(s) =>
      val t0 = System.nanoTime()
      val stores = (new TimedAlertStore(dir, s), new TimedInflightStore(dir, s))
      s.openNs += System.nanoTime() - t0
      stores
    case None => (new AlertStore(dir), new InflightStore(dir))
  }
}
