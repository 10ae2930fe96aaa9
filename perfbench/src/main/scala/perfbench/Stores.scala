package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.epic.{JdbcWatchStore, WatchStore}

/** Timing subclasses of the two real watch stores: the per-batch
  * `expireDue` and `watchlist` calls become spans of the batch that made
  * them (the stream thread carries the `streaming.sql.batchId` property).
  * With tracing off they only delegate. */
private object StoreSpans {
  def batchOf(spark: SparkSession): String =
    "b" + Option(spark.sparkContext.getLocalProperty("streaming.sql.batchId"))
      .getOrElse("")
}

final class TimedWatchStore(spark: SparkSession, path: String, tr: Tracer)
    extends WatchStore(spark, path) {
  override def expireDue(now: Timestamp): Long =
    tr.span("epic.watchstore", "epic.watchstore.expire",
      StoreSpans.batchOf(spark))(super.expireDue(now))
  override def watchlist(now: Timestamp): DataFrame =
    tr.span("epic.watchstore", "epic.watchstore.watchlist",
      StoreSpans.batchOf(spark))(super.watchlist(now))
}

final class TimedJdbcWatchStore(spark: SparkSession, url: String, tr: Tracer)
    extends JdbcWatchStore(spark, url) {
  override def expireDue(now: Timestamp): Long =
    tr.span("epic.watchstore", "epic.watchstore.expire",
      StoreSpans.batchOf(spark))(super.expireDue(now))
  override def watchlist(now: Timestamp): DataFrame =
    tr.span("epic.watchstore", "epic.watchstore.watchlist",
      StoreSpans.batchOf(spark))(super.watchlist(now))
}
