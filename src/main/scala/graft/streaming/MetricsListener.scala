package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming metrics surface (SURVEY §7.2 M5): per-micro-batch throughput
  * plus the pipeline's `observe("graft_metrics", ...)` counters (the skip
  * accounting the reference logs per missing field, src/main.rs:445-453,
  * travels as observed metrics on the transformed stream).
  *
  * The reference's equivalents are its `info!`/`warn!` tracing lines and the
  * throughput measurement feeding O16; here every batch's numbers flow
  * through one listener that logs them.
  */
final class MetricsListener extends StreamingQueryListener {

  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit =
    System.err.println(s"[graft-metrics] query ${event.name} started (${event.id})")

  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = event.progress
    val observed = {
      val om = p.observedMetrics
      if (om == null || om.isEmpty) Map.empty[String, String]
      else {
        val b = Map.newBuilder[String, String]
        om.forEach { (name, row) =>
          row.schema.fieldNames.foreach(f => b += (s"$name.$f" -> String.valueOf(row.getAs[Any](f))))
        }
        b.result()
      }
    }
    System.err.println(s"[graft-metrics] batch=${p.batchId} rows=${p.numInputRows} " +
      f"rate=${p.processedRowsPerSecond}%.1f/s observed=$observed")
  }

  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit =
    System.err.println(s"[graft-metrics] query ${event.id} terminated" +
      event.exception.map(e => s" with error: $e").getOrElse(""))
}
