package graft.sinks

import org.apache.spark.sql.DataFrame

/** Test double: fails the first `failures` writes then delegates —
  * exercises the O17 retry / O18 DLQ paths deterministically. */
final class FlakySink(delegate: BatchSink, failures: Int) extends BatchSink {
  private val remaining = new java.util.concurrent.atomic.AtomicInteger(failures)
  override def write(df: DataFrame, table: String): Unit =
    if (remaining.getAndDecrement() > 0)
      throw new RuntimeException(s"injected sink failure ($table)")
    else delegate.write(df, table)
}
