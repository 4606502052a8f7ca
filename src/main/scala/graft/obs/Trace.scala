package graft.obs

import org.apache.spark.sql.SparkSession

/** In-run phase labels for Spark work. [[phase]] appends its label to the
  * calling thread's Spark job description (`<current>/<label>`), so every
  * job the block submits carries the query and phase that produced it — in
  * listener events and in the Spark event log alike. Descriptions are
  * thread-local but inherited by threads created inside the block, so the
  * jobs of [[graft.analytics.Par.run]] tasks carry the label too. The
  * block's wall time accumulates under the full label (read with [[wall]]). */
object Trace {
  private val DescriptionKey = "spark.job.description"
  private val walls = scala.collection.mutable.HashMap.empty[String, Double]

  /** Run `block` as phase `label` of the current description, in the
    * active session; the previous description is restored on exit, normal
    * or thrown. */
  def phase[T](label: String)(block: => T): T = {
    val sc = SparkSession.active.sparkContext
    val prev = Option(sc.getLocalProperty(DescriptionKey))
    val path = prev.fold(label)(p => s"$p/$label")
    sc.setJobDescription(path)
    val t0 = System.nanoTime()
    try block
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      walls.synchronized { walls(path) = walls.getOrElse(path, 0.0) + secs }
      sc.setLocalProperty(DescriptionKey, prev.orNull)
    }
  }

  /** Seconds spent in phase `path` (e.g. `bm25_mlt/build`) so far, summed
    * over every run; None if it never ran. */
  def wall(path: String): Option[Double] = walls.synchronized(walls.get(path))
}
