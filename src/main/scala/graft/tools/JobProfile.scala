package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev-only job-level profiler (guide §1.1: find where the time goes before
  * touching anything). Runs named queries once each and prints every Spark
  * JOB the query submitted — duration, callsite/description, and the
  * stage-metric totals (shuffle read/write bytes, task time) — so a
  * multi-action operator (an index build, a training loop) decomposes into
  * its actual cost centers without instrumenting the operator.
  *
  * Usage: runMain graft.tools.JobProfile <dataDir> <query> [query ...] */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("sim_pqindex_topk")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class JobRow(id: Int, desc: String, var ms: Long = -1,
                            var shufW: Long = 0, var shufR: Long = 0,
                            var taskMs: Long = 0, var stages: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val order = java.util.Collections.synchronizedList(new java.util.ArrayList[Int]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(js.jobId, JobRow(js.jobId, desc))
        starts.put(js.jobId, js.time)
        order.add(js.jobId)
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { r =>
          r.ms = je.time - starts.getOrDefault(je.jobId, je.time)
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        Option(stageToJob.get(sc.stageInfo.stageId)).map(jobs.get).filter(_ != null).foreach { r =>
          val m = sc.stageInfo.taskMetrics
          r.shufW += m.shuffleWriteMetrics.bytesWritten
          r.shufR += m.shuffleReadMetrics.totalBytesRead
          r.taskMs += m.executorRunTime
          r.stages += 1
        }
      }
    })

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup on a cheap query: JVM/codegen/parquet-footer caches
    try runOnce("o3_count_range") catch { case _: Throwable => () }

    names.foreach { name =>
      jobs.clear(); stageToJob.clear(); starts.clear(); order.clear()
      val wall = runOnce(name)
      // async listener bus: spin until the job table is stable (the
      // Bench shuffle-counter discipline — listenerBus is private[spark])
      var lastDone = -1
      var spins = 0
      def doneCount = {
        import scala.jdk.CollectionConverters._
        jobs.values().asScala.count(_.ms >= 0)
      }
      // require THREE consecutive stable 100 ms samples (ADVICE r17): a
      // single stable sample can exit while a lagging async bus still has
      // JobEnd/StageCompleted events in flight, undercounting durations
      // and racing the next query's jobs.clear()
      var stable = 0
      while (stable < 3 && spins < 60) {
        val now = doneCount
        if (now == lastDone) stable += 1 else { stable = 0; lastDone = now }
        Thread.sleep(100); spins += 1
      }
      println(s"\n===== $name  wall=${f"$wall%.2f"} s  jobs=${order.size()} =====")
      println(f"${"job"}%4s ${"ms"}%7s ${"taskMs"}%7s ${"shufW"}%10s ${"shufR"}%10s ${"st"}%3s  desc")
      import scala.jdk.CollectionConverters._
      order.asScala.foreach { id =>
        val r = jobs.get(id)
        if (r != null)
          println(f"${r.id}%4d ${r.ms}%7d ${r.taskMs}%7d ${r.shufW}%10d ${r.shufR}%10d ${r.stages}%3d  ${r.desc.take(110)}")
      }
      val tot = order.asScala.flatMap(id => Option(jobs.get(id))).map(_.ms).filter(_ > 0).sum
      println(f"sum job ms: $tot  (wall ${math.round(wall * 1000)} ms; gap = driver/planning/IO-commit)")
    }
    spark.stop()
  }
}
