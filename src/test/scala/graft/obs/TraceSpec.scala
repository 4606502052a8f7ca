package graft.obs

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkSpec}
import graft.analytics.Par
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[Trace.phase]]: the Spark job description it sets (inherited by
  * [[Par.run]] task threads), its restore on exit and throw, and the walls
  * Bench's `index_split` reads. */
class TraceSpec extends SparkSpec {

  private def description: Option[String] =
    Option(spark.sparkContext.getLocalProperty("spark.job.description"))

  /** Descriptions of the jobs `block` submits from this thread and the
    * threads it creates, read off a listener once the async bus has gone
    * quiet (count stable over three 100 ms polls, at most 10 s). Jobs are
    * told from those of other specs' still-running streams by a marker
    * local property, which child threads inherit like the description. */
  private def jobDescriptions(block: => Unit): Seq[String] = {
    val marker = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("graft.trace.spec") == marker))
          seen.add(props.flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("<none>")): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty("graft.trace.spec", marker)
    try {
      block
      var (last, stable, spins) = (-1, 0, 0)
      while (stable < 3 && spins < 100) {
        Thread.sleep(100); spins += 1
        if (seen.size == last) stable += 1 else { stable = 0; last = seen.size }
      }
    } finally {
      spark.sparkContext.setLocalProperty("graft.trace.spec", null)
      spark.sparkContext.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }

  test("jobs inside a phase carry <outer>/<label>, including Par.run task jobs") {
    val inTasks = new ConcurrentLinkedQueue[Option[String]]()
    def task(): Unit = { inTasks.add(description); spark.range(5).count(): Unit }
    val descs = jobDescriptions {
      Trace.phase("trace-outer") {
        Trace.phase("inner") {
          spark.range(10).count()
          Par.run(() => task(), () => task())
        }
      }
    }
    assert(inTasks.asScala.toSeq == Seq.fill(2)(Some("trace-outer/inner")))
    assert(descs.size >= 3, s"got $descs")
    assert(descs.forall(_ == "trace-outer/inner"), s"got $descs")
  }

  test("the previous description is restored after a normal exit and after a throw") {
    assert(description.isEmpty)
    Trace.phase("no-prior")(())
    assert(description.isEmpty, "a phase without a prior description must leave none")
    spark.sparkContext.setJobDescription("prior")
    try {
      assert(Trace.phase("ok")(description) == Some("prior/ok"))
      assert(description == Some("prior"))
      intercept[IllegalStateException] {
        Trace.phase("boom")(throw new IllegalStateException("boom"))
      }
      assert(description == Some("prior"))
      assert(Trace.wall("prior/boom").nonEmpty, "a thrown phase still records its wall")
    } finally spark.sparkContext.setJobDescription(null)
  }

  test("the recorded wall is positive and sums over runs") {
    Trace.phase("trace-wall")(Thread.sleep(20))
    val once = Trace.wall("trace-wall").get
    assert(once >= 0.02)
    Trace.phase("trace-wall")(Thread.sleep(20))
    assert(Trace.wall("trace-wall").get >= once + 0.02)
    assert(Trace.wall("trace-never").isEmpty)
  }

  test("a lifecycle query run the way Bench runs it reports a build shorter than its wall") {
    val name = "dedup_cdc_admit"
    def wall(path: String) = Trace.wall(path).getOrElse(0.0)
    val (build0, wall0) = (wall(s"$name/build"), wall(name))
    Trace.phase(name)(SparkEntry.queries(name)(spark, sf("sf0.001"))
      .write.format("noop").mode("overwrite").save())
    val build = wall(s"$name/build") - build0
    val total = wall(name) - wall0
    assert(build > 0, s"no $name/build phase recorded")
    assert(build < total, s"build $build s is not shorter than the run's $total s")
  }
}
