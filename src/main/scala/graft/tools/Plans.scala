package graft.tools

import java.nio.file.{Files, Path}

/** Dev tool: dump formatted physical plans for plan-quality review.
  *
  *   runMain graft.tools.Plans [sfDir] [outDir] [query...]
  *
  * A second argument that is not a query name is an output dir: each plan
  * goes to `<outDir>/<query>.txt` with the JVM-wide counters it prints
  * blanked (expression ids `#123`/`#123L` as `#`; the numbers of
  * `plan_id=`, `RDD[`, `Broadcast(` and lambda class names; the random
  * suffix of the index queries' `/tmp/<prefix><digits>` scratch dirs; the
  * source line of a call site such as `localCheckpoint at File.scala:N`),
  * so `diff -r` of two dumps is a plan-identity check. Without an output
  * dir, the plans print to stdout. */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val queries = graft.SparkEntry.queries
    val (out, picked) = args.drop(1).toSeq match {
      case d +: rest if !queries.contains(d) => (Some(Path.of(d)), rest)
      case rest => (None, rest)
    }
    val names = if (picked.nonEmpty) picked else queries.keys.toSeq.sorted
    val spark = graft.Tables.session(8).master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out.foreach(Files.createDirectories(_))
    names.foreach { name =>
      val plan =
        try queries(name)(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
      out match {
        case Some(d) => Files.writeString(d.resolve(s"$name.txt"), normalize(plan))
        case None => println(s"\n========== $name ==========\n$plan")
      }
    }
    spark.stop()
  }

  private def normalize(plan: String): String =
    plan.replaceAll("#\\d+L?", "#")
      .replaceAll("(plan_id=|RDD\\[|Broadcast\\()\\d+", "$1")
      .replaceAll("\\$Lambda\\$\\d+/0x\\p{XDigit}+@\\p{XDigit}+", "\\$Lambda")
      .replaceAll("(/tmp/[A-Za-z_-]+)\\d+", "$1")
      .replaceAll("(\\bat \\w+\\.scala):\\d+", "$1")
}
