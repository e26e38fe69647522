package graft

import org.apache.spark.sql.SparkSession

/** Plan capture harness: write `.explain("formatted")` of named SparkEntry
  * queries to files — the evidence artifacts under `plans/r*`.
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,..."
  *
  * writes `<outDir>/<query>_<suffix>.txt` for each query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> q1,q2,...")
    val Array(sfDir, outDir, suffix, list) = args
    val names = list.split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"PLANDUMP wrote $name ${txt.linesIterator.size} lines")
    }
    spark.stop()
  }
}
