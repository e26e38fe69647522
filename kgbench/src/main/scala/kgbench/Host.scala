package kgbench

import java.lang.management.ManagementFactory
import scala.io.Source
import scala.util.Try
import org.apache.spark.sql.SparkSession

/** The host and configuration a result was taken on. Results from hosts
  * whose records differ are not comparable. */
object Host {

  private def firstLine(path: String): Option[String] =
    Try { val s = Source.fromFile(path); try s.getLines().next() finally s.close() }.toOption

  def load1: Double =
    firstLine("/proc/loadavg").flatMap(_.split(" ").headOption)
      .flatMap(v => Try(v.toDouble).toOption).getOrElse(-1.0)

  def memTotalMb: Long =
    Try {
      val s = Source.fromFile("/proc/meminfo")
      try s.getLines().find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong / 1024).get
      finally s.close()
    }.getOrElse(-1L)

  def json(spark: SparkSession, seed: Long, load1Start: Double, source: String,
           commit: String): String = {
    val conf = spark.conf
    Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "mem_total_mb" -> memTotalMb.toString,
      "load1_start" -> load1Start.toString,
      "load1_end" -> load1.toString,
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "commit" -> Json.str(commit),
      "source_sha256" -> Json.str(source),
      "seed" -> seed.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "threads" -> spark.sparkContext.defaultParallelism.toString,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> (ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getMax / (1L << 20)).toString
    ).map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
  }
}
