package kgbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/**
 * The benchmark main program: one JVM, `local[nproc]`, one closed-loop
 * client (the next iteration starts when the previous one returned and was
 * checked).
 *
 *   kgbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
 *                [--out FILE] [--commit C] [--source-hash H]
 *
 * Prints, as the last stdout line, one JSON object with `correct`,
 * `attempted`, `failed` and `metrics`: the end-to-end metrics with
 * `--trace 0`, the per-layer metrics with `--trace 1`.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: Option[String], commit: String, source: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      need("work"), m.get("out"), m.getOrElse("commit", "unknown"),
      m.getOrElse("source-hash", "unknown"))
  }

  /** A run stops starting iterations after this long, whatever `--seconds`. */
  private val RunCapS = 110.0

  private def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", (4 * n).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap in use after a full collection. */
  private def retainedHeapMb: Double = {
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  final case class Sample(wall: Double, cpu: Double, heap: Double, cachedMb: Double)

  def main(argv: Array[String]): Unit = {
    val launchToMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = parse(argv)
    val load1Start = Host.load1
    Files.createDirectories(Paths.get(a.work))
    val w = Workloads(a.workload, a.seed, a.work)

    // ---- set-up: session start and input registration in the fresh JVM;
    // input generation in between is not counted ----
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val started = System.nanoTime()
    w.prepare(spark)
    val genS = (System.nanoTime() - started) / 1e9
    val t1 = System.nanoTime()
    // registration: resolve the input tables' files and schemas
    spark.read.parquet(s"${a.work}/input").schema
    val setupS = launchToMainS + (started - t0 + System.nanoTime() - t1) / 1e9
    System.err.println(f"[kgbench] ${w.name}: ${w.inputRows}%d input rows, generated in $genS%.1f s")

    // ---- iterations ----
    val trace = if (a.trace) Some(new Trace(spark.sparkContext)) else None
    val traceT0 = System.nanoTime()
    // per iteration: its index, its output digests, and its failed checks
    val results = mutable.ArrayBuffer.empty[(Int, Option[Map[String, Outputs.Digest]], Seq[String])]
    var expected = Option.empty[Map[String, Outputs.Digest]]
    var pr: Option[Outputs.PR] = None

    /** One iteration; a failed one still yields its sample. */
    def iteration(traced: Boolean, index: Int): Sample = {
      w.before()
      val s = spark.newSession()
      s.catalog.clearCache()
      trace.foreach(_.iteration = index)
      val cpu0 = processCpuNs
      val t0 = System.nanoTime()
      val out = try Right(w.run(s, if (traced) trace else None))
      catch { case e: Exception => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs - cpu0) / 1e9
      val errs = out match {
        case Left(e) => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}")
        case Right(it) =>
          val golden = if (pr.isEmpty) {
            val p = Outputs.triplePR(it.tripleSet, w.golden)
            pr = Some(p)
            if (p.passes) Nil else Seq(f"golden triples P=${p.precision}%.4f R=${p.recall}%.4f < 0.95")
          } else Nil
          val diff = expected match {
            case Some(exp) => Outputs.mismatches(exp, it.digests)
            case None => expected = Some(it.digests); Nil
          }
          it.failures ++ golden ++
            (if (diff.isEmpty) Nil else Seq(s"output frames differ from iteration 0: ${diff.mkString(",")}"))
      }
      results += ((index, out.toOption.map(_.digests), errs))
      System.err.println(f"[kgbench] iteration $index%d${if (traced) " (traced)" else ""}: " +
        f"wall $wall%.3f s, cpu $cpu%.3f s")
      val heap = retainedHeapMb
      val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
      s.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      org.apache.spark.kgbench.Internals.dropBroadcasts(spark.sparkContext)
      w.after()
      Sample(wall, cpu, heap, cachedMb)
    }

    val runStart = System.nanoTime()
    def elapsed = (System.nanoTime() - runStart) / 1e9
    val cold = iteration(traced = false, 0)
    val plain = mutable.ArrayBuffer.empty[Sample]
    val traced = mutable.ArrayBuffer.empty[(Int, Sample)]
    val windowStart = System.nanoTime()
    var i = 1
    def inWindow = (System.nanoTime() - windowStart) / 1e9 < a.seconds
    // at least one steady iteration (and one traced one with --trace 1), then
    // more while the window lasts
    while ((inWindow || plain.isEmpty || (a.trace && traced.isEmpty)) && elapsed < RunCapS) {
      val tracedNow = a.trace && i % 2 == 0
      val smp = iteration(tracedNow, i)
      if (tracedNow) traced += i -> smp else plain += smp
      i += 1
    }

    // ---- untimed: every iteration against the workload's reference ----
    val reference = try Right(w.reference(spark.newSession()))
    catch { case e: Exception => Left(s"reference threw ${e.getClass.getName}: ${e.getMessage}") }
    val checked = results.toSeq.map { case (i, ds, errs) =>
      val late = (reference, ds) match {
        case (Left(e), _) => Seq(e)
        case (Right(Some(ref)), Some(d)) =>
          val diff = Outputs.mismatches(ref, d)
          if (diff.isEmpty) Nil else Seq(s"output frames differ from the reference: ${diff.mkString(",")}")
        case _ => Nil
      }
      i -> (errs ++ late)
    }
    val problems = checked.flatMap { case (i, es) => es.map(e => s"iteration $i: $e") }
    problems.foreach(p => System.err.println(s"[kgbench] FAILED $p"))
    val attempted = checked.length
    val failed = checked.count(_._2.nonEmpty)

    // ---- report ----
    def metric(name: String, unit: String, v: Double): String =
      Json.str(name) + ":{\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(unit) + "}"
    val wall = median(plain.map(_.wall).toSeq)
    val metrics: Seq[String] =
      if (!a.trace) Seq(
        metric("setup_s", "s", setupS),
        metric("cold_wall_s", "s", cold.wall),
        metric("wall_s", "s", wall),
        metric("input_rows_per_s", "1/s", w.inputRows / wall),
        metric("cpu_s", "s", median(plain.map(_.cpu).toSeq)),
        metric("retained_heap_mb", "MB", median(plain.map(_.heap).toSeq)))
      else Layers.metrics(trace.get, w, traced.toSeq, wall, median(plain.map(_.cachedMb).toSeq))
        .map { case (n, u, v) => metric(n, u, v) }

    val failRatio = if (attempted == 0) 1.0 else failed.toDouble / attempted
    val host = Host.json(spark, a.seed, load1Start, a.source, a.commit)
    val detail =
      s"""{"workload":"${w.name}","trace":${a.trace},"generator":${w.params.json},""" +
        s""""input_rows":${w.inputRows},"generate_s":$genS,"launch_to_main_s":$launchToMainS,""" +
        s""""walls_s":${plain.map(_.wall).mkString("[", ",", "]")},""" +
        s""""traced_walls_s":${traced.map(_._2.wall).mkString("[", ",", "]")},""" +
        s""""fail_ratio":$failRatio,""" +
        s""""golden_pr":${pr.map(p => s"""{"precision":${p.precision},"recall":${p.recall}}""").getOrElse("null")},""" +
        s""""problems":${problems.map(Json.str).mkString("[", ",", "]")},""" +
        s""""host":$host}"""
    a.out.foreach { f =>
      val spans = trace.map(_.json(traceT0)).getOrElse("[]")
      Files.write(Paths.get(f),
        s"""{"detail":$detail,\n"metrics":${metrics.mkString("{", ",", "}")},\n"spans":$spans}\n"""
          .getBytes("UTF-8"))
    }
    spark.stop()
    println(detail)
    val correct = failed == 0 && attempted > 0
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${metrics.mkString("{", ",", "}")}}""")
  }
}
