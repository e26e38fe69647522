package kgbench

/** Per-layer metrics of a traced run, named `<layer>.<stage>.<kind>`. Each
  * is the median over the run's traced iterations; a layer the workload does
  * not call reads 0. */
object Layers {

  private val KgKinds = Seq("wall_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_mb" -> "MB", "rows" -> "count", "jobs" -> "count", "skew" -> "ratio",
    "retries" -> "count")
  private val CheckpointStages = Seq("checkpoint.merge", "checkpoint.write", "checkpoint.read")
  private val CheckpointKinds = Seq("wall_s" -> "s", "cpu_s" -> "s", "io_mb" -> "MB",
    "files" -> "count", "jobs" -> "count")
  private val Other = Seq("link.pairs.yield" -> "ratio", "memo.cached_mb" -> "MB",
    "checkpoint.stored_mb" -> "MB", "pipeline.glue_s" -> "s", "trace.overhead_ratio" -> "ratio")

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    (for (s <- Workloads.KgStages; (k, u) <- KgKinds) yield s"$s.$k" -> u) ++
      (for (s <- CheckpointStages; (k, u) <- CheckpointKinds) yield s"$s.$k" -> u) ++ Other

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def metrics(t: Trace, w: Workload, traced: Seq[(Int, Main.Sample)], plainWall: Double,
              cachedMb: Double): Seq[(String, String, Double)] = {
    val counts = w.layerCounts
    def perIteration(iter: Int, wall: Double): Map[String, Double] = {
      val spans = t.spans.filter(_.iteration == iter)
      val stages = (Workloads.KgStages ++ CheckpointStages).filter(n => spans.exists(_.name == n))
      val perStage = stages.flatMap { st =>
        val tt = t.totals(st, iter)
        Seq(
          s"$st.wall_s" -> spans.filter(_.name == st).map(t.selfSeconds).sum,
          s"$st.cpu_s" -> tt.cpuNs / 1e9,
          s"$st.gc_s" -> tt.gcMs / 1e3,
          s"$st.shuffle_mb" -> tt.shuffleWriteBytes / 1e6,
          s"$st.io_mb" -> tt.ioBytes / 1e6,
          s"$st.jobs" -> tt.jobs.toDouble,
          s"$st.skew" -> tt.skew,
          s"$st.retries" -> tt.retries.toDouble)
      }
      val topLevel = spans.filter(_.parent < 0).map(s => (s.endNs - s.startNs) / 1e9).sum
      (perStage :+ ("pipeline.glue_s" -> (wall - topLevel))).toMap
    }
    val samples = traced.map { case (i, smp) => perIteration(i, smp.wall) }
    val tracedWall = median(traced.map(_._2.wall))
    names.map { case (n, u) =>
      val v = n match {
        case "trace.overhead_ratio" => tracedWall / plainWall
        case "memo.cached_mb" => cachedMb
        case _ if counts.contains(n) => counts(n)
        case _ => median(samples.flatMap(_.get(n)))
      }
      (n, u, v)
    }
  }
}
