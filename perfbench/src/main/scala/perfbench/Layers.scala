package perfbench

import perfbench.Tracer.{JobRec, StageRec}

/** Layer metrics shared by the workloads, from a traced run's spans. */
object Layers {

  /** Execution metrics averaged over operations; each operation is its
    * root span with the Spark jobs and stages attributed to it.
    */
  def exec(ctx: Ctx, ops: Seq[(Stats.Span, Seq[JobRec], Seq[StageRec])]): Unit = {
    val m = ctx.report.metrics
    val n = ops.size.max(1).toDouble
    val stages = ops.flatMap(_._3)
    val wallNs = ops.map { case (_, js, _) =>
      Stats.coveredNs(js.map(j => (j.startNs, j.endNs)), Long.MinValue, Long.MaxValue)
    }.sum
    val cpuNs = stages.map(_.cpuNs).sum
    m("exec.wall_ms") = wallNs / 1e6 / n
    m("exec.jobs") = ops.map(_._2.size).sum / n
    m("exec.stages") = stages.size / n
    m("exec.single_task_stages") = stages.count(_.tasks == 1) / n
    m("exec.tasks") = stages.map(_.tasks).sum / n
    m("exec.task_wait_ms") = stages.map(_.waitMs).sum / n
    m("exec.cpu_s") = cpuNs / 1e9 / n
    m("exec.run_s") = stages.map(_.runMs).sum / 1e3 / n
    m("exec.cpu_util") = if (wallNs > 0) cpuNs.toDouble / (wallNs.toDouble * ctx.cores) else 0.0
    m("exec.gc_s") = stages.map(_.gcMs).sum / 1e3 / n
    m("exec.shuffle_read_bytes") = stages.map(_.shuffleRead).sum / n
    m("exec.shuffle_write_bytes") = stages.map(_.shuffleWrite).sum / n
    m("exec.spill_bytes") = stages.map(_.spill).sum / n
    m("exec.input_rows") = stages.map(_.inputRows).sum / n
  }

  /** Checks the self-time split of each root's tree: `trace.self_sum_err_pct`
    * is how far the layers' self times miss the root's wall time, and
    * `trace.harness_self_pct` the share of that wall time no layer span
    * covers (the harness's own time between calls). Both are means
    * over roots, in percent; the self time per layer goes to the notes.
    */
  def coverage(ctx: Ctx, spans: Seq[Stats.Span], roots: Seq[Stats.Span]): Unit = {
    val kids = spans.groupBy(_.parent)
    def tree(r: Stats.Span): Seq[Stats.Span] = r +: kids.getOrElse(r.id, Nil).flatMap(tree)
    val perRoot = roots.filter(_.durNs > 0).map { r =>
      val t = tree(r)
      val self = Stats.selfTimes(t)
      val err = math.abs(self.values.sum - r.durNs).toDouble / r.durNs
      (err, self(r.id).toDouble / r.durNs, Stats.selfTimeByName(t))
    }
    val n = perRoot.size.max(1)
    ctx.report.metrics("trace.self_sum_err_pct") = 100 * perRoot.map(_._1).sum / n
    ctx.report.metrics("trace.harness_self_pct") = 100 * perRoot.map(_._2).sum / n
    val byName = perRoot.flatMap(_._3).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum / 1e6 / n }
    byName.toSeq.sortBy(_._1).foreach { case (k, v) => ctx.report.notes(s"self_ms.$k") = f"$v%.3f" }
  }
}
