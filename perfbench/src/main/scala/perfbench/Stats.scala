package perfbench

/** The benchmark's own arithmetic: percentiles, error rate, event
  * latency and span self time. Pure functions, unit-tested in StatsSpec.
  */
object Stats {

  /** Minimum number of samples that must lie beyond a reported
    * percentile; below that the percentile is not reported.
    */
  val MinBeyond = 10

  /** From this many samples on, a p90 has [[MinBeyond]] samples beyond it. */
  val P90MinSamples = 100

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` in (0, 1) of `xs`, reported only when
    * at least [[MinBeyond]] samples lie strictly beyond the selected rank.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile must lie in (0, 1): $p")
    val rank = math.ceil(p * xs.size).toInt.max(1)
    if (xs.size - rank < MinBeyond) None else Some(xs.sorted.apply(rank - 1))
  }

  def errorRate(failed: Long, attempted: Long): Double = {
    require(attempted > 0, "error rate of no operations")
    failed.toDouble / attempted
  }

  /** Event latency of each generator stamp (one stamp per file): the
    * end of the last micro-batch that committed rows with that stamp
    * minus the stamp. `rows` holds one `(batchId, stampMs)` pair per
    * batch and stamp; `batchEndMs` maps each committed batch to the time
    * it finished committing. One sample per stamp, in stamp order.
    */
  def eventLatencies(rows: Seq[(Long, Long)], batchEndMs: Map[Long, Long]): Seq[Double] =
    rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (stamp, bs) =>
      val end = bs.map { case (batch, _) => batchEndMs.getOrElse(batch,
        throw new IllegalArgumentException(s"rows committed by unknown batch $batch")) }.max
      (end - stamp).toDouble
    }

  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Length of the union of `intervals`, each clipped to `[lo, hi]`. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (s max lo, e min hi) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover. Overlapping children
    * count once.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = coveredNs(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)),
        s.startNs, s.endNs)
      s.id -> (s.durNs - cover)
    }.toMap
  }

  /** Self time summed by span name, over the spans of one tree. */
  def selfTimeByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}

/** Maps Spark jobs and stages to the harness span that caused them.
  * A job belongs to the span id carried in its local properties; its
  * stages belong to the job. Thread-safe: the listener bus fills it
  * while the client threads run.
  */
final class Attribution {
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  def onJobStart(jobId: Int, stageIds: Seq[Int], span: Option[Long]): Unit =
    span.foreach { s =>
      jobSpan.put(jobId, s)
      stageIds.foreach(st => stageJob.putIfAbsent(st, jobId))
    }

  def spanOfJob(jobId: Int): Option[Long] = Option(jobSpan.get(jobId))

  def jobOfStage(stageId: Int): Option[Int] = Option(stageJob.get(stageId))

  def spanOfStage(stageId: Int): Option[Long] = jobOfStage(stageId).flatMap(spanOfJob)
}

object Attribution {
  /** Local property that carries the current span id into Spark jobs. */
  val SpanKey = "perfbench.span"

  def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong)
}
