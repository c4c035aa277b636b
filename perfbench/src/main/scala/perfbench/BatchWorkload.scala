package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}

/** Closed loop, one client: seed-shuffled round-robin passes over a
  * fixed basket of judged queries, each written to the `noop` sink.
  * The warm pass fingerprints every query against the committed
  * expected values; it is part of the set-up, never timed.
  */
object BatchWorkload {
  def expected(ctx: Ctx): Map[String, Fingerprint.Fp] =
    Main.mapper.readTree(new File(ctx.bench, "expected.json")).properties().asScala.map { e =>
      e.getKey -> Fingerprint.Fp(e.getValue.path("rows").asLong(), e.getValue.path("hash").asText())
    }.toMap

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val rep = ctx.report
    val names = ctx.conf.path("queries").elements().asScala.map(_.asText()).toVector
    val fns = SparkEntry.queries
    val want = expected(ctx)

    names.foreach { q =>
      rep.attempt(s"$q warm/check pass") {
        val got = Fingerprint.of(fns(q)(spark, ctx.sfDir))
        val ok = want.get(q).contains(got)
        if (!ok) System.err.println(s"[perfbench] $q fingerprint $got, expected ${want.get(q)}")
        ok
      }
    }
    if (tr.enabled) probeTables(ctx)
    ctx.setupDone()

    val rnd = new scala.util.Random(ctx.seed)
    val samples = ArrayBuffer.empty[Double]
    val passes = ArrayBuffer.empty[Double]
    val analysisMs = ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds || samples.size < Stats.P90MinSamples) {
      val p0 = System.nanoTime()
      var whole = true
      rnd.shuffle(names).foreach { q =>
        val s0 = System.nanoTime()
        val ok = rep.attempt(s"$q timed run") {
          tr.span("query") {
            val df = tr.span("operators.build")(fns(q)(spark, ctx.sfDir))
            // the built DataFrame was analysed eagerly, inside the build span
            if (tr.enabled) analysisMs += df.queryExecution.tracker.phases.get("analysis")
              .map(_.durationMs).getOrElse(0L)
            tr.span("write")(df.write.format("noop").mode("overwrite").save())
          }
          true
        }
        if (ok) samples += (System.nanoTime() - s0) / 1e9 else whole = false
      }
      if (whole) passes += (System.nanoTime() - p0) / 1e9
      System.gc() // lets the context cleaner drop dead shuffle files, outside any timing
    }

    val m = rep.metrics
    val p50 = Stats.percentile(samples.toSeq, 0.5)
    val p90 = Stats.percentile(samples.toSeq, 0.9)
    val prefix = if (tr.enabled) "trace." else ""
    if (passes.nonEmpty) m(prefix + "pass_s") = Stats.median(passes.toSeq)
    p50.foreach(v => m(prefix + "latency_p50_ms") = v * 1e3)
    p90.foreach(v => m(prefix + "latency_tail_ms") = v * 1e3)
    rep.notes ++= Seq("passes" -> passes.size, "query_samples" -> samples.size,
      "tail_percentile" -> "p90", "basket_size" -> names.size)
    if (tr.enabled) layers(ctx, analysisMs.sum)
  }

  /** Timed direct table reads: the construction cost of one `Tables`
    * read (file listing plus parquet schema inference), per table.
    */
  private def probeTables(ctx: Ctx): Unit = {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val perTable = tables.map { t =>
      Stats.median((1 to 3).map { _ =>
        val s0 = System.nanoTime()
        ctx.tracer.span("tables.read") {
          if (t == "events") Tables.events(ctx.spark, ctx.sfDir) else Tables(ctx.spark, ctx.sfDir, t)
        }
        (System.nanoTime() - s0) / 1e6
      })
    }
    ctx.report.metrics("tables.read_ms") = perTable.sum / perTable.size
  }

  /** Per-query layer metrics, averaged over the traced timed samples. */
  private def layers(ctx: Ctx, analysisMsTotal: Long): Unit = {
    val tr = ctx.tracer
    tr.drain()
    val spans = tr.finished
    val kids = spans.groupBy(_.parent)
    val roots = spans.filter(_.name == "query")
    val jobs = tr.jobs.asScala.toSeq.groupBy(_.span)
    val stages = tr.stages.asScala.toSeq.groupBy(_.span)
    val plans = tr.plans.asScala.toSeq.groupBy(_.span)
    val n = roots.size.max(1).toDouble
    def child(r: Stats.Span, name: String) = kids.getOrElse(r.id, Nil).filter(_.name == name)
    val builds = roots.flatMap(child(_, "operators.build"))
    val writes = roots.flatMap(child(_, "write"))
    val buildJobs = builds.flatMap(b => jobs.getOrElse(b.id, Nil))
    val m = ctx.report.metrics
    m("operators.build_ms") = builds.map(_.durNs).sum / 1e6 / n
    m("operators.build_jobs") = buildJobs.size / n
    m("operators.checkpoint_jobs") =
      buildJobs.count(j => j.name.startsWith("localCheckpoint") || j.name.startsWith("checkpoint")) / n
    m("tables.infer_jobs") = buildJobs.count(_.details.contains("graft.Tables$")) / n
    val ps = writes.flatMap(w => plans.getOrElse(w.id, Nil))
    m("plans.analysis_ms") = analysisMsTotal / n
    m("plans.optimize_ms") = ps.map(_.optimizeMs).sum / n
    m("plans.physical_ms") = ps.map(_.physicalMs).sum / n
    Plans.ScanMetricNames.foreach(k => m(s"sources.$k") = ps.map(_.scan.getOrElse(k, 0L)).sum / n)
    Layers.exec(ctx, roots.map { r =>
      val ids = Set(r.id) ++ kids.getOrElse(r.id, Nil).map(_.id)
      (r, ids.toSeq.flatMap(jobs.getOrElse(_, Nil)), ids.toSeq.flatMap(stages.getOrElse(_, Nil)))
    })
    Layers.coverage(ctx, spans, roots)
    ctx.report.notes("traced_queries") = roots.size
  }
}
