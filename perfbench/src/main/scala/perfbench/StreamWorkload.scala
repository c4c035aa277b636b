package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, PerfbenchAccess, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.LongType

import graft.sources.AvroFrames
import graft.streaming.RecordStream

/** The paper's record pipeline feeding the framed-Avro connector:
  * JSON-envelope files -> `RecordStream.jsonDirSource` -> `parseValues`
  * -> `writeStream` into a framed-Avro table with a bloom filter on the
  * key. A closed-loop drain of a fixed backlog, then an open loop at a
  * fixed offered rate with one closed-loop reader beside it.
  */
object StreamWorkload {
  val Format = "graft.sources.AvroFrameDataSource"
  val TableSchema: String =
    """{"type":"record","name":"event","fields":[
      |{"name":"key","type":["null","string"]},
      |{"name":"name","type":["null","string"]},
      |{"name":"age","type":["null","int"]},
      |{"name":"id","type":["null","long"]},
      |{"name":"stamp","type":["null","long"]}]}""".stripMargin
  val ValueSchema = RecordStream.testschema.add("id", LongType).add("stamp", LongType)

  /** The generator's record for id `id`: (name, age), a pure function of
    * the seed, so a reader can check any committed row.
    */
  def record(seed: Long, id: Long): (String, Option[Int]) = {
    var h = (seed * 0x9E3779B97F4A7C15L) ^ (id + 0x632BE59BD9B4E019L)
    h = (h ^ (h >>> 33)) * 0xFF51AFD7ED558CCDL
    h = (h ^ (h >>> 33)) * 0xC4CEB9FE1A85EC53L
    h ^= h >>> 33
    val age = if (java.lang.Long.remainderUnsigned(h, 17) == 0) None
      else Some(java.lang.Long.remainderUnsigned(h >>> 8, 90).toInt)
    (s"user${java.lang.Long.remainderUnsigned(h >>> 20, 1000)}", age)
  }

  /** Writes file `index` (ids `[index*rows, (index+1)*rows)`) under a
    * temporary name and renames it into `dir` atomically.
    */
  final class Generator(seed: Long, rows: Int, dir: File, staging: File) {
    val written = new AtomicLong(0)
    def write(index: Long, stampMs: Long): Unit = {
      val sb = new java.lang.StringBuilder(rows * 160)
      val ts = java.time.Instant.ofEpochMilli(stampMs).toString
      var id = index * rows
      val end = id + rows
      while (id < end) {
        val (name, age) = record(seed, id)
        sb.append("{\"key\":\"k").append(id).append("\",\"value\":\"{\\\"name\\\":\\\"")
          .append(name).append("\\\",\\\"age\\\":").append(age.map(_.toString).getOrElse("null"))
          .append(",\\\"id\\\":").append(id).append(",\\\"stamp\\\":").append(stampMs)
          .append("}\",\"topic\":\"bench\",\"partition\":0,\"offset\":").append(id)
          .append(",\"timestamp\":\"").append(ts).append("\"}\n")
        id += 1
      }
      val name = f"part-$index%08d.json"
      val tmp = new File(staging, name).toPath
      Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
      written.incrementAndGet()
    }
  }

  final case class Progress(batchId: Long, startMs: Long, durations: Map[String, Long],
                            rows: Long, lagFiles: Long) {
    def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }

  /** One table and stream: source dir, staging dir, table, checkpoint. */
  final class Pipeline(spark: SparkSession, base: File, seed: Long, val rows: Int) {
    val src = new File(base, "src")
    private val staging = new File(base, "staging")
    private val tableDir = new File(base, "table")
    Seq(src, staging, tableDir).foreach(_.mkdirs())
    val table = tableDir.getAbsolutePath
    val ck = new File(base, "ck").getAbsolutePath
    val gen = new Generator(seed, rows, src, staging)

    def start(name: String, trigger: Trigger, maxFilesPerTrigger: Int): StreamingQuery =
      RecordStream.parseValues(
          RecordStream.jsonDirSource(spark, src.getAbsolutePath, maxFilesPerTrigger = maxFilesPerTrigger),
          ValueSchema)
        .writeStream.format(Format).queryName(name)
        .option("path", table).option("avroSchema", TableSchema)
        .option("bloomColumns", "key").option("checkpointLocation", ck)
        .trigger(trigger).start()

    def read(): DataFrame =
      spark.read.format(Format).option("path", table).option("avroSchema", TableSchema).load()

    def segments: Array[File] = AvroFrames.listSegments(table)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val rep = ctx.report
    val c = ctx.conf
    val rowsPerFile = c.path("rows_per_file").asInt()
    val backlogFiles = c.path("backlog_files").asInt()
    val drainRounds = c.path("drain_rounds").asInt()
    val fileCap = c.path("drain_max_files_per_trigger").asInt()
    val rate = c.path("live_rows_per_s").asInt()
    val intervalMs = rowsPerFile * 1000L / rate
    val recentMs = c.path("reader_recent_ms").asLong()

    val progress = new ConcurrentLinkedQueue[Progress]()
    val committedRows = new AtomicLong(0)
    @volatile var current: Pipeline = null
    val MainQuery = "perfbench-main"
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val pipe = current
        if (p.name == MainQuery && p.numInputRows > 0) progress.add(Progress(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows,
          pipe.gen.written.get - committedRows.addAndGet(p.numInputRows) / pipe.rows))
      }
    }
    spark.streams.addListener(listener)

    // set-up: warm the pipeline (one drain round) and both reads on a
    // table of their own, so the timed drain rounds start with compiled code
    val warm = new Pipeline(spark, new File(ctx.root, "warm"), ctx.seed, rowsPerFile)
    (0 until backlogFiles).foreach(i => warm.gen.write(i, System.currentTimeMillis()))
    warm.start("perfbench-warm", Trigger.AvailableNow(), fileCap).awaitTermination()
    (0 until 3).foreach { i =>
      lookup(tr, warm, ctx.seed, i * 997L)
      recentSlice(tr, warm, recentMs)
    }
    val pipe = new Pipeline(spark, new File(ctx.root, "main"), ctx.seed, rowsPerFile)
    val setupStamp = System.currentTimeMillis()
    (0 until backlogFiles).foreach(i => pipe.gen.write(i, setupStamp))
    current = pipe
    ctx.setupDone()

    // drain: closed loop over a fixed backlog, in rounds; the next
    // round's backlog is written between drains, outside the timing
    val drains = (0 until drainRounds).map { r =>
      if (r > 0) (0 until backlogFiles).foreach(i => pipe.gen.write(r * backlogFiles + i, setupStamp))
      val d0 = System.nanoTime()
      val dq = tr.span("stream.drain")(pipe.start(MainQuery, Trigger.AvailableNow(), fileCap))
      dq.awaitTermination()
      (System.nanoTime() - d0) / 1e9
    }
    val drainS = Stats.median(drains)
    val drainFiles = drainRounds * backlogFiles
    PerfbenchAccess.waitUntilEmpty(spark.sparkContext)
    val drainBatches = progress.size
    val drainSegments = pipe.segments.length

    // live: open loop at the fixed rate, one reader beside it, for
    // --seconds and until the reads give a p90 (at most three times as long)
    val minLiveFiles = (ctx.seconds * 1000L / intervalMs).toInt
    val liveWritten = new AtomicInteger(0)
    val running = new AtomicBoolean(true)
    val readTimes = new ConcurrentLinkedQueue[Double]()
    val lateMs = new AtomicLong(0)
    val lq = tr.span("stream.live")(pipe.start(MainQuery, Trigger.ProcessingTime(0), 0))
    val liveStart = System.currentTimeMillis() + intervalMs
    val generator = new Thread(() => {
      var i = 0
      while (i < 3 * minLiveFiles && (i < minLiveFiles || readTimes.size < Stats.P90MinSamples)) {
        val due = liveStart + i.toLong * intervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lateMs.accumulateAndGet(System.currentTimeMillis() - due, (a, b) => a max b)
        pipe.gen.write(drainFiles + i, due)
        i += 1
        liveWritten.set(i)
      }
    }, "perfbench-generator")
    val reader = new Thread(() => {
      val rnd = new scala.util.Random(ctx.seed)
      var k = 0L
      while (running.get) {
        val committed = committedRows.get
        if (committed == 0) Thread.sleep(10)
        else {
          val isLookup = k % 2 == 0
          k += 1
          val s0 = System.nanoTime()
          val ok = rep.attempt(if (isLookup) "point lookup" else "recent-slice aggregate") {
            tr.span("read") {
              if (isLookup) lookup(tr, pipe, ctx.seed, rnd.nextLong(committed))
              else recentSlice(tr, pipe, recentMs)
            }
          }
          if (ok) readTimes.add((System.nanoTime() - s0) / 1e6)
        }
      }
    }, "perfbench-reader")
    generator.start(); reader.start()
    generator.join()
    lq.processAllAvailable()
    running.set(false)
    reader.join()
    lq.stop()
    PerfbenchAccess.waitUntilEmpty(spark.sparkContext)
    spark.streams.removeListener(listener)

    // checks, outside the timed region
    val liveFiles = liveWritten.get
    val totalFiles = drainFiles + liveFiles
    val totalRows = totalFiles.toLong * rowsPerFile
    val batches = progress.asScala.toSeq.sortBy(_.batchId)
    rep.attempted.addAndGet(batches.size)
    lq.exception.foreach(e => rep.fail(s"live stream failed: $e"))
    val t = pipe.read()
    val Array(nRows, idSum, unparsed) = t.agg(count(lit(1)), sum(col("id").cast("decimal(38,0)")),
      sum(when(col("name").isNull, 1).otherwise(0))).head().toSeq.toArray
    val expectedSum = BigInt(totalRows) * (totalRows - 1) / 2
    rep.attempt("exactly-once: row count, id sum and parse") {
      val ok = nRows == totalRows &&
        BigInt(idSum.asInstanceOf[java.math.BigDecimal].toBigInteger) == expectedSum &&
        Option(unparsed).forall(_ == 0L)
      if (!ok) System.err.println(s"[perfbench] table has $nRows rows, id sum $idSum, " +
        s"$unparsed unparsed; generator wrote $totalRows rows, id sum $expectedSum")
      ok
    }

    // event latency: each live file's stamp to the end of the batch that
    // committed it; all rows of a file share one stamp, so a file is one sample
    val epoch = """-e(\d{9})-""".r.unanchored
    val groups = t.filter(col("stamp") >= liveStart)
      .select(col(AvroFrames.SegmentMetaCol), col("stamp")).distinct().collect().toSeq
      .map { r =>
        val epoch(b) = r.getString(0)
        (b.toLong, r.getLong(1))
      }
    val latencies = Stats.eventLatencies(groups, batches.map(p => p.batchId -> p.endMs).toMap)
    val reads = readTimes.asScala.toSeq
    val m = rep.metrics
    val prefix = if (tr.enabled) "trace." else ""
    m(prefix + "pass_s") = drainS
    Stats.percentile(latencies, 0.5).foreach(v => m(prefix + "latency_p50_ms") = v)
    Stats.percentile(latencies, 0.9).foreach(v => m(prefix + "latency_tail_ms") = v)
    Stats.percentile(reads, 0.5).foreach(v => m("sources.read_p50_ms") = v)
    Stats.percentile(reads, 0.9).foreach(v => m("sources.read_p90_ms") = v)
    m("gen.late_ms_max") = lateMs.get.toDouble
    rep.notes ++= Seq("drain_rows_per_round" -> backlogFiles.toLong * rowsPerFile,
      "drain_s" -> drains.map(d => f"$d%.3f").mkString(" "),
      "drain_rows_per_s" -> f"${backlogFiles.toLong * rowsPerFile / drainS}%.0f",
      "drain_batches" -> drainBatches, "live_batches" -> (batches.size - drainBatches),
      "live_rows" -> liveFiles.toLong * rowsPerFile, "event_samples" -> latencies.size,
      "tail_percentile" -> "p90", "reads" -> reads.size,
      "read_p50_ms" -> Stats.percentile(reads, 0.5).getOrElse("n/a"),
      "read_p90_ms" -> Stats.percentile(reads, 0.9).getOrElse("n/a"))
    if (tr.enabled) {
      val segs = pipe.segments
      m("sources.segments_live_drain") = drainSegments
      m("sources.segments_live") = segs.length
      m("sources.bytes_per_row") = segs.map(_.length).sum.toDouble / totalRows
      m("streaming.unparsed_rows") = Option(unparsed).map(_.toString.toDouble).getOrElse(0.0)
      layers(ctx, batches.drop(drainBatches), batches)
    }
  }

  /** Point lookup of a committed key; true when exactly its row returns. */
  def lookup(tr: Tracer, p: Pipeline, seed: Long, id: Long): Boolean = {
    val rows = read(tr, p.read().filter(col("key") === s"k$id").select("id", "name", "age"))
    val (name, age) = record(seed, id)
    rows.length == 1 && rows(0).getLong(0) == id && rows(0).getString(1) == name &&
      (if (rows(0).isNullAt(2)) age.isEmpty else age.contains(rows(0).getInt(2)))
  }

  /** Aggregate over the most recent rows; true when it returns one row. */
  def recentSlice(tr: Tracer, p: Pipeline, recentMs: Long): Boolean =
    read(tr, p.read().filter(col("stamp") >= System.currentTimeMillis() - recentMs)
      .agg(count(lit(1)), max(col("id")))).length == 1

  /** Plans, then executes a read: two spans in a traced run. */
  private def read(tr: Tracer, df: => DataFrame) = {
    val planned = tr.span("read.plan") { val d = df; d.queryExecution.executedPlan; d }
    tr.span("read.execute")(planned.collect())
  }

  /** Streaming and connector layer metrics of a traced run. */
  private def layers(ctx: Ctx, live: Seq[Progress], all: Seq[Progress]): Unit = {
    val tr = ctx.tracer
    val m = ctx.report.metrics
    val n = all.size.max(1).toDouble
    def mean(k: String) = all.map(_.durations.getOrElse(k, 0L)).sum / n
    m("streaming.batches") = all.size
    m("streaming.rows_per_batch") = all.map(_.rows).sum / n
    m("streaming.trigger_ms") = mean("triggerExecution")
    Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
      "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
      "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms")
      .foreach { case (k, name) => m(s"streaming.$name") = mean(k) }
    m("streaming.lag_files") = live.map(_.lagFiles).sum.toDouble / live.size.max(1)

    // one span per micro-batch, its phases laid end to end in the
    // order the engine runs them
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    val batchRoots = all.map { p =>
      val id = tr.record("batch", 0L, p.startMs * 1000000L, p.endMs * 1000000L)
      var at = p.startMs * 1000000L
      order.foreach { k =>
        val d = p.durations.getOrElse(k, 0L) * 1000000L
        tr.record(s"batch.$k", id, at, at + d)
        at += d
      }
      p.batchId -> id
    }.toMap
    tr.drain()
    val spans = tr.finished
    val kids = spans.groupBy(_.parent)
    val jobsByBatch = tr.jobs.asScala.toSeq.filter(_.batchId.isDefined).groupBy(_.batchId.get)
    val stages = tr.stages.asScala.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    Layers.exec(ctx, all.flatMap { p =>
      val js = jobsByBatch.getOrElse(p.batchId, Nil)
      val ids = js.map(_.jobId).toSet
      val st = stages.filter(s => tr.attribution.jobOfStage(s.stageId).exists(ids.contains))
      byId.get(batchRoots(p.batchId)).map(r => (r, js, st))
    })
    val readRoots = spans.filter(_.name == "read")
    val plansSp = readRoots.flatMap(r => kids.getOrElse(r.id, Nil).filter(_.name == "read.plan"))
    m("sources.read_plan_ms") = plansSp.map(_.durNs).sum / 1e6 / plansSp.size.max(1)
    val scans = tr.plans.asScala.toSeq.filter(p => readRoots.exists(r =>
      kids.getOrElse(r.id, Nil).exists(_.id == p.span)))
    Plans.ScanMetricNames.foreach(k =>
      m(s"sources.$k") = scans.map(_.scan.getOrElse(k, 0L)).sum.toDouble / readRoots.size.max(1))
    Layers.coverage(ctx, spans, readRoots ++ batchRoots.values.flatMap(byId.get))
    ctx.report.notes("traced_reads") = readRoots.size
  }
}
