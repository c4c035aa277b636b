package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch source/format breadth: the engine reads parquet natively
  * everywhere; json/csv/orc round-trips must preserve rows and survive
  * schema'd re-reads (csv/json carry no types — explicit schema on
  * read, the only scalable pattern).
  */
class SourcesSpec extends AnyFunSuite with SparkFixture {

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("binaryFile source ingests raw media files as binary columns with metadata") {
    // the multimodal ingestion path: image/audio/video files land as
    // (path, modificationTime, length, content) rows; pathGlobFilter
    // selects by extension; metadata-only plans must not require decode
    val dir = tmp("src-bin")
    val payloads = Map("a.img" -> Array[Byte](1, 2, 3, 4), "b.img" -> Array[Byte](9, 8), "skip.txt" -> Array[Byte](0))
    payloads.foreach { case (n, bytes) =>
      Files.write(java.nio.file.Paths.get(dir, n), bytes)
    }
    val df = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.img")
      .load(dir)
    val rows = df.select(col("path"), col("length"), col("content")).collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("a.img", "b.img"), "glob filter must exclude non-media files")
    assert(rows(0)._2 == 4L && rows(0)._3 == Seq[Byte](1, 2, 3, 4))
    assert(rows(1)._2 == 2L && rows(1)._3 == Seq[Byte](9, 8))
    // metadata-only projection never touches content (payload pruning)
    val metaPlan = df.select("path", "length").queryExecution.executedPlan.toString
    assert(!metaPlan.contains("content"), s"metadata scan reads payloads:\n$metaPlan")
  }

  test("json round-trip preserves rows under an explicit schema") {
    val out = tmp("src-json")
    val orders = Tables.orders(spark, sfDir)
    orders.write.mode("overwrite").json(out)
    val back = spark.read.schema(orders.schema).json(out)
    assert(back.count() == orders.count())
    assert(back.schema == orders.schema)
  }

  test("csv round-trip preserves rows under an explicit schema") {
    val out = tmp("src-csv")
    val customer = Tables.customer(spark, sfDir)
    customer.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.schema(customer.schema).option("header", "true").csv(out)
    assert(back.count() == customer.count())
    val a = back.agg(sum("c_acctbal")).head().getDouble(0)
    val b = customer.agg(sum("c_acctbal")).head().getDouble(0)
    assert(math.abs(a - b) <= 0.01, s"csv round-trip drifted: $a vs $b")
  }

  test("orc round-trip preserves rows and types") {
    val out = tmp("src-orc")
    val li = Tables.lineitem(spark, sfDir)
    li.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.count() == li.count())
    assert(back.schema == li.schema)
  }

  test("malformed records: PERMISSIVE captures them, DROPMALFORMED drops them, counts reconcile") {
    // At corpus scale some fraction of ingested JSON/CSV is always
    // broken; a reader that throws on the first bad line cannot ingest
    // 100 TB. Pin the two production behaviors: quarantine-and-continue
    // (PERMISSIVE + corrupt-record column) and silent drop.
    val dir = tmp("src-corrupt")
    Files.write(java.nio.file.Paths.get(dir, "mixed.json"), java.util.Arrays.asList(
      """{"id": 1, "name": "ok"}""",
      """{"id": 2, "name": "also ok"}""",
      """{"id": 3, "name": truncated""",
      """not json at all""",
      """{"id": 4, "name": "fine"}"""))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, name STRING, _corrupt_record STRING")
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
    permissive.cache()   // corrupt-record column requires materializing the full row
    val good = permissive.filter(col("_corrupt_record").isNull)
    val bad = permissive.filter(col("_corrupt_record").isNotNull)
    assert(good.count() == 3 && bad.count() == 2,
      s"expected 3 good + 2 quarantined, got ${good.count()} + ${bad.count()}")
    assert(good.select("id").collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 2L, 4L)))
    // quarantined rows keep the raw line for a repair pipeline
    assert(bad.select("_corrupt_record").collect().forall(r => r.getString(0).nonEmpty))
    permissive.unpersist()
    val dropped = spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, name STRING"))
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.count() == 3, s"DROPMALFORMED kept ${dropped.count()} rows, expected 3")
  }

  test("schema drift across parquet batches: mergeSchema unifies, old rows read as null") {
    // A 100 TB corpus is written over months; later batches grow
    // columns. The reader must unify drifted batch schemas (mergeSchema
    // pays a per-file footer read — that's why it's opt-in) and old
    // rows must surface the new column as null, not error.
    val out = tmp("src-drift")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$out/batch=1")
    Seq((3L, "c", 0.5), (4L, "d", 0.7)).toDF("id", "v", "score")
      .write.parquet(s"$out/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.schema.fieldNames.toSet == Set("id", "v", "score", "batch"))
    assert(merged.count() == 4)
    val old = merged.filter(col("batch") === 1)
    assert(old.count() == 2 && old.filter(col("score").isNull).count() == 2,
      "pre-drift rows must read the new column as null")
    assert(merged.filter(col("score").isNotNull).count() == 2)
    // without mergeSchema the footer-sampled schema wins — both modes
    // must at least read all rows
    assert(spark.read.parquet(out).count() == 4)
  }

  test("hive-partitioned layout: partition filters prune directories at plan time") {
    // At 100 TB the first-line scan eliminator isn't row-group min/max
    // (LayoutSpec's z-order test) but DIRECTORY pruning on the hive
    // partition key: a date predicate must reach PartitionFilters and
    // cut the scanned file set before any IO is scheduled.
    val out = tmp("src-part")
    Tables.orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    val back = spark.read.parquet(out).filter(col("o_year") === 1995)
    val scan = back.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.nonEmpty, "year predicate missed PartitionFilters")
    val years = spark.read.parquet(out).select("o_year").distinct().count()
    assert(years > 1, "testdata spans multiple years; partitioning is vacuous otherwise")
    val prunedFiles = scan.selectedPartitions.totalNumberOfFiles
    val allFiles = spark.read.parquet(out).queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get.selectedPartitions.totalNumberOfFiles
    assert(prunedFiles < allFiles,
      s"pruning read $prunedFiles of $allFiles files — no directories eliminated")
    // and the values survive the layout: partition-column round trip
    val expected = Tables.orders(spark, sfDir).filter(year(col("o_orderdate")) === 1995).count()
    assert(back.count() == expected)
  }

  // ------------------------------------------------------------ DSv2 frame source (round 13)

  private val frameSchema =
    """{"type":"record","name":"rec","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":["null","string"]},
      |{"name":"score","type":"double"},
      |{"name":"payload","type":"bytes"}
      |]}""".stripMargin

  private def writeFrames(dir: String, rows: Seq[(Long, Option[String], Double, Array[Byte])],
                          schemaId: Int = 7, file: String = "segment-0.bin",
                          extraJunk: Seq[Array[Byte]] = Nil): Unit = {
    import graft.sources.AvroFrames
    val schema = new org.apache.avro.Schema.Parser().parse(frameSchema)
    val frames = rows.map { case (id, name, score, payload) =>
      val r = new org.apache.avro.generic.GenericData.Record(schema)
      r.put("id", id); r.put("name", name.orNull); r.put("score", score)
      r.put("payload", java.nio.ByteBuffer.wrap(payload))
      AvroFrames.frameRecord(schemaId, r)
    } ++ extraJunk
    AvroFrames.writeSegment(new java.io.File(dir, file), frames.iterator)
  }

  test("DSv2 frame source: framed-Avro round trip with nullable union and bytes") {
    val dir = tmp("frames-rt")
    val rows = Seq(
      (1L, Some("ann"), 1.5, Array[Byte](1, 2)),
      (2L, None, -3.0, Array[Byte]()),
      (3L, Some("bob"), 0.0, Array[Byte](9)))
    writeFrames(dir, rows)
    val df = spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").load()
    assert(df.schema.fieldNames.toSeq == Seq("id", "name", "score", "payload"))
    assert(df.schema("name").nullable && !df.schema("id").nullable)
    val got = df.collect().map(r => (r.getLong(0), Option(r.getString(1)),
      r.getDouble(2), r.getAs[Array[Byte]](3).toSeq)).sortBy(_._1).toSeq
    assert(got == rows.map(r => (r._1, r._2, r._3, r._4.toSeq)))
  }

  test("DSv2 frame source: filter and projection are pushed into the scan") {
    val dir = tmp("frames-push")
    writeFrames(dir, (1L to 50L).map(i =>
      (i, Some(s"u$i"), i.toDouble, Array[Byte](i.toByte))))
    val df = spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").load()
      .filter(col("score") >= 40.0 && col("name").isNotNull)
      .select("id")
    // the scan node's description must carry BOTH the pruned schema
    // and the accepted filters — proof they reached the source
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AvroFrameScan"), s"DSv2 scan missing:\n$plan")
    assert(plan.contains("PushedFilters=[") && plan.contains("GreaterThanOrEqual(score,40.0)"),
      s"score filter not pushed:\n$plan")
    assert(plan.contains("IsNotNull(name)"), s"null filter not pushed:\n$plan")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (40L to 50L))
  }

  test("DSv2 frame source: pushed filters drop frames BEFORE row materialization") {
    // drive the partition reader directly and count what crosses the
    // scan boundary — with the filter pushed, only matching frames
    // become rows
    import graft.sources.{AvroFrameReader, AvroFrames, FrameMember}
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val dir = tmp("frames-boundary")
    writeFrames(dir, (1L to 100L).map(i =>
      (i, Some(s"u$i"), i.toDouble, Array[Byte]())))
    val file = new java.io.File(dir, "segment-0.bin").getAbsolutePath
    def countRows(filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val r = new AvroFrameReader(Seq(FrameMember(file)), frameSchema, 7, Array("id"), filters)
      var n = 0L
      while (r.next()) n += 1
      r.close(); n
    }
    assert(countRows(Array.empty) == 100L)
    assert(countRows(Array(GreaterThanOrEqual("score", 90.0))) == 11L)
  }

  test("DSv2 frame source: unsupported filters stay post-scan and results remain exact") {
    val dir = tmp("frames-unsup")
    writeFrames(dir, Seq((1L, Some("alpha"), 1.0, Array[Byte]()),
      (2L, Some("beta"), 2.0, Array[Byte]()), (3L, None, 3.0, Array[Byte]())))
    val df = spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").load()
      .filter(col("name").endsWith("a") && col("score") <= 2.0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LessThanOrEqual(score,2.0)"), s"comparison should push:\n$plan")
    assert(!plan.contains("PushedFilters=[StringEndsWith") &&
           plan.contains("Filter"), s"EndsWith must stay post-scan:\n$plan")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("DSv2 frame source: malformed frames are counted and skipped, not fatal") {
    import graft.sources.{AvroFrameAggReader, AvroFrameReader, FrameCountStar, FrameMember}
    import graft.streaming.AvroRecords
    val dir = tmp("frames-bad")
    val schema = new org.apache.avro.Schema.Parser().parse(frameSchema)
    def good(id: Long): Array[Byte] = {
      val r = new org.apache.avro.generic.GenericData.Record(schema)
      r.put("id", id); r.put("name", null); r.put("score", 0.0)
      r.put("payload", java.nio.ByteBuffer.wrap(Array[Byte]()))
      graft.sources.AvroFrames.frameRecord(7, r)
    }
    val junk = Seq(
      Array[Byte](1, 0, 0, 0, 7),                        // wrong magic
      AvroRecords.frame(99, Array[Byte](2)),             // unknown schema id
      AvroRecords.frame(7, Array[Byte](0x7f.toByte)))    // truncated body
    writeFrames(dir, Nil, extraJunk = Seq(good(1L)) ++ junk ++ Seq(good(2L)))
    val file = new java.io.File(dir, "segment-0.bin").getAbsolutePath
    val r = new AvroFrameReader(Seq(FrameMember(file)), frameSchema, 7, Array("id"), Array.empty)
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (r.next()) ids += r.get().getLong(0)
    r.close()
    assert(ids.toSeq == Seq(1L, 2L), s"good frames must survive junk: $ids")
    assert(r.malformed == 3L, s"malformed count: ${r.malformed}")
    // a partial aggregate decoding the same segment (no sidecar) counts
    // the same junk in its task metrics, next to the frames it folded
    val agg = new AvroFrameAggReader(Seq(FrameMember(file)), frameSchema, 7,
      Seq(FrameCountStar), Array.empty)
    assert(agg.next() && agg.get().getLong(0) == 2L)
    val m = agg.currentMetricsValues().map(v => v.name -> v.value).toMap
    agg.close()
    assert(m.get("frames_malformed").contains(3L), s"agg split metrics: $m")
    assert(m.get("frames_emitted").contains(2L), s"agg split metrics: $m")
  }

  test("DSv2 frame source: one input partition per segment file (split parallelism)") {
    val dir = tmp("frames-splits")
    for (seg <- 0 until 5)
      writeFrames(dir, Seq((seg.toLong, Some(s"s$seg"), 0.0, Array[Byte]())),
        file = f"segment-$seg%d.bin")
    val df = spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").load()
    assert(df.rdd.getNumPartitions == 5, "expected one split per segment")
    assert(df.count() == 5L)
  }

  test("DSv2 frame source streams: offsets advance, restart resumes exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("frames-stream"); val ck = tmp("frames-stream-ck")
    def seg(n: Int, ids: Seq[Long]): Unit =
      writeFrames(dir, ids.map(i => (i, Some(s"u$i"), i.toDouble, Array[Byte]())),
        file = f"segment-$n%05d.bin")
    seg(0, Seq(1L, 2L)); seg(1, Seq(3L))
    // parquet sink: the memory sink rejects checkpoint RECOVERY, and
    // exactly-once across restart is the point of this test
    val out = tmp("frames-stream-out")
    def start() =
      spark.readStream.format("graft.sources.AvroFrameDataSource")
        .option("path", dir).option("avroSchema", frameSchema)
        .option("schemaId", "7").load()
        .select("id")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.ProcessingTime(100L)).start()
    def ids(): Seq[Long] =
      spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq
    val q = start()
    try {
      q.processAllAvailable()
      assert(ids() == Seq(1L, 2L, 3L))
      // append-only growth: only the NEW segment is read
      seg(2, Seq(4L, 5L))
      q.processAllAvailable()
      assert(ids() == Seq(1L, 2L, 3L, 4L, 5L), "new segment must append exactly once")
    } finally q.stop()
    // restart against the same checkpoint: committed offsets are the
    // source of truth — nothing replays, new data still flows
    val q2 = start()
    try {
      seg(3, Seq(6L))
      q2.processAllAvailable()
      assert(ids() == Seq(1L, 2L, 3L, 4L, 5L, 6L),
        "restart must process only the uncommitted segment, exactly once")
    } finally q2.stop()
  }

  test("DSv2 frame source streams: version offsets survive compaction mid-stream (round 14)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("frames-compact-tail"); val ck = tmp("frames-compact-tail-ck")
    def seg(n: Int, ids: Seq[Long]): Unit =
      writeFrames(dir, ids.map(i => (i, Some(s"u$i"), i.toDouble, Array[Byte]())),
        file = f"segment-$n%05d.bin")
    val out = tmp("frames-compact-tail-out")
    def start() =
      spark.readStream.format("graft.sources.AvroFrameDataSource")
        .option("path", dir).option("avroSchema", frameSchema)
        .option("schemaId", "7").load()
        .select("id")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.ProcessingTime(100L)).start()
    def ids(): Seq[Long] =
      spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq

    // consume the first two segments, then stop mid-log
    seg(0, Seq(1L, 2L)); seg(1, Seq(3L))
    val q1 = start()
    try { q1.processAllAvailable(); assert(ids() == Seq(1L, 2L, 3L)) } finally q1.stop()

    // two more appends the stream has NOT seen, then compact ALL FOUR
    // live segments — consumed and unconsumed alike — into one bin
    seg(2, Seq(4L)); seg(3, Seq(5L, 6L))
    val res = graft.sources.FrameMaintenance.compact(spark, new java.io.File(dir))
    assert(res.replacedSegments == 4 && res.bins == 1)
    assert(graft.sources.AvroFrames.listSegments(dir).length == 1,
      "live log must be one compacted segment")

    // resume: version offsets are untouched by compaction, and the
    // unconsumed originals resolve from _history/ — exactly once, no
    // replay of 1..3, no loss of 4..6
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(ids() == Seq(1L, 2L, 3L, 4L, 5L, 6L),
        "tailing stream must survive compaction exactly-once")
      // appends after compaction keep flowing
      seg(4, Seq(7L))
      q2.processAllAvailable()
      assert(ids() == (1L to 7L))
    } finally q2.stop()

    // a FRESH stream from version 0 reads history + live seamlessly
    val out2 = tmp("frames-compact-tail-out2"); val ck2 = tmp("frames-compact-tail-ck2")
    val q3 = spark.readStream.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").load().select("id")
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", ck2)
      .trigger(Trigger.ProcessingTime(100L)).start()
    try {
      q3.processAllAvailable()
      assert(spark.read.parquet(out2).collect().map(_.getLong(0)).sorted.toSeq == (1L to 7L))
    } finally q3.stop()

    // expiry past a reader's offset fails LOUDLY, never skips: drop the
    // history and replay from scratch
    graft.sources.FrameMaintenance.expire(new java.io.File(dir), System.currentTimeMillis())
    val out3 = tmp("frames-compact-tail-out3"); val ck3 = tmp("frames-compact-tail-ck3")
    val q4 = spark.readStream.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").load().select("id")
      .writeStream.format("parquet").option("path", out3)
      .option("checkpointLocation", ck3)
      .trigger(Trigger.ProcessingTime(100L)).start()
    try {
      val ex = intercept[Exception](q4.processAllAvailable())
      assert(ex.toString.contains("expired") || Option(ex.getCause).exists(_.toString.contains("expired")) ||
        ex.getMessage.contains("expired"),
        s"expired history must fail loudly, got $ex")
    } finally if (q4.isActive) q4.stop()
  }

  test("DSv2 frame source streams: maxSegmentsPerTrigger bounds each micro-batch") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("frames-admission"); val ck = tmp("frames-admission-ck")
    for (n <- 0 until 4)
      writeFrames(dir, Seq((n.toLong, Some(s"s$n"), 0.0, Array[Byte]())),
        file = f"segment-$n%05d.bin")
    val q = spark.readStream.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").option("maxSegmentsPerTrigger", "1").load()
      .select("id")
      .writeStream.format("memory").queryName("frames_adm")
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      assert(spark.table("frames_adm").count() == 4L)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 4 && batches.forall(_.numInputRows == 1L),
        s"admission control must yield 1-segment batches: " +
          batches.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("DSv2 frame source streams: pushdown applies per micro-batch") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("frames-spush"); val ck = tmp("frames-spush-ck")
    writeFrames(dir, (1L to 20L).map(i => (i, Some(s"u$i"), i.toDouble, Array[Byte]())))
    val q = spark.readStream.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").load()
      .filter(col("score") > 15.0).select("id")
      .writeStream.format("memory").queryName("frames_spush")
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      assert(spark.table("frames_spush").collect().map(_.getLong(0)).sorted.toSeq
        == (16L to 20L))
    } finally q.stop()
  }

  test("DSv2 frame sink: distributed write commits segments + stats sidecars, round-trips") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tmp("frames-write")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rows = (1L to 40L).map(i =>
      Row(i, if (i % 10 == 0) null else s"u$i", i.toDouble, Array[Byte](i.toByte)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 4), schema)
    df.write.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").mode("append").save()
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.count(_.endsWith(".bin")) == 4, s"one segment per partition: ${files.toSeq}")
    assert(files.count(_.endsWith(".stats")) == 4, s"one sidecar per segment: ${files.toSeq}")
    assert(!files.exists(_.startsWith(".inprogress")), "temps must be renamed at commit")
    val back = spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").load()
    assert(back.count() == 40L)
    assert(back.collect().map(r => (r.getLong(0), Option(r.getString(1)),
      r.getDouble(2), r.getAs[Array[Byte]](3).toSeq)).sortBy(_._1).toSeq ==
      rows.map(r => (r.getLong(0), Option(r.getString(1)),
        r.getDouble(2), r.getAs[Array[Byte]](3).toSeq)))
    // stats sidecars carry exact bounds: global min/max across sidecars
    import graft.sources.AvroFrameStats
    val segs = graft.sources.AvroFrames.listSegments(dir)
    val all = segs.flatMap(AvroFrameStats.read(_))
    assert(all.map(_._1).sum == 40L, "sidecar frame counts must sum to rows")
    val idBounds = all.map(_._2("id"))
    assert(idBounds.map(_._2.asInstanceOf[Long]).min == 1L &&
           idBounds.map(_._3.asInstanceOf[Long]).max == 40L)
    assert(all.map(_._2("name")._1).sum == 4L, "null counts must sum (4 null names)")

    // overwrite truncates: a second write replaces, never appends
    df.limit(5).repartition(1).write.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").mode("overwrite").save()
    assert(spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").load().count() == 5L)
  }

  test("DSv2 frame sink: task abort leaves no visible data; empty partitions emit no file") {
    import graft.sources.{AvroFrameDataWriter, AvroFrameCommitMessage}
    val dir = tmp("frames-abort")
    val w = new AvroFrameDataWriter(dir, frameSchema, 7, "qabc", 0, 11L)
    val row = org.apache.spark.sql.catalyst.InternalRow(
      1L, org.apache.spark.unsafe.types.UTF8String.fromString("x"), 2.0,
      Array[Byte](1))
    w.write(row)
    w.abort()
    assert(new java.io.File(dir).listFiles().isEmpty,
      "aborted task must delete its temp file")
    // empty partition: commit yields a no-op message, no file
    val w2 = new AvroFrameDataWriter(dir, frameSchema, 7, "qabc", 1, 12L)
    val m = w2.commit().asInstanceOf[AvroFrameCommitMessage]
    assert(m.tmpName.isEmpty && new java.io.File(dir).listFiles().isEmpty)
  }

  test("DSv2 frame source: sidecar stats prune whole segments under pushed filters") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tmp("frames-prune")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    // range-partitioned write: each segment covers a disjoint id range,
    // so its sidecar min/max make it prunable — the time/key-sorted
    // layout a log compactor produces at scale
    val rows = (1L to 100L).map(i => Row(i, s"u$i", i.toDouble, Array[Byte]()))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
      .repartitionByRange(4, col("id"))
    df.write.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").mode("append").save()
    assert(graft.sources.AvroFrames.listSegments(dir).length == 4)
    val read = spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").load()
    val filtered = read.filter(col("id") > 90L)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("Segments=1/4 after stat-pruning"),
      s"3 of 4 segments must prune under id > 90:\n$plan")
    assert(filtered.count() == 10L, "pruning must not change results")
    assert(filtered.collect().map(_.getLong(0)).sorted.toSeq == (91L to 100L))
    // conservative: a sidecar-less segment always survives
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".stats"))
      .take(1).foreach(_.delete())
    val plan2 = spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").load().filter(col("id") > 90L)
      .queryExecution.executedPlan.toString
    assert(plan2.contains("Segments=2/4") || plan2.contains("Segments=1/4"),
      s"sidecar-less segment must never be pruned away incorrectly:\n$plan2")
  }

  test("q325 reads the events fixture through the connector with pushdown") {
    val df = SparkEntry.queries("q325_avro_frame_source")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AvroFrameScan"), s"q325 must scan through the connector:\n$plan")
    assert(plan.contains("EqualTo(event_type,click)") &&
           plan.contains("GreaterThanOrEqual(value,100.0)"),
      s"q325 filters must push into the source:\n$plan")
    assert(plan.contains("ReadSchema=[user_id,value,ts_us]") ||
           plan.contains("ReadSchema=[ts_us,user_id,value]") ||
           plan.contains("ReadSchema=[user_id,ts_us,value]"),
      s"q325 projection must prune event_id/event_type at the source:\n$plan")
    assert(df.count() > 0)
  }

  test("DSv2 frame source: scan reports post-pruning statistics; small tables auto-broadcast") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tmp("frames-stats")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rows = (1L to 50L).map(i => Row(i, s"u$i", i.toDouble, Array[Byte]()))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
      .repartitionByRange(5, col("id"))
      .write.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").mode("append").save()
    def scanOf(df: org.apache.spark.sql.DataFrame): graft.sources.AvroFrameScan =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[graft.sources.AvroFrameScan]
      }.head
    val read = spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").load()
    // full scan: exact row count from sidecars, exact file bytes
    val full = scanOf(read.select("id")).estimateStatistics()
    assert(full.numRows().getAsLong == 50L, s"numRows: ${full.numRows()}")
    assert(full.sizeInBytes().getAsLong ==
      graft.sources.AvroFrames.listSegments(dir).map(_.length()).sum)
    // filtered scan: stats reflect the PRUNED segment set
    val pruned = scanOf(read.filter(col("id") > 45L).select("id")).estimateStatistics()
    assert(pruned.numRows().getAsLong == 10L,
      s"post-pruning rows (one 10-row segment): ${pruned.numRows()}")
    // and the planner consumes it: a frame table this small broadcasts
    // against a bigger side with no broadcast() hint anywhere
    val big = Tables.lineitem(spark, sfDir)
      .select(col("l_linenumber").cast("long").as("id"), col("l_quantity"))
    val joined = big.join(read.select("id", "score"), "id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"reported stats must let AQE/Catalyst broadcast the frame side:\n$plan")
  }

  // ------------------------------------------------------------ aggregate / limit / runtime pushdown (round 13)

  /** Write a 4-segment log with sidecars through the DSv2 sink:
    * id 1..100 range-partitioned, name null on multiples of 10.
    */
  private def writeStatsFixture(dir: String, n: Long = 100L, parts: Int = 4): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rows = (1L to n).map(i =>
      Row(i, if (i % 10 == 0) null else s"u$i", i.toDouble, Array[Byte]()))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
      .repartitionByRange(parts, col("id"))
      .write.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").mode("append").save()
  }

  private def readFixture(dir: String): org.apache.spark.sql.DataFrame =
    spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").load()

  test("DSv2 agg pushdown: complete MIN/MAX/COUNT answered from sidecars, zero files opened") {
    val dir = tmp("frames-agg-complete")
    writeStatsFixture(dir)
    // corrupt EVERY segment body, keep the sidecars: if the reader
    // opened any segment the query would fail or return garbage —
    // a right answer can only have come from metadata
    graft.sources.AvroFrames.listSegments(dir).foreach { f =>
      java.nio.file.Files.write(f.toPath, Array[Byte](0, 0, 0, 99))
    }
    val agg = readFixture(dir).agg(
      count(lit(1)).as("n"), count(col("name")).as("n_name"),
      min(col("id")).as("min_id"), max(col("id")).as("max_id"),
      min(col("score")).as("min_s"), max(col("score")).as("max_s"),
      min(col("name")).as("min_n"), max(col("name")).as("max_n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates=[") && plan.contains("complete, sidecar-only"),
      s"aggregates must push completely:\n$plan")
    val r = agg.collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 100L && r(0).getLong(1) == 90L, s"counts: ${r(0)}")
    assert(r(0).getLong(2) == 1L && r(0).getLong(3) == 100L, s"id bounds: ${r(0)}")
    assert(r(0).getDouble(4) == 1.0 && r(0).getDouble(5) == 100.0, s"score bounds: ${r(0)}")
    assert(r(0).getString(6) == "u1" && r(0).getString(7) == "u99", s"name bounds: ${r(0)}")
  }

  test("DSv2 agg pushdown: pushed filter degrades to per-segment partial decode, stays exact") {
    val dir = tmp("frames-agg-partial")
    writeStatsFixture(dir)
    val agg = readFixture(dir)
      .filter(col("score") >= 50.0)
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"), max(col("id")).as("max_id"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates=[") && plan.contains("partial, per-segment"),
      s"filtered aggregate must push partially:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(score,50.0)"), s"filter must still push:\n$plan")
    val r = agg.collect()(0)
    assert(r.getLong(0) == 51L && r.getLong(1) == 50L && r.getLong(2) == 100L, s"got $r")
  }

  test("DSv2 agg pushdown: filtered aggregate over a fully-pruned log returns the zero row") {
    val dir = tmp("frames-agg-empty")
    writeStatsFixture(dir)
    // id > 1000 stat-prunes all 4 segments; the rewritten
    // count = SUM(partials) must still see a 0 row, not empty input
    val agg = readFixture(dir).filter(col("id") > 1000L)
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"))
    val r = agg.collect()(0)
    assert(r.getLong(0) == 0L && r.isNullAt(1), s"zero row expected, got $r")
  }

  test("DSv2 agg pushdown: sidecar-less segments decode; distinct/group-by decline cleanly") {
    val dir = tmp("frames-agg-mixed")
    writeStatsFixture(dir)
    // drop one sidecar AND the stats ledger (round 16: the ledger alone
    // can prove a deleted sidecar's stats — here we model a genuinely
    // stats-less foreign segment): complete pushdown must NOT be
    // claimed; the partial path decodes that one segment, answer exact
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".stats"))
      .take(1).foreach(_.delete())
    graft.sources.FrameStatsLedger.drop(new java.io.File(dir))
    val agg = readFixture(dir).agg(count(lit(1)).as("n"), max(col("id")).as("max_id"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("partial, per-segment"),
      s"mixed sidecars must not claim complete pushdown:\n$plan")
    val r = agg.collect()(0)
    assert(r.getLong(0) == 100L && r.getLong(1) == 100L, s"got $r")
    // distinct and group-by fall back to a plain scan, values exact
    val fallback = readFixture(dir).agg(countDistinct(col("name")).as("d"))
    assert(!fallback.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      "distinct must decline pushdown")
    assert(fallback.collect()(0).getLong(0) == 90L)
    val grouped = readFixture(dir).groupBy(col("name").isNull.as("k"))
      .agg(count(lit(1)).as("n"))
    assert(!grouped.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      "group-by must decline pushdown")
    assert(grouped.collect().map(r => (r.getBoolean(0), r.getLong(1))).toMap
      == Map(true -> 10L, false -> 90L))
  }

  test("DSv2 agg reader: sidecar answers without opening the segment; decode counts match") {
    import graft.sources.{AvroFrameAggReader, FrameCountStar, FrameMin, FrameMax, FrameCountCol, FrameMember}
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    import org.apache.spark.sql.types.LongType
    val dir = tmp("frames-agg-reader")
    writeStatsFixture(dir, n = 50L, parts = 1)
    val seg = graft.sources.AvroFrames.listSegments(dir).head.getAbsolutePath
    // no filters + sidecar: zero decodes
    val r1 = new AvroFrameAggReader(Seq(FrameMember(seg)), frameSchema, 7,
      Seq(FrameCountStar, FrameCountCol("name"), FrameMin("id", LongType), FrameMax("id", LongType)),
      Array.empty)
    assert(r1.next())
    val row1 = r1.get()
    assert(r1.decodedSegments == 0L, "sidecar must answer without opening the segment")
    assert(row1.getLong(0) == 50L && row1.getLong(1) == 45L &&
           row1.getLong(2) == 1L && row1.getLong(3) == 50L)
    assert(!r1.next(), "agg reader emits exactly one row")
    // with a filter: the segment decodes, values reflect the filter
    val r2 = new AvroFrameAggReader(Seq(FrameMember(seg)), frameSchema, 7,
      Seq(FrameCountStar, FrameMin("id", LongType)),
      Array(GreaterThanOrEqual("score", 40.0)))
    assert(r2.next())
    assert(r2.decodedSegments == 1L)
    assert(r2.get().getLong(0) == 11L && r2.get().getLong(1) == 40L)
  }

  test("DSv2 limit pushdown: segment planning truncates on sidecar counts; readers early-stop") {
    val dir = tmp("frames-limit")
    writeStatsFixture(dir, n = 100L, parts = 4) // 4 segments à 25 rows
    val lim = readFixture(dir).limit(30)
    val plan = lim.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit=30"), s"limit must reach the source:\n$plan")
    assert(plan.contains("Segments=2/4"),
      s"sidecar counts (25+25 ≥ 30) must truncate planning to 2 segments:\n$plan")
    assert(lim.collect().length == 30)
    // reader-level early stop, directly observable
    import graft.sources.{AvroFrameReader, FrameMember}
    val seg = graft.sources.AvroFrames.listSegments(dir).head.getAbsolutePath
    val r = new AvroFrameReader(Seq(FrameMember(seg)), frameSchema, 7, Array("id"), Array.empty,
      limit = 7)
    var n = 0
    while (r.next()) n += 1
    r.close()
    assert(n == 7, s"reader must stop at the pushed limit, emitted $n")
    // with a pushed row filter, truncation is off (counts unprovable)
    // but the per-reader stop still bounds work
    val planF = readFixture(dir).filter(col("score") >= 2.0).limit(5)
      .queryExecution.executedPlan.toString
    assert(planF.contains("PushedLimit=5") && planF.contains("Segments=4/4"), planF)
  }

  test("DSv2 runtime filtering: IN-set predicates prune segments via sidecars at execution time") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPredicate}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = tmp("frames-runtime")
    writeStatsFixture(dir, n = 100L, parts = 4)
    val opts = new CaseInsensitiveStringMap(java.util.Map.of(
      "path", dir, "avroSchema", frameSchema, "schemaId", "7"))
    val schema = graft.sources.AvroFrames.sparkSchema(
      new org.apache.avro.Schema.Parser().parse(frameSchema))
    val scan = new graft.sources.AvroFrameScanBuilder(schema, opts)
      .build().asInstanceOf[graft.sources.AvroFrameScan]
    assert(scan.filterAttributes().map(_.describe()).contains("id"))
    assert(scan.planInputPartitions().length == 4)
    // DPP-style runtime IN-set on id: values 3 and 7 both live in the
    // first range segment — 3 of 4 segments prune without opening
    scan.filter(Array(new VPredicate("IN",
      Array(Expressions.column("id"), Expressions.literal(3L), Expressions.literal(7L)))))
    assert(scan.planInputPartitions().length == 1,
      "runtime IN-set must prune to the one covering segment")
    assert(scan.description().contains("RuntimeFilters=[In(id"))
    // coarse contract: kept segments still return ALL their rows
    // (the consuming join re-filters) — prune only, never row-filter
    val factory = scan.createReaderFactory()
    val reader = factory.createReader(scan.planInputPartitions().head)
    var n = 0
    while (reader.next()) n += 1
    assert(n == 25, s"runtime filters must not drop rows inside kept segments, got $n")
  }

  test("DSv2 streaming sink: writeStream appends epoch-named segments with sidecars, exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = tmp("frames-swrite"); val ck = tmp("frames-swrite-ck")
    val in = MemoryStream[Long]
    val q = in.toDF().selectExpr("value AS id", "CAST(NULL AS STRING) AS name",
        "CAST(value AS DOUBLE) AS score", "CAST('' AS BINARY) AS payload")
      .writeStream.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(1L, 2L, 3L); q.processAllAvailable()
      in.addData(4L, 5L); q.processAllAvailable()
    } finally q.stop()
    val segs = graft.sources.AvroFrames.listSegments(dir)
    assert(segs.nonEmpty, "streaming write must publish segments")
    assert(segs.forall(_.getName.matches("segment-.*-e\\d{9}-p\\d{5}\\.bin")),
      s"epoch-named segments expected: ${segs.map(_.getName).toSeq}")
    assert(segs.forall(s => new java.io.File(dir, s.getName + ".stats").isFile),
      "every streaming segment must carry a stats sidecar")
    val back = readFixture(dir)
    assert(back.collect().map(_.getLong(0)).sorted.toSeq == (1L to 5L))
    // and the sidecars immediately serve aggregate pushdown
    val agg = back.agg(count(lit(1)).as("n"), max(col("id")).as("mx"))
    assert(agg.queryExecution.executedPlan.toString.contains("complete, sidecar-only"))
    assert(agg.collect()(0).getLong(1) == 5L)
  }

  test("DSv2 streaming sink: replayed epoch re-commit is idempotent (exactly-once across crash)") {
    import graft.sources.{AvroFrameCommitMessage, AvroFrameStreamingWrite, AvroFrameStreamingWriterFactory}
    val dir = tmp("frames-replay")
    val w = new AvroFrameStreamingWrite(dir, frameSchema, 7, "qstream")
    val factory = new AvroFrameStreamingWriterFactory(dir, frameSchema, 7, "qstream")
    def runEpoch(epoch: Long, ids: Seq[Long], task: Long): AvroFrameCommitMessage = {
      val writer = factory.createWriter(0, task, epoch)
      ids.foreach { i =>
        writer.write(org.apache.spark.sql.catalyst.InternalRow(
          i, null, i.toDouble, Array[Byte]()))
      }
      writer.commit().asInstanceOf[AvroFrameCommitMessage]
    }
    w.commit(5L, Array(runEpoch(5L, Seq(1L, 2L), task = 1L)))
    assert(readFixture(dir).count() == 2L)
    // crash-replay: the engine re-runs epoch 5 (same final names, new
    // task attempt); the first commit must stand and the replay's temp
    // must vanish
    w.commit(5L, Array(runEpoch(5L, Seq(9L, 9L, 9L), task = 2L)))
    val got = readFixture(dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L), s"replayed epoch must not duplicate or replace: $got")
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith(".inprogress")),
      "replay temps must be cleaned up")
    // a NEW epoch appends normally
    w.commit(6L, Array(runEpoch(6L, Seq(7L), task = 3L)))
    assert(readFixture(dir).count() == 3L)
  }

  test("DSv2 relay: stream OUT of one frame log INTO another (both ends are the connector)") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tmp("frames-relay-src"); val dst = tmp("frames-relay-dst")
    val ck = tmp("frames-relay-ck")
    writeFrames(src, (1L to 20L).map(i => (i, Some(s"u$i"), i.toDouble, Array[Byte]())),
      file = "segment-00000.bin")
    val q = spark.readStream.format("graft.sources.AvroFrameDataSource")
      .option("path", src).option("avroSchema", frameSchema)
      .option("schemaId", "7").load()
      .filter(col("score") > 10.0)
      .writeStream.format("graft.sources.AvroFrameDataSource")
      .option("path", dst).option("avroSchema", frameSchema)
      .option("schemaId", "7").option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(readFixture(dst).collect().map(_.getLong(0)).sorted.toSeq == (11L to 20L),
      "the relay must carry exactly the filtered frames")
  }

  test("DSv2 batch write: empty partitions commit cleanly, no phantom files") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tmp("frames-empty-part")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    // 2 rows across 5 partitions: at least 3 partitions are empty
    val rows = Seq(Row(1L, "a", 1.0, Array[Byte]()), Row(2L, "b", 2.0, Array[Byte]()))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 5), schema)
      .write.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", frameSchema)
      .option("schemaId", "7").mode("append").save()
    val names = new java.io.File(dir).listFiles().map(_.getName)
    assert(names.count(_.endsWith(".bin")) == 2, s"only non-empty partitions publish: ${names.toSeq}")
    assert(!names.contains(".stats") && !names.exists(_.isEmpty), s"no phantom files: ${names.toSeq}")
    assert(readFixture(dir).count() == 2L)
  }

  test("DSv2 metadata columns: _segment/_frame_offset surface record provenance, hidden by default") {
    val dir = tmp("frames-meta")
    writeStatsFixture(dir, n = 40L, parts = 2)
    val df = readFixture(dir)
    // hidden unless selected: the data schema stays clean
    assert(df.schema.fieldNames.toSeq == Seq("id", "name", "score", "payload"))
    val withMeta = df.select(col("id"), col("_segment"), col("_frame_offset"))
    val rows = withMeta.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.length == 40)
    // every claimed (segment, offset) must be TRUE provenance: decode
    // that segment directly and check the id at that frame ordinal
    val bySegment = rows.groupBy(_._2)
    assert(bySegment.size == 2, s"two segments expected: ${bySegment.keys}")
    bySegment.foreach { case (seg, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (0L until rs.length).toSeq,
        s"offsets within $seg must be dense 0-based ordinals")
      val r = new graft.sources.AvroFrameReader(
        Seq(graft.sources.FrameMember(new java.io.File(dir, seg).getAbsolutePath)), frameSchema, 7,
        Array("id", "_frame_offset"), Array.empty)
      val direct = scala.collection.mutable.Map.empty[Long, Long]
      while (r.next()) direct(r.get().getLong(1)) = r.get().getLong(0)
      r.close()
      rs.foreach { case (id, _, off) =>
        assert(direct(off) == id, s"offset $off in $seg should hold id ${direct(off)}, claimed $id")
      }
    }
    // offsets skip nothing: with junk frames in the log, malformed
    // frames still occupy positions (reprocessing can name them)
    val dir2 = tmp("frames-meta-junk")
    val schema = new org.apache.avro.Schema.Parser().parse(frameSchema)
    def good(id: Long): Array[Byte] = {
      val r = new org.apache.avro.generic.GenericData.Record(schema)
      r.put("id", id); r.put("name", null); r.put("score", 0.0)
      r.put("payload", java.nio.ByteBuffer.wrap(Array[Byte]()))
      graft.sources.AvroFrames.frameRecord(7, r)
    }
    graft.sources.AvroFrames.writeSegment(new java.io.File(dir2, "segment-0.bin"),
      Seq(good(1L), graft.streaming.AvroRecords.frame(99, Array[Byte](2)), good(3L)).iterator)
    val got = readFixture(dir2).select(col("id"), col("_frame_offset"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 0L), (3L, 2L)),
      s"malformed frame must occupy offset 1, got $got")
  }

  test("q326 prunes time-sliced segments from the write path's stats sidecars") {
    val df = SparkEntry.queries("q326_stat_pruned_timeslice")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(ts_us,1706400000000000)"),
      s"q326 time filter must push into the source:\n$plan")
    val seg = "Segments=(\\d+)/(\\d+) after stat-pruning".r
      .findFirstMatchIn(plan)
    assert(seg.isDefined, s"scan must report stat-pruning:\n$plan")
    val (kept, total) = (seg.get.group(1).toInt, seg.get.group(2).toInt)
    assert(total == 8 && kept <= 2,
      s"a 3-day tail over 8 ts-ranged segments must prune most ($kept/$total):\n$plan")
    assert(df.count() > 0)
  }
}
