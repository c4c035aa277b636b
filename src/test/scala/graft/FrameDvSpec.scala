package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AvroFrames, FrameChanges, FrameDv, FrameMaintenance}

/** Merge-on-read deletion vectors (round 15,
  * [[graft.sources.FrameDv]] / [[FrameMaintenance.deleteWhereMoR]]):
  * a sparse DELETE on a `deleteMode='merge-on-read'` table writes
  * position sidecars instead of rewriting segments. Under test: zero
  * segments rewritten, scans/aggregates/limits exact through the
  * vector, cumulative second deletes, version-exact time travel,
  * row-exact change feed, and compaction folding the vectors away.
  */
class FrameDvSpec extends AnyFunSuite with SparkFixture {

  private def freshCatalog(tag: String): (String, String) = {
    val base = Files.createTempDirectory(s"frame-dv-$tag").toString
    val cat = s"fdv_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FrameCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    (cat, base)
  }

  private def segNames(dir: String): Seq[String] =
    AvroFrames.listSegments(dir).map(_.getName).toSeq

  private def dvNames(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(FrameDv.isDvName).sorted.toSeq

  private val schemaJson = AvroFrames.avroSchemaFor(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("grp", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType, nullable = false))),
    "t")

  private def build(cat: String): String = {
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    // dvFoldThreshold > 1 opts OUT of the round-16 auto-fold policy:
    // these suites pin the raw vector mechanics (zero rewrites ever);
    // FrameDvFoldSpec pins the default-policy fold behavior
    spark.sql(s"""CREATE TABLE $cat.corpus.t (
      id BIGINT NOT NULL, grp STRING NOT NULL, v DOUBLE NOT NULL)
      TBLPROPERTIES ('deleteMode'='merge-on-read', 'dvFoldThreshold'='2.0')""")
    // 3 single-segment inserts: versions 1..3, ids 0-9/10-19/20-29
    (0 until 3).foreach { k =>
      spark.range(k * 10, k * 10 + 10).coalesce(1)
        .selectExpr("id", "IF(id % 2 = 0, 'a', 'b') AS grp", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView(s"dv_src_$k")
      spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM dv_src_$k")
    }
    spark.conf.get(s"spark.sql.catalog.$cat.base") + "/corpus/t"
  }

  private def ids(cat: String, extra: String = ""): Seq[Long] =
    spark.sql(s"SELECT id FROM $cat.corpus.t $extra").collect().map(_.getLong(0)).sorted.toSeq

  test("sparse MoR delete: vectors instead of rewrites, exact reads, cumulative, time travel") {
    val (cat, _) = freshCatalog("basic")
    val dir = build(cat)
    val before = segNames(dir)
    assert(FrameMaintenance.totalVersions(new java.io.File(dir)) == 3)

    // v4: sparse delete straddling every segment — ZERO rewrites
    spark.sql(s"DELETE FROM $cat.corpus.t WHERE id IN (1, 5, 13, 21, 28)")
    assert(segNames(dir) == before,
      "merge-on-read DELETE must not rewrite or retire any data segment")
    assert(dvNames(dir).size == 3 && dvNames(dir).forall(_.matches(".*\\.dv\\d+")),
      s"expected one vector per straddled segment, got ${dvNames(dir)}")
    assert(FrameMaintenance.totalVersions(new java.io.File(dir)) == 4)
    val afterV4 = (0L to 29L).filterNot(Set(1L, 5L, 13L, 21L, 28L))
    assert(ids(cat) == afterV4)

    // pushed aggregates stay exact through the vector (decode fallback)
    val agg = spark.sql(s"SELECT count(*) AS n, min(id) AS mn, max(id) AS mx, count(v) AS nv FROM $cat.corpus.t")
      .collect()(0)
    assert(agg.getLong(0) == 25 && agg.getLong(1) == 0 && agg.getLong(2) == 29 &&
      agg.getLong(3) == 25)
    // filters + limit interplay
    assert(ids(cat, "WHERE id <= 6") == Seq(0L, 2L, 3L, 4L, 6L))
    assert(spark.sql(s"SELECT id FROM $cat.corpus.t LIMIT 27").count() == 25)

    // v5: second sparse delete — vectors ACCUMULATE (one live vector
    // per segment; gen-1 vectors retire to history)
    spark.sql(s"DELETE FROM $cat.corpus.t WHERE id IN (2, 13, 19)") // 13 already gone
    assert(segNames(dir) == before)
    assert(FrameMaintenance.totalVersions(new java.io.File(dir)) == 5)
    val afterV5 = afterV4.filterNot(Set(2L, 19L))
    assert(ids(cat) == afterV5)
    // segment 2 (ids 20-29) had no new match: its gen-1 vector stays
    val dvs = dvNames(dir)
    assert(dvs.count(_.endsWith(".dv2")) == 2 && dvs.count(_.endsWith(".dv1")) == 1,
      s"expected 2 new-gen + 1 untouched vector, got $dvs")

    // time travel is version-exact across both deletes
    assert(spark.sql(s"SELECT id FROM $cat.corpus.t VERSION AS OF 3")
      .collect().map(_.getLong(0)).sorted.toSeq == (0L to 29L))
    assert(spark.sql(s"SELECT id FROM $cat.corpus.t VERSION AS OF 4")
      .collect().map(_.getLong(0)).sorted.toSeq == afterV4)
    assert(spark.sql(s"SELECT id FROM $cat.corpus.t VERSION AS OF 5")
      .collect().map(_.getLong(0)).sorted.toSeq == afterV5)

    // change feed is row-exact per dv version
    def feedDeletes(from: Int, to: Int): Seq[Long] =
      FrameChanges.read(spark, dir, schemaJson, AvroFrames.DefaultSchemaId, from, Some(to))
        .filter(col("_change_type") === "delete")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(feedDeletes(3, 4) == Seq(1L, 5L, 13L, 21L, 28L))
    assert(feedDeletes(4, 5) == Seq(2L, 19L),
      "cumulative vectors must report only the DELTA at their version")

    // compaction folds the vectors into real bytes: no live vectors
    // left, same rows, same version count, time travel intact
    spark.sql(s"CALL $cat.corpus.compact(table => 'corpus.t')")
    assert(dvNames(dir).isEmpty, "compaction must fold vectors away")
    assert(FrameMaintenance.totalVersions(new java.io.File(dir)) == 5)
    assert(ids(cat) == afterV5)
    assert(spark.sql(s"SELECT count(*) FROM $cat.corpus.t").collect()(0).getLong(0) == 23)
    assert(spark.sql(s"SELECT id FROM $cat.corpus.t VERSION AS OF 4")
      .collect().map(_.getLong(0)).sorted.toSeq == afterV4,
      "pre-fold snapshots must resolve from history after compaction")
    assert(feedDeletes(3, 4) == Seq(1L, 5L, 13L, 21L, 28L),
      "the change feed must survive vector folding")
  }

  test("MoR delete fast paths: provably-all-match retires metadata-only, none-match is free") {
    val (cat, _) = freshCatalog("fast")
    val dir = build(cat)

    // none-match: no version minted, nothing written
    spark.sql(s"DELETE FROM $cat.corpus.t WHERE id > 1000")
    assert(FrameMaintenance.totalVersions(new java.io.File(dir)) == 3 &&
      dvNames(dir).isEmpty)

    // first vector a straddler, then a whole-segment delete: the
    // all-match segment retires metadata-only WITH its vector
    spark.sql(s"DELETE FROM $cat.corpus.t WHERE id IN (3, 7)")
    assert(dvNames(dir).size == 1)
    spark.sql(s"DELETE FROM $cat.corpus.t WHERE id <= 9")
    assert(segNames(dir).size == 2 && dvNames(dir).isEmpty,
      "whole-segment delete must retire the segment and its vector")
    assert(ids(cat) == (10L to 29L))
    // intermediate state (after the vector, before the retirement)
    val vAfterDv = 4
    assert(spark.sql(s"SELECT id FROM $cat.corpus.t VERSION AS OF $vAfterDv")
      .collect().map(_.getLong(0)).sorted.toSeq ==
      (0L to 29L).filterNot(Set(3L, 7L)))
  }

  test("group rewrite (UPDATE) on a vectored segment retires the vector and keeps rows exact") {
    // COPY-ON-WRITE table (so UPDATE takes the group-rewrite path);
    // the vector is minted directly — the case under test is a group
    // rewrite landing on a segment that already carries one
    val (cat, base) = freshCatalog("upd")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"""CREATE TABLE $cat.corpus.t (
      id BIGINT NOT NULL, grp STRING NOT NULL, v DOUBLE NOT NULL)""")
    (0 until 3).foreach { k =>
      spark.range(k * 10, k * 10 + 10).coalesce(1)
        .selectExpr("id", "IF(id % 2 = 0, 'a', 'b') AS grp", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView(s"dv_gupd_src_$k")
      spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM dv_gupd_src_$k")
    }
    val dir = base + "/corpus/t"
    FrameMaintenance.deleteWhereMoR(spark, new java.io.File(dir), schemaJson,
      AvroFrames.DefaultSchemaId,
      Array(org.apache.spark.sql.sources.In("id", Array(Long.box(11L), Long.box(15L)))))
    assert(dvNames(dir).size == 1)
    // UPDATE's group rewrite reads the segment THROUGH the vector and
    // republishes; the vector must retire with the group
    spark.sql(s"UPDATE $cat.corpus.t SET v = v * 10 WHERE id = 12")
    assert(dvNames(dir).isEmpty,
      "group rewrite must retire the vector with its segment")
    val rows = spark.sql(s"SELECT id, v FROM $cat.corpus.t WHERE id >= 10 AND id < 20")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(rows.map(_._1) == Seq(10L, 12L, 13L, 14L, 16L, 17L, 18L, 19L),
      s"vectored rows must not resurrect through the rewrite: $rows")
    assert(rows.toMap.apply(12L) == 120.0)
  }

  test("deletion vector file format round-trips and rejects corruption") {
    val dir = Files.createTempDirectory("dv-fmt").toFile
    val f = new java.io.File(dir, "seg-0001.bin.dv3")
    FrameDv.write(f, Array(0, 5, 6, 1023))
    assert(FrameDv.read(f).toSeq == Seq(0, 5, 6, 1023))
    assert(FrameDv.count(f) == 4)
    assert(FrameDv.isDvName(f.getName) && FrameDv.baseOf(f.getName) == "seg-0001.bin")
    assert(!FrameDv.isDvName("seg-0001.bin") && !FrameDv.isDvName("seg.dv"))
    val cur = new FrameDv.Cursor(Array(0, 5, 6, 1023))
    assert(cur.contains(0) && !cur.contains(1) && !cur.contains(4) &&
      cur.contains(5) && cur.contains(6) && !cur.contains(7) && cur.contains(1023))
    intercept[IllegalArgumentException] {
      FrameDv.write(new java.io.File(dir, "x.dv1"), Array(3, 3))
    }
    java.nio.file.Files.writeString(f.toPath, "garbage")
    intercept[Exception] { FrameDv.read(f) }
  }

  /** Round 15, delta-based row-level ops: on a merge-on-read table,
    * UPDATE and MERGE ship only the CHANGED ROWS — deletes become
    * deletion vectors (no segment retired, none rewritten), inserts
    * ordinary appends. The group-rewrite path remains for bucketed /
    * sorted tables.
    */
  test("delta UPDATE: vectors + appends, zero segments rewritten, row-exact feed") {
    val (cat, _) = freshCatalog("dupd")
    val dir = build(cat)
    val before = segNames(dir)
    assert(FrameMaintenance.totalVersions(new java.io.File(dir)) == 3)

    // sparse UPDATE straddling two segments: id in {5, 15} -> v * 100
    spark.sql(s"UPDATE $cat.corpus.t SET v = v * 100 WHERE id IN (5, 15)")
    val after = segNames(dir)
    assert(before.forall(after.contains),
      s"delta UPDATE must not retire any data segment: $before -> $after")
    assert(after.length > before.length && after.length <= before.length + 2,
      s"updated rows append as new segment(s), never rewrites: $after")
    assert(dvNames(dir).size == 2, s"one vector per touched segment: ${dvNames(dir)}")

    val rows = spark.sql(s"SELECT id, v FROM $cat.corpus.t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(rows.map(_._1) == (0L until 30L), "no row lost or duplicated")
    assert(rows.toMap.apply(5L) == 500.0 && rows.toMap.apply(15L) == 1500.0)
    assert(rows.filterNot(r => r._1 == 5 || r._1 == 15).forall(r => r._2 == r._1.toDouble))

    // versions: 3 appends + one per inserted segment + one dv op
    val total = FrameMaintenance.totalVersions(new java.io.File(dir))
    assert(total == 3 + (after.length - before.length) + 1,
      s"expected appends+dv versions, got $total")

    // the feed is row-exact: the update surfaces as exactly the two
    // preimages deleted + two postimages inserted (never group-grain)
    val feed = FrameChanges.read(spark, dir, schemaJson, AvroFrames.DefaultSchemaId, 3, Some(total))
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(x => (x._1, x._3)).toSeq
    assert(feed == Seq((5L, 5.0, "delete"), (5L, 500.0, "insert"),
      (15L, 15.0, "delete"), (15L, 1500.0, "insert")),
      s"delta update must be row-exact in the feed: $feed")

    // time travel to the pre-update state
    assert(spark.sql(s"SELECT v FROM $cat.corpus.t VERSION AS OF 3 WHERE id = 5")
      .collect()(0).getDouble(0) == 5.0)
  }

  test("delta MERGE upsert: matched rows vector+reinsert, unmatched insert; oracle-exact") {
    val (cat, _) = freshCatalog("dmrg")
    val dir = build(cat)
    val before = segNames(dir)

    spark.range(25, 35).coalesce(1)
      .selectExpr("id", "IF(id % 2 = 0, 'a', 'b') AS grp", "CAST(id * 1000 AS DOUBLE) AS v")
      .createOrReplaceTempView("dv_merge_src")
    spark.sql(s"""
      MERGE INTO $cat.corpus.t t
      USING dv_merge_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, grp, v) VALUES (s.id, s.grp, s.v)
    """)
    val after = segNames(dir)
    assert(before.forall(after.contains), "delta MERGE must not retire data segments")

    val rows = spark.sql(s"SELECT id, v FROM $cat.corpus.t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(rows.map(_._1) == (0L until 35L))
    (0L until 25L).foreach(i => assert(rows.toMap.apply(i) == i.toDouble))
    (25L until 35L).foreach(i => assert(rows.toMap.apply(i) == i * 1000.0, s"id $i"))

    // a second delete composes with the merge's vectors (cumulative)
    spark.sql(s"DELETE FROM $cat.corpus.t WHERE id IN (26, 2)")
    val rows2 = spark.sql(s"SELECT id FROM $cat.corpus.t").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(rows2 == (0L until 35L).filterNot(Set(26L, 2L)))

    // compaction folds everything back to plain bytes
    spark.sql(s"CALL $cat.corpus.compact(table => 'corpus.t')")
    assert(dvNames(dir).isEmpty)
    assert(spark.sql(s"SELECT id FROM $cat.corpus.t").collect()
      .map(_.getLong(0)).sorted.toSeq == rows2)
  }

  test("COUNT(*) on a vectored table answers from sidecars (frames - |dv|), zero decodes") {
    val (cat, _) = freshCatalog("cnt")
    val dir = build(cat)
    spark.sql(s"DELETE FROM $cat.corpus.t WHERE id IN (3, 14, 25, 26)")
    assert(dvNames(dir).size == 3)

    // reader-level proof: the pushed-agg reader never opens a file
    val files = AvroFrames.listSegments(dir).map(_.getAbsolutePath).toSeq
    val dvs = files.map(f => FrameDv.liveDvOf(new java.io.File(dir),
      new java.io.File(f).getName).map(new java.io.File(dir, _).getAbsolutePath))
    val r = new graft.sources.AvroFrameAggReader(
      files.zip(dvs).map { case (f, dv) => graft.sources.FrameMember(f, dv) }, schemaJson,
      AvroFrames.DefaultSchemaId, Seq(graft.sources.FrameCountStar), Array.empty)
    assert(r.next())
    assert(r.get().getLong(0) == 26, "frames - |dv| must be the exact live count")
    assert(r.decodedSegments == 0L, "COUNT(*) over vectors must not open segments")

    // SQL end-to-end (complete pushdown path)
    assert(spark.sql(s"SELECT count(*) FROM $cat.corpus.t").collect()(0).getLong(0) == 26)
  }

  test("SQL surface: SELECT FROM cat.ns.t.changes serves the change feed") {
    val (cat, _) = freshCatalog("sqlcdf")
    val dir = build(cat)
    spark.sql(s"DELETE FROM $cat.corpus.t WHERE id IN (4, 17)")

    val rows = spark.sql(s"""
      SELECT id, _change_type, _commit_version FROM $cat.corpus.t.changes
      ORDER BY _commit_version, _change_type, id""").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows.count(_._2 == "insert") == 30)
    assert(rows.filter(_._2 == "delete").map(_._1) == Seq(4L, 17L))
    assert(rows.filter(_._2 == "delete").forall(_._3 == 4L))
    // version-bounded slice via the ordinary column filter
    assert(spark.sql(s"SELECT count(*) FROM $cat.corpus.t.changes WHERE _commit_version > 3")
      .collect()(0).getLong(0) == 2)
  }
}
