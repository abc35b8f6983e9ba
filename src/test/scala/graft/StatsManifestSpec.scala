package graft

import graft.sources.{Bucketing, StatsManifest}
import graft.sources.StatsManifest.Range
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-skipping manifest: harvested footer stats must equal the true
  * per-file extremes, manifest pruning must be sound (never drops a
  * matching row) and MEASURABLY effective on the Z-order layout — the
  * skip-count numbers the BASELINE.md data-skipping entry records.
  */
class StatsManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val fixture: (String, String, Long, Long) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-statsman").toFile
    dir.deleteOnExit()
    val ev = Tables.events(spark, TestSpark.Sf)
      .select(col("user_id"), col("ts").as("tus"))
      .withColumn("day", expr("tus div 86400000000"))
    val nFiles = 16
    val zPath = dir.getAbsolutePath + "/z"
    val lPath = dir.getAbsolutePath + "/lex"
    Bucketing.writeZOrdered(ev, zPath, "user_id", "day", nFiles)
    ev.repartitionByRange(nFiles, col("user_id"), col("tus"))
      .sortWithinPartitions("user_id", "tus")
      .write.mode("overwrite").parquet(lPath)
    assert(StatsManifest.write(spark, zPath, Seq("user_id", "day")) > 4)
    assert(StatsManifest.write(spark, lPath, Seq("user_id", "day")) > 4)
    val days = ev.select(min("day"), max("day")).collect().head
    (zPath, lPath, days.getLong(0), days.getLong(1))
  }

  test("harvested footer stats equal the true per-file min/max") {
    val (zPath, _, _, _) = fixture
    val truth = spark.read.parquet(zPath)
      .groupBy(input_file_name().as("f"))
      .agg(
        min("user_id").as("u0"), max("user_id").as("u1"),
        min("day").as("d0"), max("day").as("d1"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => new java.net.URI(r.getString(0)).getPath ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val manifest = StatsManifest.read(zPath)
    assert(manifest.size === truth.size)
    manifest.foreach { fs =>
      val (u0, u1, d0, d1, n) = truth(fs.path)
      assert(fs.rows === n, fs.path)
      assert(fs.stats("user_id") === (BigDecimal(u0), BigDecimal(u1)), fs.path)
      assert(fs.stats("day") === (BigDecimal(d0), BigDecimal(d1)), fs.path)
    }
  }

  test("manifest prunes a day box on the z-layout, keeps all on lex, and stays exact") {
    val (zPath, lPath, dayLo, dayHi) = fixture
    val midDay = (dayLo + dayHi) / 2
    val box = Seq(Range("day", Some(BigDecimal(midDay)), Some(BigDecimal(midDay))))

    val (zDf, zRep) = StatsManifest.prunedRead(spark, zPath, box)
    val (_, lRep)   = StatsManifest.prunedRead(spark, lPath, box)
    info(s"day-box skip: z-order ${zRep.skipped}/${zRep.totalFiles} files skipped, " +
      s"lex ${lRep.skipped}/${lRep.totalFiles}")
    // z tiles: a strict subset of files intersects one day
    assert(zRep.skipped > 0, s"z-layout skipped nothing ($zRep)")
    // user-sorted files all span the full day range — nothing to skip
    assert(lRep.skipped === 0, s"lex layout unexpectedly pruned ($lRep)")

    // soundness: pruned scan + exact predicate ≡ full scan + exact predicate
    def sig(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val r = df.filter(col("day") === midDay)
        .agg(count(lit(1)), sum("user_id"), sum("tus")).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(sig(zDf) === sig(spark.read.parquet(zPath)))

    // a 2-D box (mid user × mid day) prunes harder than either axis alone
    val users = spark.read.parquet(zPath).select(min("user_id"), max("user_id"))
      .collect().head
    val midUser = (users.getLong(0) + users.getLong(1)) / 2
    val (_, boxRep) = StatsManifest.prunedRead(spark, zPath,
      box :+ Range("user_id", Some(BigDecimal(midUser)), Some(BigDecimal(midUser))))
    info(s"2-D box skip: ${boxRep.skipped}/${boxRep.totalFiles}")
    assert(boxRep.keptFiles <= zRep.keptFiles)
  }

  test("pruning is conservative: unknown columns keep every file, empty boxes keep none") {
    val (zPath, _, _, dayHi) = fixture
    val (_, unknown) = StatsManifest.prunedRead(spark, zPath,
      Seq(Range("no_such_col", Some(BigDecimal(0)), None)))
    assert(unknown.skipped === 0)
    val (emptyDf, empty) = StatsManifest.prunedRead(spark, zPath,
      Seq(Range("day", Some(BigDecimal(dayHi + 1000)), None)))
    assert(empty.keptFiles === 0)
    assert(emptyDf.count() === 0)
    assert(emptyDf.columns.toSeq === Seq("user_id", "tus", "day"))
  }

  test("registered manifest_range_scan prunes files AND matches the full-scan result") {
    val out = StatsManifest.manifestRangeScan(spark, TestSpark.Sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    val rep = StatsManifest.lastReport.get
    info(s"manifest_range_scan skip: ${rep.skipped}/${rep.totalFiles} files")
    assert(rep.skipped > 0, s"registered query pruned nothing ($rep)")
    // soundness against the ORIGINAL table: same 10-day window computed
    // with a plain full scan must agree row for row
    val ev = Tables.events(spark, TestSpark.Sf)
      .select(expr("ts div 86400000000").as("day"),
        col("user_id"), col("value"))
    val lo = ev.agg(min("day")).collect().head.getLong(0) + 5
    val full = ev.filter(col("day").between(lo, lo + 9))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Det.detRound(Det.moneySum(col("value")), 2).as("total_value"))
      .orderBy(col("day"))
      .collect()
    assert(rows.toSeq === full.toSeq)
  }

  test("a stats-less file stays visible: conservative keep, never lossy") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-statsless").toFile
    dir.deleteOnExit()
    val p = dir.getAbsolutePath + "/t"
    // file 1: normal stats; file 2: the harvested column is ALL NULL, so
    // its footer has no usable min/max — the manifest must still list it
    Seq((1L, Some(10L)), (2L, Some(20L))).toDF("id", "k")
      .coalesce(1).write.mode("append").parquet(p)
    Seq((3L, None: Option[Long]), (4L, None)).toDF("id", "k")
      .coalesce(1).write.mode("append").parquet(p)
    val covered = StatsManifest.write(spark, p, Seq("k"))
    assert(covered === 2, "both files must appear in the manifest")
    // a range on k cannot prune the stats-less file (soundness)
    val (df, report) = StatsManifest.prunedRead(spark, p,
      Seq(StatsManifest.Range("k", Some(BigDecimal(1000)), None)))
    assert(report.totalFiles === 2)
    assert(report.keptFiles === 1, "stats-less file kept, stats file pruned")
    assert(df.count() === 2, "rows of the stats-less file survive the scan")
  }
}
