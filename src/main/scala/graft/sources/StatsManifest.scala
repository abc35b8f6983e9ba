package graft.sources

import graft.{Det, QueryDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** File-skipping statistics manifest — the data-skipping tier ABOVE
  * Spark's parquet row-group pruning. At write time we harvest each
  * file's per-column min/max from its parquet FOOTER (no data pages are
  * read) into a sidecar manifest; at read time a range predicate is
  * evaluated against the manifest and only intersecting files are handed
  * to Spark at all. Row-group pruning then still applies inside the kept
  * files — the two tiers compose.
  *
  * Why it matters at 100 TB: Spark's min/max pruning runs per row-group
  * AFTER listing and footer-reading every file in the table; a manifest
  * turns "open a million footers per query" into one small sidecar read
  * on the driver, which is precisely what Delta/Iceberg file statistics
  * do. Combined with the Z-order layout ([[Bucketing.writeZOrdered]] —
  * each file covers a compact 2-D tile) a single-dimension range query
  * skips all but ~√F of F files; on a lexicographic layout the same
  * predicate on the secondary key keeps every file.
  * StatsManifestSpec measures exactly that skip-count difference.
  *
  * Scope: numeric columns (parquet INT32/INT64/FLOAT/DOUBLE). Values are
  * carried as BigDecimal strings so INT64 keys beyond 2^53 (e.g. Z-codes,
  * composite rowkeys — SURVEY §2's S5) compare exactly; string columns
  * would add only an encoding, not a new mechanism.
  *
  * The footer harvest runs as a Spark job over the file list (one task
  * per ~64 files), not a driver loop — a million-file table's manifest
  * build is itself distributed.
  */
object StatsManifest {

  final case class FileStats(
      path: String, rows: Long, stats: Map[String, (BigDecimal, BigDecimal)])

  /** Inclusive range predicate on one column; None = unbounded side. */
  final case class Range(col: String, lo: Option[BigDecimal], hi: Option[BigDecimal])

  final case class PruneReport(totalFiles: Int, keptFiles: Int) {
    def skipped: Int = totalFiles - keptFiles
  }

  private def manifestPath(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(dir.stripSuffix("/") + "._stats_manifest")

  private def parquetFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) { if (f.getName.endsWith(".parquet")) Seq(f) else Nil }
      else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
    walk(new java.io.File(dir)).map(_.getAbsolutePath).sorted
  }

  /** Harvest per-file min/max for `cols` from parquet footers and write
    * the sidecar manifest. Returns the number of files covered.
    */
  def write(spark: SparkSession, dir: String, cols: Seq[String]): Int = {
    val files = parquetFiles(dir)
    val tasks = math.max(1, math.min(files.size, 64))
    val harvested: Seq[FileStats] = spark.sparkContext
      .parallelize(files, tasks)
      .map { p =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          val perCol = cols.flatMap { c =>
            val ranges = blocks.flatMap { b =>
              b.getColumns.asScala
                .find(_.getPath.toDotString == c)
                .flatMap { cc =>
                  val s = cc.getStatistics
                  if (s == null || !s.hasNonNullValue) None
                  else (s.genericGetMin, s.genericGetMax) match {
                    case (mn: Number, mx: Number) =>
                      Some((BigDecimal(mn.toString), BigDecimal(mx.toString)))
                    case _ => None // non-numeric: out of scope, stays prunable-by-Spark only
                  }
                }
            }
            // every row-group must carry stats, else the file's bound is
            // not sound for pruning — skip the column (conservative keep)
            if (ranges.size == blocks.size && ranges.nonEmpty)
              Some(c -> (ranges.map(_._1).min, ranges.map(_._2).max))
            else None
          }.toMap
          FileStats(p, rows, perCol)
        } finally reader.close()
      }
      .collect() // bounded: one small record per FILE, not per row
      .toSeq
    val body = harvested.sortBy(_.path).flatMap { fs =>
      if (fs.stats.isEmpty)
        // stats-less file: MUST still appear in the manifest (a file a
        // reader cannot see is silently dropped from every pruned scan —
        // pruning has to be conservative-keep, never lossy)
        Seq(s"${fs.path}\t${fs.rows}\t-\t-\t-")
      else
        fs.stats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
          s"${fs.path}\t${fs.rows}\t$c\t$mn\t$mx"
        }
    }.mkString("\n")
    val tmp = java.nio.file.Paths.get(manifestPath(dir).toString + ".tmp")
    java.nio.file.Files.write(tmp, body.getBytes)
    java.nio.file.Files.move(
      tmp, manifestPath(dir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    harvested.size
  }

  def read(dir: String): Seq[FileStats] = {
    val p = manifestPath(dir)
    require(java.nio.file.Files.exists(p), s"no stats manifest under $dir")
    new String(java.nio.file.Files.readAllBytes(p))
      .linesIterator.filter(_.nonEmpty).toSeq
      .map { l =>
        val Array(path, rows, c, mn, mx) = l.split('\t')
        if (c == "-") (path, rows.toLong, None)
        else (path, rows.toLong, Some((c, BigDecimal(mn), BigDecimal(mx))))
      }
      .groupBy(t => (t._1, t._2))
      .map { case ((path, rows), ls) =>
        FileStats(
          path, rows,
          ls.flatMap(_._3).map { case (c, mn, mx) => c -> (mn, mx) }.toMap)
      }
      .toSeq.sortBy(_.path)
  }

  /** Files whose stats intersect every range. A file with no stats for a
    * predicate column is KEPT (pruning must be sound, never lossy).
    */
  def pruneFiles(dir: String, ranges: Seq[Range]): (Seq[String], PruneReport) = {
    val all = read(dir)
    val kept = all.filter { fs =>
      ranges.forall { r =>
        fs.stats.get(r.col) match {
          case None => true
          case Some((mn, mx)) =>
            r.lo.forall(_ <= mx) && r.hi.forall(_ >= mn)
        }
      }
    }
    (kept.map(_.path), PruneReport(all.size, kept.size))
  }

  /** Manifest-pruned scan: only intersecting files reach Spark's reader.
    * The caller still applies the exact filter — the manifest only
    * SKIPS files, it never stands in for the predicate.
    */
  def prunedRead(
      spark: SparkSession, dir: String, ranges: Seq[Range]): (DataFrame, PruneReport) = {
    val (files, report) = pruneFiles(dir, ranges)
    val df =
      if (files.isEmpty)
        // all files pruned: empty frame with the table's schema
        spark.read.parquet(dir).limit(0)
      else spark.read.option("basePath", dir).parquet(files: _*)
    (df, report)
  }

  // ----------------------------------------------- registered query path

  private val LayoutFiles = 12
  /** Report from the last manifestRangeScan build, for spec assertions. */
  @volatile private[graft] var lastReport: Option[PruneReport] = None

  /** Day-ranged copy of events for the pruned-scan carrier, built once
    * per source dir (range-partitioned by day so each file covers a
    * compact day interval — the layout a streaming date-partitioned
    * sink produces naturally at 100 TB).
    */
  private def eventsDayLayout(spark: SparkSession, dir: String): String = {
    // fingerprint = row count + layout width: regenerated testdata or a
    // re-tuned file count rebuilds instead of reusing a stale layout
    val rows = graft.Tables.cachedCount(spark, dir, "events")
    DerivedCache.dir(dir, "manifest-events-day", s"rows=$rows;files=$LayoutFiles") { out =>
      graft.Tables
        .events(spark, dir)
        .select(
          expr("ts div 86400000000").as("day"),
          col("user_id"),
          col("value"))
        .repartitionByRange(LayoutFiles, col("day"))
        .sortWithinPartitions("day")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
      write(spark, out, Seq("day"))
      ()
    }
  }

  /** Manifest-pruned range scan as a CORRECTNESS-gated query: a 10-day
    * window over the day-partitioned events copy is resolved against the
    * sidecar manifest FIRST, so non-intersecting files never reach
    * Spark's reader (the Delta/Iceberg file-stats tier); the exact
    * predicate is still applied to the kept files, so the result is
    * byte-identical to a full scan — which is exactly what the DuckDB
    * oracle computes, over the original un-laid-out table. The query
    * REFUSES to pass silently without pruning: if the manifest kept
    * every file the layout contract is broken and it throws.
    */
  def manifestRangeScan(spark: SparkSession, dir: String): DataFrame = {
    val layout   = eventsDayLayout(spark, dir)
    val manifest = read(layout)
    val dayStats = manifest.flatMap(_.stats.get("day"))
    // a NON-empty layout whose footers carry no usable day stats is a
    // manifest-integrity failure, not a query result: the window would
    // anchor at day 0 and silently diverge from the oracle's MIN(day)
    require(
      dayStats.nonEmpty || manifest.map(_.rows).sum == 0,
      s"no usable day statistics in the manifest under $layout")
    // footer-only anchoring is sound only when EVERY rows-bearing file
    // carries day stats; otherwise a stats-less file can hide the true
    // minimum and the window would diverge from the oracle's MIN(day) —
    // fall back to an exact scan for the anchor in that case
    val statless = manifest.exists(fs => fs.rows > 0 && !fs.stats.contains("day"))
    val minDay =
      if (statless)
        BigDecimal(
          spark.read.parquet(layout).agg(min(col("day"))).collect().head.getLong(0))
      else dayStats.map(_._1).reduceOption(_ min _).getOrElse(BigDecimal(0))
    val lo = minDay + 5
    val hi = minDay + 14
    val (pruned, report) = prunedRead(
      spark, layout, Seq(Range("day", Some(lo), Some(hi))))
    lastReport = Some(report)
    // contract: with a real multi-file day range the manifest MUST skip
    // something; a degenerate corpus (empty / single day / single file
    // with stats) has nothing to skip and is exempt
    val prunable = dayStats.count { case (mn, mx) => mx < lo || mn > hi }
    require(
      prunable == 0 || report.skipped > 0,
      s"manifest kept all ${report.totalFiles} files for days [$lo,$hi] — " +
        "range layout or manifest stats are broken")
    pruned
      .filter(col("day").between(lo.toLong, hi.toLong))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Det.detRound(Det.moneySum(col("value")), 2).as("total_value"))
      .orderBy(col("day"))
  }

  private val manifestRangeScanSql =
    s"""WITH d AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day, user_id, value FROM events
       |), b AS (
       |  SELECT MIN(day) + 5 AS lo, MIN(day) + 14 AS hi FROM d
       |)
       |SELECT day,
       |       count(*) AS n_events,
       |       count(DISTINCT user_id) AS n_users,
       |       ${Det.roundSql("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS total_value
       |FROM d, b
       |WHERE day BETWEEN lo AND hi
       |GROUP BY day
       |ORDER BY day""".stripMargin

  // ----------------------------------------------- compaction planning

  /** Target rows per compacted file. Files at or above the target are
    * left alone; smaller ones are packed.
    */
  private val CompactTargetRows = 25000L

  /** Small-file compaction plan over the day-grain layout (one file per
    * event day — the layout a streaming date-partitioned sink produces;
    * the same carrier manifestRangeScan prunes). The maintenance job
    * every file-statistics tier feeds at 100 TB: a streaming sink lands
    * one small file per day per table, and an uncompacted table bleeds
    * planning time (file listing, footer reads, task startup) on every
    * query. The plan is Iceberg/Delta binpack-by-sort-order:
    *   - files already >= [[CompactTargetRows]] rows: `keep` (rewriting
    *     them buys nothing, bin −1);
    *   - smaller files: `compact`, packed into consecutive-day groups by
    *     next-fit over the running row sum — bin = prefix-sum div
    *     target, the same bounded-parallel kernel as doc_pack_bins
    *     (Rank.withPrefixSum: range-bucketed, no single-partition
    *     window), so the plan computation itself scales past any
    *     calendar length.
    * Consecutive-day grouping is deliberate: compaction must preserve
    * the day-range clustering the manifest prunes on, so only adjacent
    * days may merge. Output: one row per file with its action and
    * target bin.
    */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val files = graft.Tables
      .events(spark, dir)
      .select(expr("ts div 86400000000").as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows"))
    val keeps = files
      .filter(col("n_rows") >= CompactTargetRows)
      .select(
        col("day"), col("n_rows"),
        lit("keep").as("action"), lit(-1L).as("bin"))
    val packed = graft.operators.Rank
      .withPrefixSum(
        files.filter(col("n_rows") < CompactTargetRows), "day", "n_rows")
      .select(
        col("day"), col("n_rows"),
        lit("compact").as("action"),
        floor((col("cum") - col("n_rows")) / CompactTargetRows)
          .cast("long").as("bin"))
    keeps.unionAll(packed).orderBy(col("day"))
  }

  private val compactionPlanSql =
    s"""WITH f AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n_rows
       |  FROM events GROUP BY 1
       |), s AS (
       |  SELECT day, n_rows,
       |         SUM(n_rows) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM f WHERE n_rows < $CompactTargetRows
       |)
       |SELECT day, n_rows, 'keep' AS action, CAST(-1 AS BIGINT) AS bin
       |FROM f WHERE n_rows >= $CompactTargetRows
       |UNION ALL
       |SELECT day, n_rows, 'compact', CAST((cum - n_rows) // $CompactTargetRows AS BIGINT)
       |FROM s
       |ORDER BY day""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "compaction_plan"     -> QueryDef(compactionPlan, Some(compactionPlanSql)),
    "manifest_range_scan" -> QueryDef(manifestRangeScan, Some(manifestRangeScanSql)))
}
