package graft.sources

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Hive-style bucketed tables — the co-located-join layout for facts
  * that are repeatedly joined on the same key at 100 TB. Both sides are
  * written with `bucketBy(n, key)` + `sortBy(key)`; a subsequent
  * equi-join on that key is planned as a SortMergeJoin with ZERO
  * exchanges and zero sorts (bucket count and key line up, so
  * EnsureRequirements inserts nothing) — the shuffle is paid once at
  * write time, then every downstream join/aggregation on the key is
  * exchange-free. BucketingSpec asserts the no-Exchange plan and the
  * result parity against the plain shuffled join.
  *
  * This is the table-layout analog of Ingest.writePartitioned (which
  * targets partition-PRUNED scans; bucketing targets partition-ALIGNED
  * joins). Both compose: partitionBy(date) + bucketBy(key) is the
  * standard 100 TB fact layout.
  */
object Bucketing {

  // PER-TABLE monitors, not one global lock: a corpus-sized bucketed
  // write must not block an unrelated layout's already-built fast-path
  // registration (the same rule DerivedCache documents for its key
  // locks). Spark's catalog is itself thread-safe; the lock only makes
  // each table's exists-check/CREATE (and DROP/write) pair atomic.
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(table: String): Object =
    tableLocks.computeIfAbsent(table, _ => new Object)

  /** Deterministic catalog name for an external bucketed table at
    * `path`. The path already carries the DerivedCache content key, so
    * the name is unique per corpus stamp + layout version and never
    * stale: a rebuilt layout lands at a NEW path → a new table name.
    */
  private[graft] def tableNameFor(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    "graft_idx_" + md.digest(path.getBytes("UTF-8"))
      .take(12).map("%02x".format(_)).mkString
  }

  /** Write `df` as an external BUCKETED table of `buckets` buckets at
    * `path` — the layout that makes every later equi-join on `keys`
    * exchange-free on this side. bucketBy requires saveAsTable (catalog
    * metadata carries the bucket spec), so the table registers in the
    * session catalog AND the files land at `path`; the repartition puts
    * one file per bucket. The in-memory catalog dies with the session —
    * later sessions re-attach via [[readBucketed]].
    *
    * The bucket count must match on every table that wants
    * exchange-free joins against this one: where a join's two sides
    * differ in width, the narrower side is reshuffled to the wider. The
    * stored probe indexes therefore take theirs from
    * [[StoredIndex.buckets]]: the session's shuffle width, raised to
    * ceil(corpus bytes / 128 MiB) for a corpus larger than that many
    * scan splits — the delta side of a probe is then exchanged once, at
    * the width its own aggregation already uses.
    *
    * `aligned = true` skips the repartition: for a frame that is ALREADY
    * hash-clustered on `keys` at `buckets` partitions (e.g. the output
    * of an exchange-free join of two same-bucketed scans, or an
    * aggregation keyed on `keys` when shuffle partitions == buckets),
    * the user repartition is a redundant table-sized shuffle Spark will
    * not elide — compaction of a bucketed index must not pay it.
    * Alignment is a FILE-COUNT optimization, never a correctness
    * gamble: the bucketed writer derives each row's bucket id from its
    * key hash per row (sorting within tasks by bucket id), so a
    * misaligned caller only produces more files per bucket, and
    * bucketed reads group files by bucket id regardless.
    */
  def writeBucketedExternal(
      df: DataFrame, path: String, keys: Seq[String],
      buckets: Int, aligned: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val tbl = tableNameFor(path)
    lockFor(tbl).synchronized {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      (if (aligned) df else df.repartition(buckets, keys.map(col): _*))
        .write.mode(SaveMode.Overwrite)
        .option("path", path)
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .format("parquet")
        .saveAsTable(tbl)
    }
  }

  /** Read an external bucketed table written by [[writeBucketedExternal]],
    * (re-)registering it in THIS session's catalog when absent (the
    * in-memory catalog does not survive the JVM; the bucketed files
    * do — Spark recovers each row's bucket from the writer's file
    * naming). `schema` is explicit DDL: the layout is ours, and a
    * schema-less read would fire a footer-inference job per plan
    * construction.
    */
  def readBucketed(
      spark: SparkSession, path: String, keys: Seq[String], schema: String,
      buckets: Int): DataFrame = {
    val tbl = tableNameFor(path)
    lockFor(tbl).synchronized {
      if (!spark.catalog.tableExists(tbl)) {
        val ks = keys.mkString(", ")
        // single quotes in the path double-escape per the SQL string
        // literal rule — an unescaped quote (user-named tmpdirs on
        // macOS etc.) would break the statement while tableNameFor
        // already committed to this exact path string
        val loc = path.replace("'", "''")
        spark.sql(
          s"CREATE TABLE $tbl ($schema) USING parquet " +
            s"CLUSTERED BY ($ks) SORTED BY ($ks) INTO $buckets BUCKETS " +
            s"LOCATION '$loc'")
      }
    }
    spark.table(tbl)
  }

  /** Z-ordered (Morton) layout: sort the table along a space-filling
    * curve over two key expressions and write `files` range-partitioned
    * parquet files. Each file then covers a compact 2-D TILE of the key
    * space, so file/row-group min-max statistics prune on EITHER
    * dimension — a lexicographic (x, y) sort prunes only on x, and a
    * query filtering on y alone must read every file. At 100 TB this is
    * the difference between a time-range query over a user-sorted
    * events table scanning everything vs ~√files of it.
    * ZOrderSpec measures the per-file ranges of both layouts.
    */
  def writeZOrdered(
      df: DataFrame, path: String,
      xExpr: String, yExpr: String, files: Int): Unit = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("__z",
        org.apache.spark.sql.functions.expr(s"graft_morton(CAST(($xExpr) AS BIGINT), CAST(($yExpr) AS BIGINT))"))
      .repartitionByRange(files, org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Z-order TILE statistics over (user, day) — the registered-query
    * surface of the Morton kernel: every distinct (user_id, day) pair's
    * 62-bit Z-code, bucketed into curve tiles (code div 2^12 — sized so the
    * testdata's ~60-day × user key box spans many tiles), with
    * per-tile counts and key ranges. The oracle recomputes the bit
    * interleave arithmetically (Σ ((x>>i)&1)<<2i | ((y>>i)&1)<<(2i+1) —
    * exact BIGINT shifts, not float powers), so the codegen'd spread
    * tables are hash-checked bit for bit. The tile histogram is what a
    * layout optimizer consults to pick file split points.
    */
  def zorderTileStats(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    graft.Tables.events(spark, dir)
      // a Z-code needs both coordinates: NULL-user rows have no place
      // on the curve (a real writer reserves them a side partition) and
      // would diverge in NULL sort order (null_sweep hazard)
      .filter(col("user_id").isNotNull)
      .select(
        col("user_id"),
        expr("ts div 86400000000").as("day"))
      .distinct()
      .select(
        col("user_id"), col("day"),
        expr("graft_morton(user_id, day)").as("z"))
      .groupBy(expr("z div 4096").as("tile")) // INTEGER division: a double `/` loses bits past 2^53 on 62-bit codes
      .agg(
        count(lit(1)).as("n_pairs"),
        min(col("user_id")).as("min_user"),
        max(col("user_id")).as("max_user"),
        min(col("day")).as("min_day"),
        max(col("day")).as("max_day"))
      .orderBy(col("tile"))
  }

  private[sources] val zorderTileStatsSql =
    """WITH pairs AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |  WHERE user_id IS NOT NULL
      |), z AS (
      |  SELECT user_id, day,
      |         (SELECT SUM(((user_id >> i.i) & 1) << (2 * i.i))
      |                 + SUM(((day >> i.i) & 1) << (2 * i.i + 1))
      |          FROM (SELECT unnest(generate_series(0, 30)) AS i) i) AS z
      |  FROM pairs
      |)
      |SELECT CAST(z // 4096 AS BIGINT) AS tile,
      |       count(*) AS n_pairs,
      |       min(user_id) AS min_user, max(user_id) AS max_user,
      |       min(day) AS min_day, max(day) AS max_day
      |FROM z
      |GROUP BY 1
      |ORDER BY tile""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "zorder_tile_stats" -> QueryDef(zorderTileStats, Some(zorderTileStatsSql)))
}
