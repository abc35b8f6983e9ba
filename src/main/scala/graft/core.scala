package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One engine query: a Spark DataFrame builder plus (when the semantics are
  * ANSI-SQL-expressible) an equivalent DuckDB oracle query over the same
  * parquet tables. Queries with no oracle get the driver's weaker
  * rows-only check.
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** Session factory with the engine's standard tuning. Local mode here, but
  * every knob is chosen to also be the right default on a real cluster:
  * AQE re-plans shuffles at runtime (partition coalescing + skew-join
  * splitting), shuffle partitions sized to the core count instead of the
  * 200 default, UTC so timestamp semantics match the DuckDB oracle.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // NB: adaptive.coalescePartitions.initialPartitionNum is left
      // UNSET deliberately: raising it globally makes every join's
      // shuffle side start at N ≠ the stored indexes' bucket count, and
      // the planner then DISABLES the bucketed scans and re-shuffles
      // both sides — exactly the corpus-sized exchange the bucketed
      // layout exists to avoid (measured: "Bucketed: false (disabled by
      // query planner)" on every probe at 256). Volume-aware partition
      // sizing is done locally where the optimizer is blind to it
      // (Dedup.pairCommonOf sizes the pair exchange from the measured
      // pair mass a generator is about to emit).
      // session_window aggs: merge sessions map-side so the shuffle
      // carries session partials, not raw events — on a duplicate-heavy
      // or hot-user corpus this collapses each input partition's
      // per-user rows before they ever move (measured: uniform 100×
      // events 15.3→13.5 s, hot-user skew neutral, semantics unchanged)
      .config("spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition", "true")
      // events.parquet has shipped as both INT64 TIMESTAMP(NANOS) and
      // timestamp[us]; the legacy flag makes the nanos encoding readable
      // (as BIGINT) and Tables.events normalizes either shape to epoch-µs.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Generated classes are cached per (context class loader, source).
      // With session artifact isolation on, every started stream runs its
      // tasks under a fresh executor class loader and recompiles all of
      // its classes (stream_mix_ingest 3 per run, stream_dedup_ingest 34);
      // this engine adds no per-session artifacts.
      .config("spark.sql.artifact.isolation.enabled", "false")

  /** Janino classes kept by Spark's JVM-global codegen cache (Spark's
    * default is 100). A warm pass over a working set larger than the LRU
    * recompiles all of it, and the reference pipeline's queries alone
    * generate ~175 classes. A full-registry sweep (228 queries, local[4])
    * compiles 2,969 distinct classes at sf0.001 and 2,956 at sf0.1; each
    * cached class retains ~27 KB of heap (used heap after GC, full cache
    * against the default), so a full cache holds ~105 MB.
    * Static conf: the cache is sized once per JVM, by whichever session
    * first touches CodeGenerator, so a bare session built first keeps 100.
    */
  private val CodegenCacheEntries = 4000
}

/** Parallelism floor for degenerate scan inputs (optimization guide
  * §2.5, "input skew: one huge unsplittable file … repartition
  * immediately after the read"). The driver testdata ships each table as
  * ONE parquet file with ONE row group, so every scan stage — and every
  * per-row kernel fused above it (tokenization, shingling, minhash
  * signing, rolling hashes, per-row checksums) — runs as a single task
  * no matter how many cores the session has. For such inputs one cheap
  * bounded round-robin exchange to `defaultParallelism` unlocks the
  * whole machine.
  *
  * Scale-adaptive by construction, not a local-mode constant: the fan
  * fires only when the source's TOTAL bytes are at most
  * [[Scans.DefaultMaxFanBytes]] (256 MiB ≈ two default scan splits),
  * i.e. exactly when (a) the scan cannot feed the cores by splitting
  * and (b) the exchange is bounded-cheap. Any production-sized
  * input skips it and the plan is byte-identical to before. Filters
  * still push through the Repartition to the parquet reader
  * (PushPredicateThroughNonJoin) and column pruning applies below it,
  * both plan-asserted in PlanAssertionsSpec.
  */
object Scans {
  /** Total bytes under `path` via the Hadoop FileSystem API, so the fan
    * decision also exists on HDFS/S3 (the old java.io.File walk returned
    * 0 there and silently disabled it). No memo: a regenerated source of
    * a different size must flip the fan/no-fan decision within the same
    * JVM (the adjacent Tables.schemaMemo is stamp-keyed for the same
    * reason), and the stat is one FS call per query CONSTRUCTION — the
    * same cost class as the sourceStamp walk Tables.table already pays.
    */
  private[graft] def bytesOf(spark: SparkSession, path: String): Long =
    try {
      val p  = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(st: org.apache.hadoop.fs.FileStatus): Long =
        if (st.isFile) st.getLen
        else fs.listStatus(st.getPath).map(walk).sum
      if (fs.exists(p)) walk(fs.getFileStatus(p)) else 0L
    } catch { case _: Throwable => 0L }

  private[graft] val DefaultMaxFanBytes: Long = 256L * 1024 * 1024

  /** Fan `df`, a scan of `table` under `dir`, out to the session's
    * parallelism when the table is small. The path comes from the
    * table-layout single source of truth ([[Tables.pathOf]]): a
    * hand-built path would silently disable the fan (bytesOf = 0) if
    * the layout ever changed.
    */
  def fanSmall(spark: SparkSession, df: DataFrame, dir: String, table: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val b      = bytesOf(spark, Tables.pathOf(dir, table))
    if (target > 1 && b > 0 && b <= DefaultMaxFanBytes) df.repartition(target) else df
  }
}

/** Loaders for the driver testdata tables ({sfDir}/{name}.parquet).
  * Plain parquet scans: Catalyst pushes filters/projections down to the
  * reader, so callers should NOT pre-select columns "for performance" —
  * declare the query and let column pruning do it.
  */
object Tables {
  /** Schema memo per parquet path: every schema-less spark.read.parquet
    * fires a footer-inference Spark JOB, so each of a query's table
    * scans was paying one tiny job per plan CONSTRUCTION — noise across
    * 200+ queries' plan builds and a violation of the job-free-explain
    * discipline for warm paths. First read per (path, source stamp)
    * infers and memoizes; later constructions pass the schema
    * explicitly. Stamp-keyed so regenerated testdata (the events ts
    * encoding has shipped in two physical types) re-infers instead of
    * pinning a stale schema.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), org.apache.spark.sql.types.StructType]()

  /** The one place a table name maps to its on-disk path. */
  def pathOf(dir: String, name: String): String = s"$dir/$name.parquet"

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = pathOf(dir, name)
    val sch = schemaMemo.computeIfAbsent(
      (path, graft.sources.DerivedCache.sourceStamp(path)),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  private val countMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Long]()

  /** Table row count memoized per (path, source stamp) for the
    * quadratic-anchor guards: the refusal check must not re-run a count
    * job on every DataFrame CONSTRUCTION (plan-only callers — explain,
    * spec plan asserts — were paying a full scan per build). Keyed like
    * `schemaMemo`, so a table rewritten in place is counted again.
    */
  def cachedCount(spark: SparkSession, dir: String, name: String): Long = {
    val path = pathOf(dir, name)
    countMemo
      .computeIfAbsent(
        (path, graft.sources.DerivedCache.sourceStamp(path)),
        _ => java.lang.Long.valueOf(table(spark, dir, name).count()))
      .longValue()
  }

  def region(s: SparkSession, d: String)    = table(s, d, "region")
  def nation(s: SparkSession, d: String)    = table(s, d, "nation")
  def customer(s: SparkSession, d: String)  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String)  = table(s, d, "supplier")
  def part(s: SparkSession, d: String)      = table(s, d, "part")
  def orders(s: SparkSession, d: String)    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String)  = table(s, d, "lineitem")
  /** events with `ts` normalized to epoch-MICROSECONDS BIGINT regardless
    * of the physical parquet encoding — the engine-wide µs convention
    * lives at this table boundary, not in per-query arithmetic. The
    * testdata has shipped `ts` as INT64 TIMESTAMP(NANOS) (read as BIGINT
    * nanos under nanosAsLong) and as timestamp[us] (read as
    * TIMESTAMP_NTZ); both arrive here as the same µs value DuckDB's
    * `epoch_us(ts)` oracle produces. Confs are runtime-settable, set
    * defensively so queries also work from a caller-built session (the
    * driver's entry() smoke) lacking GraftSession's config; UTC makes the
    * NTZ→timestamp cast deterministic.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(rawEvents(s, d))

  /** events scan with an epoch-µs half-open range [loUs, hiUs) applied
    * to the RAW ts column BEFORE normalization, so the predicate reaches
    * the parquet reader (row-group pruning, `PushedFilters` in the plan)
    * under every physical encoding. A filter on the normalized ts — a
    * DERIVED column after round 7 — cannot push down; at 100 TB that is
    * the difference between reading a day and reading the table.
    * EventsSchemaSpec plan-asserts the pushdown for both encodings.
    */
  def eventsBetween(s: SparkSession, d: String, loUs: Long, hiUs: Long): DataFrame = {
    val raw = rawEvents(s, d)
    val pred = raw.schema("ts").dataType match {
      case LongType =>
        // nanos bounds; saturating multiply so callers may pass open
        // sides as Long.MinValue / Long.MaxValue without overflow
        def ns(us: Long): Long =
          if (us >= Long.MaxValue / 1000) Long.MaxValue
          else if (us <= Long.MinValue / 1000) Long.MinValue
          else us * 1000
        col("ts") >= lit(ns(loUs)) && col("ts") < lit(ns(hiUs))
      case t @ (TimestampType | TimestampNTZType) =>
        // open sides (Long.MinValue/MaxValue, or anything a timestamp
        // literal cannot represent) are DROPPED, not clamped: a
        // timestamp_micros literal near ±Long.MaxValue µs overflows in
        // the Julian-rebase conversion (millis·1000 multiplyExact) the
        // moment the literal is materialized — found by the round-10
        // full-registry scale ledger on the timestamp-typed events
        // encoding (incremental_agg_merge's open-ended delta bound)
        val safeUs = Long.MaxValue / 1000
        val lo =
          if (loUs <= -safeUs) None
          else Some(col("ts") >= timestamp_micros(lit(loUs)).cast(t))
        val hi =
          if (hiUs >= safeUs) None
          else Some(col("ts") < timestamp_micros(lit(hiUs)).cast(t))
        (lo ++ hi).reduceOption(_ && _).getOrElse(lit(true))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported physical type $other")
    }
    normalizeTs(raw.filter(pred))
  }

  /** Reads the raw events scan, defensively pinning the two confs the
    * encoding dispatch depends on. NOTE the deliberate tradeoff: setting
    * the session timeZone to UTC mutates GLOBAL session state, which can
    * shift a caller's own non-events date arithmetic if their session ran
    * in another zone. UTC-everywhere is this engine's documented contract
    * (GraftSession pins it; every DuckDB oracle assumes it) and the NTZ→
    * µs cast is wrong under any other zone, so correctness for events
    * queries wins over zone transparency here.
    */
  private def rawEvents(s: SparkSession, d: String): DataFrame = {
    try {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.conf.set("spark.sql.session.timeZone", "UTC")
    } catch { case _: Throwable => () } // static-conf refusal: assume preset
    table(s, d, "events")
  }

  private def normalizeTs(raw: DataFrame): DataFrame = {
    val us = raw.schema("ts").dataType match {
      // legacy INT64 TIMESTAMP(NANOS) under nanosAsLong: exact long
      // division (nanos exceed 2^53, double arithmetic would corrupt them)
      case LongType         => expr("ts div 1000")
      case TimestampType    => unix_micros(col("ts"))
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported physical type $other (expected INT64 " +
            "nanos, TIMESTAMP, or TIMESTAMP_NTZ) — testdata schema drifted " +
            "past what Tables.events normalizes; extend the dispatch here")
    }
    raw.withColumn("ts", us)
  }
  def documents(s: SparkSession, d: String) = table(s, d, "documents")

  /** documents with the [[Scans.fanSmall]] parallelism floor — used by
    * the operators whose per-row kernel above the scan (n-gram scoring,
    * shingling + packed-posting pair expansion, char tokenization) is
    * heavy enough that the bounded exchange pays for itself. NOT applied
    * blanket at the table boundary: the A/B sweep measured consistent
    * regressions for plans whose heavy work starts after their first
    * key exchange anyway (the extra stage + AQE boundary costs more
    * than the parallelism buys on e.g. the substring strip tier and the
    * broadcast-building detector-agreement plan).
    */
  def documentsFanned(s: SparkSession, d: String): DataFrame =
    Scans.fanSmall(s, table(s, d, "documents"), d, "documents")
  def embeddings(s: SparkSession, d: String) = table(s, d, "embeddings")
}

/** Lineage truncation for iterative queries (PageRank, connected
  * components, Lloyd assignment reuse, multi-consumer pair frames).
  *
  * `localCheckpoint()` pins blocks to executors: fast, but on a real
  * cluster an executor loss kills the job instead of recomputing — the
  * wrong default for a 1000-executor deployment where losing one
  * machine over a multi-hour run is routine. `checkpoint()` writes to a
  * reliable store (HDFS/S3) and survives any executor loss, at the cost
  * of a write per cut.
  *
  * This helper picks per SESSION, conf-gated so the default stays
  * unchanged locally:
  *  - a checkpoint dir is available — `spark.graft.checkpoint.dir` is
  *    set, or the SparkContext already has one (via Spark's own
  *    `spark.checkpoint.dir` or an explicit `setCheckpointDir`) — →
  *    reliable `checkpoint()`;
  *  - otherwise → `localCheckpoint()` (single-JVM local mode, specs,
  *    the sandbox bench).
  * Checkpoint files follow Spark's standard lifecycle: cleaned by the
  * ContextCleaner when `spark.cleaner.referenceTracking.cleanCheckpoints`
  * is on, else left for the job owner's dir hygiene.
  */
object Ckpt {
  /** What this helper last applied, PER SparkContext (conf value is
    * session-scoped while setCheckpointDir is context-global, so a
    * JVM-global scalar mis-attributes across sessions/contexts). Value =
    * (conf dir we applied, the context dir that resulted) —
    * setCheckpointDir appends a UUID subdir, so recording the RESULT is
    * what lets a later call tell OUR stale dir from one the user set
    * themselves: after a conf set→unset cycle the context still points
    * at our UUID dir (→ fall back to local), but any user
    * `setCheckpointDir` mints a new UUID dir (→ honored, reliable).
    * Weak keys so a stopped context doesn't pin the entry.
    */
  private val applied = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.SparkContext, (String, String)])

  def cut(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val sc    = spark.sparkContext
    // plan-triage escape hatch (Profile's explain-only mode): skip the
    // cut entirely so query CONSTRUCTION stays lazy — an eager
    // checkpoint would execute the heaviest stage of exactly the query
    // being triaged, and explain() shows the full uncut tree anyway
    if (confOpt(spark, "spark.graft.lineageCut.disabled").exists(_.toLowerCase == "true"))
      return df
    confOpt(spark, "spark.graft.checkpoint.dir") match {
      case Some(d) =>
        val prev = applied.get(sc)
        if (prev == null || prev._1 != d || sc.getCheckpointDir.isEmpty) {
          sc.setCheckpointDir(d)
          applied.put(sc, (d, sc.getCheckpointDir.orNull))
        }
        df.checkpoint(eager)
      case None =>
        val prev = applied.get(sc)
        sc.getCheckpointDir match {
          case Some(cur) if prev == null || prev._2 != cur =>
            // a dir the user set (never through our conf, or re-pointed
            // after our conf was unset) — honor it
            df.checkpoint(eager)
          case _ => df.localCheckpoint(eager)
        }
    }
  }

  private def confOpt(spark: SparkSession, key: String): Option[String] =
    try spark.conf.getOption(key)
    catch { case _: Throwable => None }

  /** Chain-style sugar: `df.cutLineage()` ≡ `Ckpt.cut(df)`. */
  implicit final class CutOps(private val df: DataFrame) extends AnyVal {
    def cutLineage(eager: Boolean = true): DataFrame = cut(df, eager)
  }
}

/** Harness-side per-query state release. `spark.catalog.clearCache()`
  * drops persist()ed DataFrames but NOT localCheckpoint blocks — those
  * wait for the driver-side ContextCleaner, i.e. for a GC, so on a big
  * heap checkpoint blocks from iterative queries pile up in the block
  * manager across a multi-query run (the 100× probe measured
  * pagerank_parts at 39 s under that debt vs 15 s without). Unpersisting
  * every still-persistent RDD between queries makes the release
  * deterministic.
  */
object QueryState {
  def release(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}

/** Observable record of guard downgrades: when an exact small-scale
  * anchor (output-quadratic by design) receives an input above its cap,
  * it routes to its bounded sketch twin instead of throwing — a 100 TB
  * caller gets approximate results and a warning, not a crash. The last
  * downgrade is inspectable so specs can assert the routing fired.
  */
object Downgrades {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.Downgrades")
  @volatile private[graft] var last: Option[String] = None
  private[graft] def record(query: String, twin: String, n: Long, cap: Long): Unit = {
    val msg =
      s"$query: input has $n rows, above the exact-anchor cap $cap; " +
        s"routing to bounded sketch twin $twin (results are approximate)"
    last = Some(msg)
    log.warn(msg)
  }
}

/** Deterministic aggregation helpers.
  *
  * Floating-point SUM is order-dependent, and Spark's partial aggregation
  * order differs run-to-run and engine-to-engine — a double sum can never
  * hash-match a DuckDB oracle reliably. Casting each term to DECIMAL makes
  * the sum exact integer arithmetic (associative + commutative), so Spark
  * and DuckDB produce bit-identical results; we cast back to double at the
  * end. The same trick at 100 TB also removes run-to-run result jitter.
  */
object Det {
  /** 2-dp money values (o_totalprice, l_quantity, value): exact as-is. */
  val Money: DecimalType = DecimalType(18, 2)
  /** Derived double terms (price*(1-disc), products for corr): 10 dp is far
    * below one double ULP of these magnitudes, so the decimal rounding is
    * itself deterministic across engines.
    */
  val Fine: DecimalType = DecimalType(30, 10)

  def moneySum(c: Column): Column = sum(c.cast(Money)).cast("double")
  def fineSum(c: Column): Column  = sum(c.cast(Fine)).cast("double")

  /** Engine-portable rounding: floor(x·10^k + 0.5)/10^k. Built-in round()
    * differs between Spark (BigDecimal HALF_UP on the exact binary value)
    * and DuckDB at half-way boundaries; this formulation is pure IEEE
    * double arithmetic, so both engines produce the identical bit pattern.
    * SQL equivalent: floor((x)*1eK + 0.5)/1eK  (Det.roundSql).
    */
  def detRound(c: Column, k: Int): Column = {
    val p = math.pow(10.0, k)
    floor(c * p + lit(0.5)) / p
  }

  /** DuckDB-side twin of detRound. */
  def roundSql(e: String, k: Int): String = {
    val p = s"1e$k"
    s"floor(($e)*$p + 0.5)/$p"
  }

  /** Engine-portable 60-bit content hash of a string column as a
    * DECIMAL(38,0) term — safe to SUM without overflow. DuckDB twin:
    * ('0x' || substr(md5(e), 1, 15))::BIGINT. Used by the anti-entropy
    * checksum Quality.tableChecksum.
    */
  def md5h60Col(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(DecimalType(38, 0))
}
