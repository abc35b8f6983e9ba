package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored, key-bucketed index tables under an LSM lifecycle — the one
  * implementation behind the three incremental dedup tiers (substring
  * postings, minhash sigs + band buckets, the CDC chunk store).
  *
  * Lifecycle, over the deterministic ingest split of the corpus:
  *   - BASE: the `doc_id % 10 < 8` docs, built once per source stamp;
  *   - SEG: batch 1 (`== 8`, "yesterday's ingest") written as its own
  *     bucketed segment — a batch-sized build, never a base rebuild;
  *   - COMPACT: base and segment folded table by table from the STORED
  *     tables alone (index-sized, never a corpus re-scan), written
  *     aligned: the merge joins two same-bucketed scans, so the output
  *     is already hash-clustered and the write shuffles nothing.
  * Batch 2 (`== 9`) is today's probe batch. Every table is bucketed by
  * its probe key, so a probe join exchanges only the delta side.
  *
  * Each level is a DerivedCache layout built lazily: reading one level
  * builds only that level, and compaction builds only its two inputs.
  * All levels of a tier are written at one bucket count ([[buckets]]),
  * carried in every level's fingerprint.
  */
object StoredIndex {

  // ------------------------------------------------------ bucket count

  /** Target corpus bytes per index bucket: Spark's default scan split
    * (`spark.sql.files.maxPartitionBytes`), so the bucket count grows
    * O(corpus / partition size) at scale.
    */
  private[graft] val IndexBucketBytes: Long = 128L * 1024 * 1024

  /** The bucket count for a `documentsBytes`-sized corpus in a session
    * whose exchanges are `shuffleWidth` wide. The session width is the
    * floor because it keeps the index side of a probe exchange-free:
    * `EnsureRequirements` keeps the child with the most partitions, so
    * an index narrower than the delta's aggregate exchange would be
    * reshuffled, while at equal width that exchange already satisfies
    * the join and no second one is planned.
    */
  private[graft] def bucketsFor(shuffleWidth: Int, documentsBytes: Long): Int =
    math.max(shuffleWidth, math.ceil(documentsBytes.toDouble / IndexBucketBytes).toInt)

  /** The bucket count of every stored-index layout over `src` in this
    * session: the session's shuffle width, raised for a corpus larger
    * than that many scan splits. The count is part of each level's
    * fingerprint, so base, segment and compacted layouts always agree
    * (compaction stays aligned and exchange-free) and a session of
    * another width opens its own layouts, never this count's tables.
    */
  def buckets(spark: SparkSession, src: String): Int =
    bucketsFor(
      spark.sessionState.conf.numShufflePartitions,
      graft.Scans.bytesOf(spark, graft.Tables.pathOf(src, "documents")))

  // ------------------------------------------------- the ingest split

  private def baseDocs(docs: DataFrame): DataFrame = docs.filter(col("doc_id") % 10 < 8)
  private def segDocs(docs: DataFrame): DataFrame = docs.filter(col("doc_id") % 10 === 8)
  /** Today's probe batch, checked against base AND segment. */
  def batchDocs(docs: DataFrame): DataFrame = docs.filter(col("doc_id") % 10 === 9)
  /** Segment ∪ batch: the delta the base-only incremental probes read. */
  def deltaDocs(docs: DataFrame): DataFrame = docs.filter(col("doc_id") % 10 >= 8)

  // ------------------------------------------------ tier declarations

  /** How one table folds its base and segment rows at compaction.
    * `fold` returns the merged rows (a superset of the stored columns);
    * `inBase` / `inSeg` / `crosser` are predicates over those rows that
    * the maintenance accounting reads: which input held a key, and
    * which keys the merge reclassifies.
    */
  final case class Merge(
      fold: (DataFrame, DataFrame) => DataFrame,
      inBase: Column = lit(true), inSeg: Column = lit(true),
      crosser: Column = lit(false))

  /** Segment doc sets are disjoint (a doc lands in exactly one batch), so
    * rows keyed by doc id simply concatenate. Written aligned, the union
    * of two bucketed scans is two bucket-pure files per bucket — a valid
    * bucketed layout (the writer derives bucket ids per row; readers
    * group files by bucket id).
    */
  val union: Merge = Merge(_ unionByName _)

  /** Keys under the cap in each input but over it once merged — the
    * silent degradation a segmented read carries until compaction.
    */
  def capCrosser(cap: Int): Column =
    col("da").isNotNull && col("db").isNotNull &&
      size(col("da")) > 0 && size(col("db")) > 0 &&
      size(col("da")) + size(col("db")) > cap

  /** The capped posting-list merge (`base_docs`, sorted doc ids; an EMPTY
    * list is the presence row of a key over `cap`). Closed under merge:
    * global size ≥ any segment's, so empty stays empty; two real lists
    * concat (disjoint doc sets) and re-cap — folding stored segments
    * equals a from-scratch build over their union, and the full-outer
    * join is exchange-free over two bucketed scans on `keys`. Output:
    * keys, `da`, `db` (the inputs' lists) and the merged `base_docs`.
    */
  def capped(keys: Seq[String], cap: Int): Merge = Merge(
    (a, b) => {
      val kc = keys.map(col)
      a.select(kc :+ col("base_docs").as("da"): _*)
        .join(b.select(kc :+ col("base_docs").as("db"): _*), keys, "full_outer")
        .select(kc ++ Seq(
          col("da"), col("db"),
          when(col("da").isNull, col("db"))
            .when(col("db").isNull, col("da"))
            .when(
              size(col("da")) === 0 || size(col("db")) === 0 ||
                size(col("da")) + size(col("db")) > cap,
              array().cast("array<bigint>"))
            .otherwise(sort_array(concat(col("da"), col("db"))))
            .as("base_docs")): _*)
    },
    col("da").isNotNull, col("db").isNotNull, capCrosser(cap))

  /** One bucketed table of a tier: path suffix under the layout dir,
    * bucket keys (= the probe key) and the explicit schema (a re-attach
    * never infers).
    */
  final case class Table(suffix: String, keys: Seq[String], ddl: String, merge: Merge) {
    private[StoredIndex] def columns: Seq[Column] =
      org.apache.spark.sql.types.StructType.fromDDL(ddl).fieldNames.toSeq.map(col)
  }

  /** One stored index tier. `base` / `seg` / `compact` name each
    * level's DerivedCache layout with its version; the fingerprint is
    * `params` plus the level's marker (`seg=8` for the two levels that
    * hold batch 1), the bucket count (`b=<n>`) and version. `build`
    * turns a doc frame into one frame per table, in `tables` order. The
    * LAST table carries the tier's maintenance accounting; `label` names
    * its maintenance row.
    */
  final case class Tier(
      label: String, params: String,
      base: (String, Int), seg: (String, Int), compact: (String, Int),
      tables: Seq[Table], build: DataFrame => Seq[DataFrame])

  sealed trait Level
  case object Base extends Level
  case object Seg extends Level
  case object Compact extends Level

  // ---------------------------------------------------------- layouts

  /** The layout dir of one level, built on first use. */
  def dir(spark: SparkSession, src: String, tier: Tier, level: Level): String =
    dirAt(spark, src, tier, level, buckets(spark, src))

  private def dirAt(spark: SparkSession, src: String, tier: Tier, level: Level, n: Int): String = {
    val ((name, v), marker) = level match {
      case Base    => (tier.base, "")
      case Seg     => (tier.seg, "seg=8;")
      case Compact => (tier.compact, "seg=8;")
    }
    val fp = (if (tier.params.isEmpty) "" else s"${tier.params};") + s"${marker}b=$n;v=$v"
    DerivedCache.dir(src, name, fp) { out =>
      level match {
        case Compact =>
          tier.tables.zip(folds(spark, src, tier)).foreach { case (t, m) =>
            Bucketing.writeBucketedExternal(
              m.select(t.columns: _*), s"$out/${t.suffix}", t.keys, n, aligned = true)
          }
        case _ =>
          val docs = graft.Tables.documents(spark, src)
          val frames = tier.build(if (level == Base) baseDocs(docs) else segDocs(docs))
          tier.tables.zip(frames).foreach { case (t, df) =>
            Bucketing.writeBucketedExternal(df, s"$out/${t.suffix}", t.keys, n)
          }
          frames.foreach(_.unpersist())
      }
      ()
    }
  }

  /** The tier's tables at one level, as bucketed scans. */
  def tables(spark: SparkSession, src: String, tier: Tier, level: Level): Seq[DataFrame] = {
    val n = buckets(spark, src)
    val d = dirAt(spark, src, tier, level, n)
    tier.tables.map(t => Bucketing.readBucketed(spark, s"$d/${t.suffix}", t.keys, t.ddl, n))
  }

  /** The levels a batch-2 probe reads, labelled as its verdicts name
    * them (`dup_tier`).
    */
  def probeLevels(spark: SparkSession, src: String, tier: Tier): Seq[(String, Seq[DataFrame])] =
    Seq("base" -> tables(spark, src, tier, Base), "seg1" -> tables(spark, src, tier, Seg))

  /** Every table's base ⊕ segment fold, read from the stored levels. */
  private def folds(spark: SparkSession, src: String, tier: Tier): Seq[DataFrame] = {
    val b = tables(spark, src, tier, Base)
    val s = tables(spark, src, tier, Seg)
    tier.tables.indices.map(i => tier.tables(i).merge.fold(b(i), s(i)))
  }

  /** The accounted table's base ⊕ segment fold (see [[Tier]]). */
  def merged(spark: SparkSession, src: String, tier: Tier): DataFrame =
    folds(spark, src, tier).last

  // ------------------------------------------------------- accounting

  /** The tier's one-row maintenance summary: base / segment key counts
    * and the cap-crosser mass, from the stored-table merge alone.
    */
  def maintenanceRow(spark: SparkSession, src: String, tier: Tier): DataFrame = {
    val m = tier.tables.last.merge
    merged(spark, src, tier)
      .agg(
        count(when(m.inBase, 1)).as("base_keys"),
        count(when(m.inSeg, 1)).as("seg_keys"),
        sum(when(m.crosser, 1L).otherwise(0L)).as("n_crossers"))
      .select(
        lit(tier.label).as("tier"),
        col("base_keys"), col("seg_keys"),
        coalesce(col("n_crossers"), lit(0L)).as("n_crossers"))
  }

  /** Compact a capped-list tier (building the compacted layout) and
    * report what the merge changed: per resulting key tier (`hot` /
    * unique / cold by the MERGED list size), the key count (named
    * `nKeys`), surviving posting entries, keys present in both inputs,
    * and the cap crossers.
    */
  def cappedCompaction(
      spark: SparkSession, src: String, tier: Tier,
      hot: String, nKeys: String): DataFrame = {
    dir(spark, src, tier, Compact) // build-once side effect (the layout)
    val m = tier.tables.last.merge
    merged(spark, src, tier)
      .select(
        when(size(col("base_docs")) === 0, hot)
          .when(size(col("base_docs")) === 1, "unique")
          .otherwise("cold").as("tier"),
        size(col("base_docs")).cast("long").as("entries"),
        when(m.inBase && m.inSeg, 1L).otherwise(0L).as("in_both"),
        when(m.crosser, 1L).otherwise(0L).as("crosser"))
      .groupBy(col("tier"))
      .agg(
        count(lit(1)).as(nKeys),
        sum(col("entries")).as("n_entries"),
        sum(col("in_both")).as("n_in_both"),
        sum(col("crosser")).as("n_cap_crossers"))
      .orderBy(col("tier"))
  }
}
