package graft.tools

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only 10× scale probe: replicates the sf0.1 fact tables with
  * shifted entity keys (dimensions keep their cardinality — realistic
  * fact growth), then times the heavy queries on ~6M lineitem rows /
  * 1.5M orders / 1M events. Answers "does the plan survive a 10×
  * scale-up" with evidence rather than argument.
  */
object ScaleProbe {
  private val Src    = "/root/testdata/sf0.1"
  private val Copies = sys.env.getOrElse("SCALE_COPIES", "10").toInt
  private val SkewMode = sys.env.get("SCALE_SKEW").contains("1")
  // SCALE_EVENTS=1: replicate ONLY the events table (the engagement
  // tier's sole input) and copy every other table at 1× — a 100×
  // events probe shouldn't pay for building 100× lineitem/orders
  private val EventsMode = sys.env.get("SCALE_EVENTS").contains("1")
  // SCALE_ORDERS=1: replicate ONLY orders (the profile tier's sole
  // input) — a 100× orders_profile probe shouldn't build 100× lineitem
  private val OrdersMode = sys.env.get("SCALE_ORDERS").contains("1")
  // SCALE_DOCS_ONLY=1: replicate ONLY documents/embeddings (the dedup/
  // ANN tiers' sole inputs) at 1× everything else — a 300×-docs probe
  // shouldn't pay for building 300× lineitem/orders/events
  private val DocsOnlyMode = sys.env.get("SCALE_DOCS_ONLY").contains("1")
  private val Dest =
    if (DocsOnlyMode) s"/tmp/graft-scale-docsonly-x$Copies"
    else if (OrdersMode) s"/tmp/graft-scale-orders-x$Copies"
    else if (EventsMode)
      s"/tmp/graft-scale-events${if (SkewMode) "-skew" else ""}-x$Copies"
    else if (SkewMode) s"/tmp/graft-scale-skew-x$Copies"
    else if (sys.env.get("SCALE_DOCS").contains("1")) s"/tmp/graft-scale-docs-x$Copies"
    else s"/tmp/graft-scale-x$Copies"

  private def replicate(
      spark: SparkSession, df: DataFrame, shifts: Map[String, Long],
      copies: Int = Copies): DataFrame = {
    val replicas = (0 until copies).map { i =>
      shifts.foldLeft(df) { case (d, (c, base)) =>
        d.withColumn(c, col(c) + lit(i * base))
      }
    }
    replicas.reduce(_ union _)
  }

  def main(args: Array[String]): Unit = {
    val spark = QueryRecorder.session()

    if (!new java.io.File(s"$Dest/lineitem.parquet").exists()) {
      val K = 10_000_000L
      // SCALE_SKEW=1: deliberate hot keys — 1-in-97 orderkeys/user_ids
      // keep their original key in EVERY copy (items/events made
      // distinct via partkey shift / event_id shift), so ~1% of keys
      // carry Copies× the rows of the rest: the hot-key distribution a
      // Zipf-tailed 100 TB workload has. Uniform mode shifts every key.
      val commerceCopies = if (EventsMode || OrdersMode || DocsOnlyMode) 1 else Copies
      val ordersCopies   = if (EventsMode || DocsOnlyMode) 1 else Copies
      val eventsCopies   = if (OrdersMode || DocsOnlyMode) 1 else Copies
      val liReplicas = (0 until commerceCopies).map { i =>
        val li = Tables.lineitem(spark, Src)
        if (SkewMode && i > 0)
          // partkey shift FIRST (its hot test must see the original
          // orderkey, not the copy-shifted one)
          li.withColumn("l_partkey",
              when(col("l_orderkey") % 97 === 0, col("l_partkey") + lit(i * 2_000_000L))
                .otherwise(col("l_partkey")))
            .withColumn("l_orderkey",
              when(col("l_orderkey") % 97 === 0, col("l_orderkey"))
                .otherwise(col("l_orderkey") + lit(i * K)))
        else if (i == 0) li
        else li.withColumn("l_orderkey", col("l_orderkey") + lit(i * K))
      }
      liReplicas.reduce(_ union _)
        .write.mode(SaveMode.Overwrite).parquet(s"$Dest/lineitem.parquet")
      replicate(spark, Tables.orders(spark, Src),
        Map("o_orderkey" -> K, "o_custkey" -> K), ordersCopies)
        .write.mode(SaveMode.Overwrite).parquet(s"$Dest/orders.parquet")
      val evReplicas = (0 until eventsCopies).map { i =>
        val ev = Tables.events(spark, Src)
        if (SkewMode && i > 0)
          ev.withColumn("user_id",
              when(col("user_id") % 97 === 0, col("user_id"))
                .otherwise(col("user_id") + lit(i * K)))
            .withColumn("event_id", col("event_id") + lit(i * K))
        else if (i == 0) ev
        else ev.withColumn("user_id", col("user_id") + lit(i * K))
          .withColumn("event_id", col("event_id") + lit(i * K))
      }
      // write ts as a PROPER timestamp column: Tables.events emits epoch-µs
      // BIGINT, and a BIGINT ts in parquet re-enters the legacy-nanos
      // branch on the next read — a silent ÷1000 mis-scale on the replica
      evReplicas.reduce(_ union _)
        .withColumn("ts", timestamp_micros(col("ts")))
        .write.mode(SaveMode.Overwrite).parquet(s"$Dest/events.parquet")
      replicate(spark, Tables.customer(spark, Src), Map("c_custkey" -> K), commerceCopies)
        .write.mode(SaveMode.Overwrite).parquet(s"$Dest/customer.parquet")
      // documents/embeddings grow too (SCALE_DOCS=1): each copy keeps the
      // content but appends a copy-marker token / shifts ids — cross-copy
      // rows are near-dups of each other, which is exactly the shape a
      // duplicated 100 TB corpus has (and what makes exact all-pairs
      // methods blow up while the capped LSH paths stay bounded).
      if (sys.env.get("SCALE_DOCS").contains("1") || DocsOnlyMode) {
        val docReplicas = (0 until Copies).map { i =>
          Tables.documents(spark, Src)
            .withColumn("doc_id", col("doc_id") + lit(i * K))
            .withColumn("text", concat(col("text"), lit(s" copymark$i")))
        }
        docReplicas.reduce(_ union _)
          .write.mode(SaveMode.Overwrite).parquet(s"$Dest/documents.parquet")
        replicate(spark, Tables.embeddings(spark, Src), Map("vec_id" -> K))
          .write.mode(SaveMode.Overwrite).parquet(s"$Dest/embeddings.parquet")
      } else {
        Seq("documents", "embeddings").foreach { t =>
          Tables.table(spark, Src, t)
            .write.mode(SaveMode.Overwrite).parquet(s"$Dest/$t.parquet")
        }
      }
      Seq("part", "supplier", "nation", "region")
        .foreach { t =>
          Tables.table(spark, Src, t)
            .write.mode(SaveMode.Overwrite).parquet(s"$Dest/$t.parquet")
        }
      println("### scale data built")
    }

    // SCALE_CKPT_DIR=<dir>: probe the conf-gated reliable-checkpoint mode
    // (Ckpt.cut routes every lineage cut through checkpoint() to this
    // dir) so the fault-tolerant cluster configuration has a measured
    // overhead number, not just a spec — compare against the same probe
    // without the env for the localCheckpoint baseline.
    sys.env.get("SCALE_CKPT_DIR").foreach { d =>
      spark.conf.set("spark.graft.checkpoint.dir", d)
      println(s"### reliable checkpoint mode: $d")
    }

    // "ALL" = the full registry (the BASELINE.md per-query scale
    // ledger) — every registered query, alphabetical, one probe run
    val names =
      if (args.toSeq == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted
      else if (args.nonEmpty) args.toSeq
      else Seq(
        "also_bought_pairs", "revenue_by_category", "product_popularity",
        "top_spenders", "user_engagement", "engagement_vs_spend",
        "sessionize", "user_sessions_topk", "user_sessions_topk_custom",
        "revenue_by_region", "rfm")
    println(s"### heap max ${Runtime.getRuntime.maxMemory / (1 << 20)} MiB")
    // SCALE_REPEAT=k: time each query k times in-JVM and report every
    // rep — single-shot numbers at this scale carry 2-3× GC/page-cache
    // noise; the min over reps is the plan's cost, the spread is the
    // noise floor. Spill is read from task metrics: a memory-pressure run
    // (small SPARK_DRIVER_MEM) is only evidence if a query DEMONSTRABLY
    // spilled and still completed.
    val repeat = sys.env.getOrElse("SCALE_REPEAT", "1").toInt
    val ledger = scala.collection.mutable.LinkedHashMap[String, (Double, Long)]()
    QueryRecorder.using(spark) { rec =>
      // warm codegen infra
      rec.run("top_spenders", Dest, SparkEntry.queries("top_spenders"))
      names.foreach { n =>
        val stats = (1 to repeat).map { rep =>
          val r = rec.run(n, Dest, SparkEntry.queries(n))
          val spillMem  = r.memSpillBytes / (1 << 20)
          val spillDisk = r.diskSpillBytes / (1 << 20)
          r.error match {
            case Some(e) =>
              // fail-honest (the Bench contract): a broken query must
              // never land in the ledger as a fake near-zero timing
              println(s"### SCALE${Copies}x $n FAILED: ${e.getMessage}")
              (Double.NaN, 0L)
            case None =>
              println(f"### SCALE${Copies}x $n%-28s rep$rep ${r.wallS}%.2f s  gc ${r.gcMs / 1e3}%.1f s  spill mem ${spillMem}%d MiB disk ${spillDisk}%d MiB")
              (r.wallS, spillMem + spillDisk)
          }
        }
        val ok = stats.filterNot(_._1.isNaN)
        if (ok.nonEmpty) ledger(n) = (ok.map(_._1).min, ok.map(_._2).max)
        if (repeat > 1 && ok.nonEmpty)
          println(f"### SCALE${Copies}x $n%-28s min ${ok.map(_._1).min}%.2f s")
      }
    }
    // machine-readable ledger for tools/scale_ledger.py (BASELINE.md)
    val ledgerPath = s"/tmp/graft-scale-ledger-x$Copies${if (sys.env.get("SCALE_DOCS").contains("1")) "-docs" else ""}.json"
    val json = ledger.map { case (n, (s, sp)) =>
      val sec = String.format(java.util.Locale.ROOT, "%.3f", Double.box(s))
      s""""$n":{"sec":$sec,"spill_mib":$sp}"""
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(ledgerPath), json.getBytes("UTF-8"))
    println(s"### ledger written: $ledgerPath (${ledger.size} queries)")
    spark.stop()
  }
}
