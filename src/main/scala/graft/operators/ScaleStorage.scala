package graft.operators

import graft.{QueryDef, Tables, TmpDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout scale patterns: the two Spark mechanisms that remove
  * work BEFORE it happens — bucketing (co-located joins with zero
  * exchange) and partitioned layout + dynamic partition pruning (runtime
  * file skipping driven by a join).
  *
  * Both queries build their layout inside the query (a temp dir written
  * once per invocation) so the oracle check exercises the full
  * write→catalog→read→join path; at 100 TB the write is the one-time
  * table-maintenance job and every subsequent join/scan gets the benefit.
  * WaveDSpec asserts the load-bearing physical properties: the bucketed
  * join plans ZERO shuffle exchanges between the scans and the join, and
  * the pruned scan carries a `dynamicpruning` partition filter.
  */
object ScaleStorage {

  /** Per-invocation layout id + DEFERRED cleanup of the previous
    * invocation's tables/dirs. The returned DataFrame is lazy — the
    * caller executes it AFTER the builder returns, so the layout a run
    * writes must outlive the builder; instead each run starts by
    * dropping the layout of the run before it (unique table names keep
    * concurrent sessions from colliding, the bounded-leak sweep keeps a
    * 257-query bench from accumulating 257 temp layouts). */
  private val laySeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private var lastBkt: Option[(SparkSession, Int, String)] = None
  private var lastDpp: Option[String] = None

  /** Co-located fact/fact join via bucketed tables.
    *
    * Both sides are written `bucketBy(8, orderkey)` + `sortBy`, each
    * pre-partitioned on the key so every bucket is exactly ONE file —
    * the layout under which Spark's bucketed scan reports
    * `HashPartitioning(orderkey, 8)` AND per-bucket sort order, so the
    * sort-merge join needs no exchange and no sort on either side. This
    * is the shape that makes a 100 TB fact⋈fact join shuffle-free: the
    * shuffle is paid once at write time (here: inside the query, ~2
    * narrow jobs) and amortized over every downstream join. The 8-bucket
    * count is the local stand-in for the cluster's
    * bucket-count ≈ data / target-partition-size sizing.
    *
    * Reference behavior: the mirror's catalog joins replay tables on
    * `id` (see `/root/reference/data_pipeline/npm-mirror/README.md`
    * catalog/audit join queries); this is the layout that keeps those
    * joins exchange-free at scale.
    */
  val bucketedJoin: QueryDef = QueryDef(
    "scale_bucketed_join_noshuffle",
    (s, dir) => {
      val n = synchronized {
        // cleanup of the PREVIOUS layout must never abort THIS query's
        // build: the recorded session may be stopped (or be a different
        // live session whose catalog we must not touch — only drop table
        // entries through the session that registered them). Failures
        // leave at most one orphan layout, reclaimed by the next
        // successful pass or the Bench/Verify tmp sweep (r12 advisory).
        lastBkt.foreach { case (ps, pn, pb) =>
          if ((ps eq s) && !ps.sparkContext.isStopped) {
            try {
              ps.sql(s"DROP TABLE IF EXISTS graft_bkt_orders_$pn")
              ps.sql(s"DROP TABLE IF EXISTS graft_bkt_lineitem_$pn")
            } catch { case _: Throwable => () }
            try TmpDirs.deleteRec(pb) catch { case _: Throwable => () }
          } else if (ps.sparkContext.isStopped) {
            // dead session: its catalog is gone, just reclaim the files
            try TmpDirs.deleteRec(pb) catch { case _: Throwable => () }
          }
          // ps live but != s: ANOTHER session may still be reading this
          // layout — leave it; that session's next invocation (or the
          // nonce-scoped tmp sweep after it exits) reclaims it.
        }
        laySeq.incrementAndGet()
      }
      val base = TmpDirs.create("graft-bkt")
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(8, col("o_orderkey")) // partition i == bucket i → 1 file/bucket
        .write.mode("overwrite").option("path", s"$base/orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(s"graft_bkt_orders_$n")
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          (col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
            .as("disc_price"))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").option("path", s"$base/lineitem")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"graft_bkt_lineitem_$n")
      synchronized { lastBkt = Some((s, n, base)) }
      s.table(s"graft_bkt_orders_$n").hint("merge")
        .join(s.table(s"graft_bkt_lineitem_$n"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("disc_price")).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """.stripMargin.trim))

  /** Dynamic partition pruning: month-partitioned fact layout + a join
    * against a filtered month→quarter dim prunes the fact scan to the 3
    * matching partition directories AT RUNTIME — the filter is on the
    * dim's derived `qtr` attribute, which static partition pruning
    * cannot see (no literal predicate on `o_month` exists anywhere in
    * the query). The dim is the distinct partition-column domain
    * (bounded: one row per month of the fixed date span) so it
    * broadcasts, and Spark reuses that broadcast as the pruning
    * subquery (`dynamicpruning` in the scan's PartitionFilters —
    * asserted by WaveDSpec). At 100 TB this is the difference between
    * scanning ~1/28th of the fact table and all of it. The
    * pre-write `repartition(o_month)` gives one file per partition dir
    * — the compacted layout a real table-maintenance job would produce.
    */
  val dppPrune: QueryDef = QueryDef(
    "scale_dpp_partition_prune",
    (s, dir) => {
      val base = synchronized {
        lastDpp.foreach(p => try TmpDirs.deleteRec(p) catch { case _: Throwable => () })
        val b = TmpDirs.create("graft-dpp")
        lastDpp = Some(b)
        b
      }
      Tables.orders(s, dir)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .repartition(col("o_month"))
        .write.mode("overwrite").partitionBy("o_month").parquet(s"$base/orders_pm")
      val fact = s.read.parquet(s"$base/orders_pm")
      val dim = fact.select(col("o_month")).distinct()
        .withColumn("qtr", concat(
          substring(col("o_month"), 1, 4), lit("-Q"),
          ((substring(col("o_month"), 6, 2).cast("int") - 1).divide(lit(3))
            .cast("int") + 1).cast("string")))
      fact
        .join(dim.filter(col("qtr") === "1995-Q1"), Seq("o_month"))
        .groupBy("o_month")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("revenue"))
        .orderBy("o_month")
    },
    Some("""
      SELECT strftime(o_orderdate, '%Y-%m') AS o_month, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1995-01' AND '1995-03'
      GROUP BY 1
      ORDER BY 1
    """.stripMargin.trim))

  /** Runtime bloom-filter join pruning — the row-level sibling of
    * [[dppPrune]] and the third leg of the pruning triptych (static
    * zonemap / runtime partition / runtime row): Spark's
    * `InjectRuntimeFilter` builds a bloom filter from the FILTERED dim
    * side (one selective brand, ~1/25 of parts) and pushes
    * `bloom_filter_might_contain` into the fact scan, killing ~96% of
    * lineitem rows BEFORE the join shuffle. The session child scopes
    * the thresholds down to local data volumes (the defaults assume
    * 10 GB scans — exactly the 100 TB regime where this fires on its
    * own) and disables broadcast so the shuffle join genuinely needs
    * the reduction. WaveESpec asserts the `might_contain` probe (fed by
    * a `bloom_filter_agg` scalar subquery) is in the optimized plan.
    */
  val runtimeBloom: QueryDef = QueryDef(
    "scale_runtime_bloom_filter",
    (s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dim = Tables.part(s, dir).filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey"), col("p_brand"))
      Tables.lineitem(s, dir)
        .select(col("l_partkey"),
          (col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
            .as("disc_price"))
        .join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          sum(col("disc_price")).cast("double").as("revenue"))
        .orderBy("p_brand")
    },
    Some("""
      SELECT p_brand, COUNT(*) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#23'
      GROUP BY p_brand
      ORDER BY p_brand
    """.stripMargin.trim))

  val defs: Seq[QueryDef] = Seq(bucketedJoin, dppPrune, runtimeBloom)
}
