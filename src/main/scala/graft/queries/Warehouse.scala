package graft.queries

import graft.{Sessions, Tables}
import graft.dims.LateDim
import graft.operators.Hierarchy
import graft.plans.{AggRewrite, DistinctElim, JoinElim}
import graft.util.Det
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse-depth operators beyond the reference's summary layer
  * (SURVEY §2.7a X153-X166): the aggregate navigator, late-arriving
  * dimensions, all three Kimball fact types (accumulating X155,
  * semi-additive X164, periodic-snapshot X165), functional-dependency
  * profiling, dynamic partition pruning, recursive hierarchy closure,
  * runtime bloom-filter join pruning, bitmap-index algebra, skyline
  * selection, and PK-FK join / distinct elimination. Every query is
  * oracle-gated (DuckDB SQL in [[oracles]]).
  */
object Warehouse {

  /** Deterministic scratch dir per SF for layout-dependent queries
    * (x138 writes a partitioned fact copy). Inside the repo's target/,
    * keyed by the SF dir so sf0.01 and sf0.1 runs never collide. */
  private[queries] def scratch(tag: String, sfDir: String): String =
    s"target/wh_${tag}_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** Shared cascade leg of the X190 pair (gate form AND the bench's
    * standing-parquet probe): plans the BI star query on a
    * `Sessions.withRules` clone whose optimizer runs PK-FK join
    * elimination (the part dim's key constraint) and then the aggregate
    * navigator (the summary), and REQUIRES the cascade fired — after
    * join-elim + navigator, the only file relation allowed in the
    * optimized plan is the standing summary itself (`summaryTag`; the
    * gate's checkpointed summary is a LogicalRDD, so it allows none).
    * The returned DataFrame belongs to the clone, so it re-plans under
    * the same rules wherever it runs, and no other query sees them. */
  def starBiCascade(s: SparkSession, d: String, li: DataFrame, mv: DataFrame,
                    summaryTag: Option[String]): DataFrame = {
    val p = Tables.part(s, d)
    val c = Sessions.withRules(s,
      JoinElim.rule(Seq(JoinElim.constraint(p, "p_partkey", referential = false))),
      AggRewrite.rule(Seq(AggRewrite.summaryFor(li, mv,
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity")))))
    val star = li.join(p, li("l_partkey") === p("p_partkey"), "left")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"),
        count(lit(1)).as("n_items"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sq").cast("double").as("sum_qty"), col("n_items"))
      .orderBy("l_returnflag", "l_linestatus")
    val out = org.apache.spark.sql.graft.PlanUtil.ofRows(c, star.queryExecution.logical)
    val survivors = out.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }
    val offending = summaryTag match {
      case Some(tag) => survivors.filterNot(_.contains(tag))
      case None => survivors
    }
    require(offending.isEmpty,
      "optimizer cascade did not fire: base relation(s) survive the " +
        s"rewrite: ${offending.mkString("; ")}")
    out
  }

  /** X200 core: per-status price stats computed THROUGH mergeable
    * per-shard partials (n, Σcents, Σcents² in decimal(38,0), min,
    * max). By construction the result is independent of `shardWidth` —
    * that invariance IS the mergeability contract (spec-pinned with
    * two widths), and the hash gate proves merge ≡ direct rescan. */
  def shardedStats(o: DataFrame, shardWidth: Int): DataFrame = {
    val xc = (col("o_totalprice").cast("decimal(18,2)") * 100)
      .cast("long") // exact cents
    val partials = o
      .withColumn("shard", expr(s"o_orderkey div $shardWidth"))
      .withColumn("xc", xc)
      .groupBy("shard", "o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("xc")).as("s1"),
        sum((col("xc") * col("xc")).cast("decimal(38,0)")).as("s2"),
        min(col("xc")).as("mn"), max(col("xc")).as("mx"))
    partials.groupBy("o_orderstatus")
      .agg(sum("n").as("n_rows"),
        sum("s1").as("s1"),
        sum("s2").cast("decimal(38,0)").as("s2"),
        min("mn").as("mn"), max("mx").as("mx"))
      .select(col("o_orderstatus"), col("n_rows"),
        (col("s1").cast("double") / 100.0).as("total"),
        (col("s1").cast("double") / (col("n_rows").cast("double") * 100.0))
          .as("mean"),
        expr("""(n_rows * s2 - CAST(s1 AS DECIMAL(38,0)) * s1)
                div (n_rows * n_rows * 10)""").as("var_pop_milli"),
        (col("mn").cast("double") / 100.0).as("min_price"),
        (col("mx").cast("double") / 100.0).as("max_price"))
      .orderBy("o_orderstatus")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X153: aggregate navigator — the optimizer routes a coarser
    // rollup (+ a dimension predicate) onto a standing materialized
    // summary instead of the fact scan. The require() makes the gate
    // honest: if the rewrite ever stops firing, the query FAILS rather
    // than silently computing the same answer the expensive way. The
    // oracle is the direct fact-scan SQL, so the hash gate proves
    // summary-routing ≡ direct aggregation. At 100 TB the summary has
    // |l_returnflag × l_linestatus| rows; the rewritten plan reads
    // kilobytes of standing rollup while the direct plan reads the
    // fact table — and ONLY the exact-decimal sum convention is
    // eligible (double sums don't re-aggregate associatively).
    "x133_mv_rewrite" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val groupCols = Seq("l_returnflag", "l_linestatus")
      val sumCols = Seq("l_quantity", "l_extendedprice")
      val mv = AggRewrite.summarize(li, groupCols, sumCols,
          minCols = Seq("l_shipdate"), maxCols = Seq("l_shipdate"))
        .localCheckpoint(eager = true) // the standing summary layer
      val summary = AggRewrite.summaryFor(li, mv, groupCols, sumCols,
        minCols = Seq("l_shipdate"), maxCols = Seq("l_shipdate"))
      val direct = li.filter(col("l_returnflag") =!= "N")
        .groupBy("l_returnflag")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).as("sq"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("sp"),
          min(col("l_shipdate")).as("first_ship"),
          max(col("l_shipdate")).as("last_ship"),
          count(lit(1)).as("n_items"))
      val routed = AggRewrite(s, direct, Seq(summary))
      // routed = Aggregate over the CHECKPOINTED summary (a LogicalRDD
      // leaf): if any file relation survives, the rewrite didn't fire
      // and the gate must FAIL rather than silently scan the fact
      val factScans = routed.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }
      require(factScans.isEmpty,
        s"aggregate navigator did not route onto the summary (still scans ${factScans.size} relation(s))")
      routed.select(
          col("l_returnflag"),
          col("sq").cast("double").as("sum_qty"),
          col("sp").cast("double").as("sum_price"),
          col("first_ship").cast("date").as("first_ship"),
          col("last_ship").cast("date").as("last_ship"),
          col("n_items"))
        .orderBy("l_returnflag")
    }),

    // X154: late-arriving dimension — facts referencing parts whose
    // dimension feed hasn't landed (simulated: every 97th part key is
    // "late") get INFERRED placeholder members so the fact load never
    // drops rows; when the real rows arrive, an SCD1 backfill replaces
    // the placeholders. The audit shows revenue attribution migrating
    // from the '(inferred)' bucket to real brands — the before/after
    // pair is the operator's observable contract. Scale: inferred-key
    // discovery is one map-combined distinct of the fact key
    // anti-joined against the dim (dimension-sized result); the
    // backfill never touches facts.
    "x134_late_dim" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val partFull = Tables.part(s, d)
      val snapshot = partFull.filter(col("p_partkey") % 97 =!= 0)
      val inferred = LateDim.inferMembers(li, snapshot, "l_partkey", "p_partkey",
        Seq("p_name" -> lit("(inferred)"), "p_brand" -> lit("(inferred)"),
            "p_type" -> lit("(inferred)"), "p_size" -> lit(0),
            "p_retailprice" -> lit(0.0)))
      val dim1 = snapshot.unionByName(inferred)
      val updates = partFull.join(inferred.select("p_partkey"), Seq("p_partkey"))
      val dim2 = LateDim.backfill(dim1, updates, "p_partkey")
      val rev = li.select(col("l_partkey").as("p_partkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("r"))
      def attribution(dim: DataFrame, phase: String): DataFrame =
        rev.join(dim.select("p_partkey", "p_brand"), Seq("p_partkey"))
          .groupBy("p_brand")
          .agg(Det.dsumExpr(col("r")).as("revenue"), count(lit(1)).as("n_items"))
          .withColumn("phase", lit(phase))
      attribution(dim1, "placeholder").unionByName(attribution(dim2, "backfilled"))
        .select("phase", "p_brand", "revenue", "n_items")
        .orderBy("phase", "p_brand")
    }),

    // X155: accumulating-snapshot fact — one row per order carrying
    // its milestone dates (order placed → first ship → last ship) and
    // the lags between them, the Kimball fact type the reference's
    // transaction-grain warehouse lacks. Orders with no shipped lines
    // keep NULL milestones (the open pipeline). The gate emits the
    // per-priority audit of the snapshot (counts + exact integer
    // day-lag sums) — each output column exercises one milestone
    // field. Scale: one map-combined min/max/count shuffle on the
    // order key + a key-partitioned join; the incremental rebuild
    // touches only orders with new lines since the last run (the k9
    // delta pattern).
    "x135_accum_snapshot" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val m = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(min("l_shipdate").as("first_ship"),
             max("l_shipdate").as("last_ship"),
             count(lit(1)).as("n_lines"))
      val snap = o.join(m, Seq("o_orderkey"), "left")
        .select(col("o_orderpriority"),
          datediff(col("first_ship"), col("o_orderdate")).as("lag_first"),
          datediff(col("last_ship"), col("first_ship")).as("span"),
          col("first_ship"), col("n_lines"))
      snap.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
             count(col("first_ship")).as("n_started"),
             sum(coalesce(col("lag_first"), lit(0))).as("sum_lag_days"),
             sum(coalesce(col("span"), lit(0))).as("sum_span_days"),
             max(col("span")).cast("long").as("max_span_days"),
             sum(coalesce(col("n_lines"), lit(0L))).as("n_lineitems"))
        .orderBy("o_orderpriority")
    }),

    // X156: functional-dependency profiling — does A determine B?
    // The schema-discovery pass (Metanome-style, restricted to declared
    // candidate pairs) that decides which columns can live on a
    // dimension at grain A vs must stay on the fact. Violated FDs are
    // as informative as held ones: o_custkey→o_orderpriority failing
    // says priority is an order attribute, not a customer attribute.
    // Each FD is a column-pruned distinct-pair pass + a group count —
    // the a26 pre-distinct discipline, never a multi-distinct Expand;
    // output is one row per candidate regardless of data size.
    "x136_fd_audit" -> ((s, d) => {
      def fd(df: DataFrame, lhs: String, rhs: String, name: String): DataFrame =
        df.select(col(lhs), col(rhs)).distinct()
          .groupBy(lhs).agg(count(lit(1)).as("k"))
          .agg(count(lit(1)).as("n_lhs"),
               sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_viol"),
               max(col("k")).as("max_rhs"))
          .select(lit(name).as("fd"), col("n_lhs"), col("n_viol"), col("max_rhs"),
            expr("n_viol * 1000000 div n_lhs").as("viol_ppm"))
      val o = Tables.orders(s, d); val li = Tables.lineitem(s, d)
      val c = Tables.customer(s, d); val p = Tables.part(s, d)
      fd(o, "o_orderkey", "o_custkey", "orders.o_orderkey->o_custkey")
        .unionByName(fd(o, "o_custkey", "o_orderpriority", "orders.o_custkey->o_orderpriority"))
        .unionByName(fd(li, "l_orderkey", "l_returnflag", "lineitem.l_orderkey->l_returnflag"))
        .unionByName(fd(li, "l_partkey", "l_suppkey", "lineitem.l_partkey->l_suppkey"))
        .unionByName(fd(c, "c_nationkey", "c_mktsegment", "customer.c_nationkey->c_mktsegment"))
        .unionByName(fd(p, "p_brand", "p_type", "part.p_brand->p_type"))
        .orderBy("fd")
    }),

    // X158: dynamic partition pruning — the fact is laid out
    // partitioned by ship month (the 100 TB layout), the month
    // dimension is filtered on a NON-partition attribute (quarter),
    // and Spark's runtime DPP subquery prunes the fact scan to the
    // dim-selected partitions before reading. The oracle computes the
    // same Q1 revenue from the flat table, so the hash gate proves the
    // pruned scan loses nothing. WarehouseOpsSpec pins the
    // DynamicPruningExpression in the fact scan's partition filters —
    // at scale this is the difference between reading 3 months and
    // reading the whole fact when the predicate lives on the dim.
    "x138_dpp" -> ((s, d) => {
      val path = scratch("dpp_fact", d)
      val li = Tables.lineitem(s, d)
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      // one file per month partition (repartition on the partition key),
      // not shuffle-partitions × months shards of tiny files; EXPLICIT
      // width, or AQE coalesces the tiny-bytes exchange to one task
      // writing every directory serially (the x199 lesson — directory
      // writes are commit-latency-dense per byte)
      li.repartition(s.sparkContext.defaultParallelism, col("ship_month"))
        .write.mode("overwrite").partitionBy("ship_month").parquet(path)
      val fact = s.read.parquet(path)
      val monthDim = li.select(col("ship_month")).distinct()
        .withColumn("quarter",
          expr("concat(substring(ship_month, 1, 4), '-Q', " +
               "(cast(substring(ship_month, 6, 2) as int) + 2) div 3)"))
      fact.join(monthDim.filter(col("quarter").endsWith("Q1")), Seq("ship_month"))
        .groupBy("ship_month")
        .agg(Det.dsumExpr(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
               .as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy("ship_month")
    }),

    // X160: runtime bloom-filter join pruning — the ROW-level companion
    // to x138's partition-level DPP: a selective dimension predicate
    // (urgent orders) is turned into a bloom filter that Spark's
    // InjectRuntimeFilter builds at run time and pushes into the fact
    // scan, so lineitem rows whose orderkey cannot join are dropped AT
    // THE SCAN instead of surviving to the shuffle. Broadcast is
    // disabled on the query's own session clone deliberately: the 100 TB
    // shape, where NEITHER side broadcasts and the bloom is what keeps
    // the fact-side shuffle delta-sized. The require() makes the gate
    // honest (x133 discipline): if injection ever stops, the gate
    // FAILS rather than silently running the unpruned join. The oracle
    // is the plain join SQL — the hash gate proves the bloom loses no
    // rows (one-sided filter: false positives only).
    "x140_runtime_filter" -> ((s0, d) => {
      val s = Sessions.withConf(s0,
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "512MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = Tables.lineitem(s, d)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(Det.dsumExpr(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
               .as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy("l_returnflag")
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.toLowerCase.contains("bloomfilter"),
        s"runtime bloom filter was not injected into the fact scan:\n$plan")
      joined
    }),

    // X161: bitmap-index algebra — the warehouse bitmap index (O'Neil
    // 1987 shape) built relationally: documents collapse to one BIGINT
    // bitmask per (value, 64-doc block) — `bit_or(1L << doc_id % 64)` —
    // and ad-hoc conjunctive counts are then answered ENTIRELY from
    // bitmap metadata: |lang ∧ source| = Σ_blocks bit_count(mask_lang &
    // mask_source), never rescanning the corpus. The oracle states the
    // naive GROUP BY count — the hash gate proves the popcount algebra
    // exact. At 100 TB the bitmap planes are (cardinality × corpus/64)
    // longs built once per low-cardinality column; every boolean
    // combination of indexed predicates after that is a metadata join,
    // which is why every serious warehouse keeps bitmap (or roaring)
    // indexes beside the zone maps (X140) and Blooms (X152).
    "x141_bitmap_index" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          expr("doc_id div 64").as("block"),
          expr("shiftleft(1L, cast(doc_id % 64 as int))").as("bit"))
      def plane(key: String): DataFrame = docs
        .groupBy(col(key), col("block"))
        .agg(bit_or(col("bit")).as(s"mask_$key"))
      plane("lang").join(plane("source"), Seq("block"))
        .groupBy("lang", "source")
        .agg(sum(bit_count(col("mask_lang").bitwiseAND(col("mask_source")))
               .cast("long")).as("n_pair"))
        .filter(col("n_pair") > 0)
        .orderBy("lang", "source")
    }),

    // X162: skyline / Pareto-frontier selection (Börzsönyi et al. 2001)
    // — multi-objective document selection: keep the docs not DOMINATED
    // on (token count, md5-derived score) — no other doc ≥ on both
    // dimensions and > on one. The naive definition is the all-pairs
    // NOT EXISTS the oracle states; the engine form exploits the
    // bounded first dimension: collapse to the (w, max q) grid (one
    // map-combined aggregate — the grid is token-count-sized METADATA
    // at any corpus size), one suffix-max window ON THE GRID (x113
    // discipline: windows only over bounded grids), and a join back on
    // (w, q = grid max). A grid point survives iff its max q strictly
    // beats every higher-w grid max (w' > w with q' ≥ q dominates; ties
    // at the same (w, q) never dominate each other and are all kept).
    // Hash gate proves grid refinement ≡ quadratic definition.
    "x142_skyline" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pts = Tables.documents(s, d)
        .select(col("doc_id"),
          size(graft.text.TextFunctions.tokens(col("text"))).cast("long").as("w"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")).as("q"))
        .filter(col("w") > 0)
      val grid = pts.groupBy("w").agg(max(col("q")).as("q"))
      val aboveMax = max(col("q")).over(
        Window.orderBy(col("w").asc)
          .rowsBetween(1, Window.unboundedFollowing)) // grid-sized: bounded
      val frontier = grid
        .withColumn("above", aboveMax)
        .filter(col("above").isNull || col("q") > col("above"))
        .select("w", "q")
      pts.join(frontier, Seq("w", "q"))
        .select("doc_id", "w", "q")
        .orderBy("doc_id")
    }),

    // X163: PK-FK join elimination — the second warehouse optimizer
    // rewrite beside x133's navigator: a BI-generated star query joins
    // the part dimension but reads no part column, so under the
    // DECLARED constraints (part unique on p_partkey; referential
    // integrity l_partkey → p_partkey — exactly what the q_fk_orphan
    // audit measures) the join cannot change the result and
    // plans/JoinElim drops it. The require() pins that the rewritten
    // plan scans ONE relation (the fact); the oracle states the query
    // WITH the join, so the hash gate proves elimination loses
    // nothing. At 100 TB: no dim broadcast build+probe per executor
    // per batch, and no risk of the dim edge degrading to a shuffle.
    "x143_join_elim" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      val c = JoinElim.constraint(p, "p_partkey", referential = true)
      val starQuery = li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
             count(lit(1)).as("n_items"))
      val routed = JoinElim(s, starQuery, Seq(c))
      val scans = routed.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }
      require(scans.size == 1,
        s"join elimination did not fire (plan scans ${scans.size} relations)")
      routed.orderBy("l_returnflag")
    }),

    // X164: semi-additive balance rollup — the Kimball measure type
    // that is additive across ACCOUNTS but not across TIME (a balance
    // summed over months is meaningless): per (customer, month) take
    // the LAST order's total price as the month-end balance (latest
    // o_orderdate, o_orderkey tiebreak — fully deterministic), then
    // roll up across customers per month. The last-value step is a
    // (customer, month)-partitioned window — key-partitioned, never
    // corpus-wide; the rollup is one map-combined aggregate. The
    // oracle states the same QUALIFY row_number() form.
    "x144_semi_additive" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, d)
        .select(col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
      val w = Window.partitionBy("o_custkey", "month")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val monthEnd = o.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      monthEnd.groupBy("month")
        .agg(count(lit(1)).as("n_accounts"),
             sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
               .as("total_balance"))
        .orderBy("month")
    }),

    // X165: periodic-snapshot fact — the third Kimball fact type,
    // completing the trio (transaction grain = the reference's own
    // warehouse; accumulating = x135; periodic = this): every
    // customer's balance AS OF each month end, with months of no
    // activity carrying the last observed balance forward (x88's LOCF
    // discipline — a balance persists through silent months, a spend
    // does not). The ORACLE states the naive definition — the dense
    // customer × month spine with an IGNORE-NULLS carry window. The
    // engine NEVER builds that spine: a carried balance is a step
    // function, so the monthly rollup telescopes from per-customer
    // BALANCE DELTAS (b − lag(b) over each customer's OWN sparse
    // balance months) summed per month and cumulated once over the
    // bounded month grid (the x113/x121 grid discipline — the only
    // un-partitioned window is ~dozens of rows at any corpus size).
    // Deltas are exact decimals, so the telescoped totals are
    // bit-identical to the spine form — the hash gate PROVES delta ≡
    // dense-LOCF. At 100 TB: balance-event-sized work instead of a
    // customers × months materialization; n_accounts is monotone
    // nondecreasing by construction (spec-pinned).
    "x145_periodic_snapshot" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, d)
        .select(col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
      val w = Window.partitionBy("o_custkey", "month")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val monthEnd = o.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("month"),
          col("o_totalprice").cast("decimal(18,2)").as("balance"))
      val wc = Window.partitionBy("o_custkey").orderBy("month")
      val deltas = monthEnd.select(col("month"),
        (col("balance") -
          coalesce(lag(col("balance"), 1).over(wc),
            lit(0).cast("decimal(18,2)"))).as("delta"),
        when(lag(col("balance"), 1).over(wc).isNull, 1L).otherwise(0L)
          .as("new_acct"))
      val perMonth = deltas.groupBy("month")
        .agg(sum(col("delta")).as("d_bal"), sum(col("new_acct")).as("d_acct"))
      val grid = Window.orderBy("month") // bounded month grid, x113 discipline
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perMonth.select(col("month"),
          sum(col("d_acct")).over(grid).as("n_accounts"),
          sum(col("d_bal")).over(grid).cast("double").as("total_balance"))
        .orderBy("month")
    }),

    // X166: distinct elimination on declared unique keys — the third
    // optimizer rewrite: generated queries wrap subselects in DISTINCT
    // defensively; when the distinct set contains a declared unique
    // key (o_orderkey — the PK the q_k audit family can verify), the
    // operator is a no-op that Spark would still plan as a corpus-wide
    // hash-aggregate shuffle. plans/DistinctElim drops it; the
    // require() pins that no Deduplicate survives AND exactly one
    // Aggregate remains (the real rollup); the oracle states the query
    // WITH the DISTINCT.
    "x146_distinct_elim" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val uk = DistinctElim.unique(o, "o_orderkey")
      val q = o.select("o_orderkey", "o_custkey", "o_orderpriority")
        .distinct() // no-op under the declared PK
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
             min(col("o_orderkey")).as("min_key"),
             max(col("o_orderkey")).as("max_key"))
      val routed = DistinctElim(s, q, Seq(uk))
      val analyzed = routed.queryExecution.analyzed
      val dedups = analyzed.collect {
        case dd: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => dd
      }
      require(dedups.isEmpty,
        "distinct elimination did not fire (Deduplicate still planned)")
      routed.orderBy("o_orderpriority")
    }),

    // X159: recursive hierarchy closure — (node → root, depth) over a
    // parent-pointer dimension via pointer doubling (⌈log₂ depth⌉
    // self-joins, not depth-many descent rounds; operators/Hierarchy).
    // The hierarchy is derived deterministically from the customer dim
    // (parent = c_custkey div 8, key 0 the root). The oracle is the
    // recursive CTE every SQL warehouse writes for this; the gate
    // output rolls account balance up by depth, exercising root, depth
    // and the bridge join. n_roots uses the pre-distinct pass, not a
    // distinct aggregate.
    "x139_hierarchy" -> ((s, d) => {
      val c = Tables.customer(s, d).select(
        col("c_custkey").as("id"),
        when(col("c_custkey") === 0, lit(null).cast("long"))
          .otherwise(expr("c_custkey div 8")).as("parent"),
        col("c_acctbal"))
      val cl = Hierarchy.closure(c.select("id", "parent"), "id", "parent", maxDepth = 64)
      val byDepth = cl.groupBy("depth").agg(count(lit(1)).as("n_nodes"))
      val roots = cl.select("depth", "root").distinct()
        .groupBy("depth").agg(count(lit(1)).as("n_roots"))
      val bal = cl.join(c.select(col("id"), col("c_acctbal")), Seq("id"))
        .groupBy("depth").agg(Det.dsum(col("c_acctbal")).as("sum_bal"))
      byDepth.join(roots, Seq("depth")).join(bal, Seq("depth"))
        .select(col("depth"), col("n_nodes"), col("n_roots"), col("sum_bal"))
        .orderBy("depth")
    }),

    // X168: weighted-allocation bridge table — the Kimball answer to a
    // header-grain measure that must be spent at line grain (freight,
    // header discounts, here the order total): allocate o_totalprice
    // across the order's lineitems proportional to extended-price
    // share, INTEGER-EXACT in cents via largest-remainder
    // apportionment (floored shares; the leftover cents go to the
    // lines with the largest division remainders, linenumber
    // tiebreak). Conservation holds by construction — Σ allocations
    // per order == the order's total cents EXACTLY, never "≈ up to
    // float drift" (WarehousePatternsSpec pins it on every order).
    // Scale: one l_orderkey-partitioned window pass (per-order
    // partitions are ≤7 lines in TPC-H and order-bounded anywhere);
    // the brand rollup is one map-combined aggregate. The oracle
    // restates the same apportionment in SQL, so the hash gate proves
    // the allocation deterministic cross-engine.
    "x148_bridge_alloc" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lines = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("w"))
      val heads = Tables.orders(s, d).select(
        col("o_orderkey").as("l_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("tc"))
      val byOrder = Window.partitionBy("l_orderkey")
      val ranked = lines.join(heads, Seq("l_orderkey"))
        .withColumn("sw", sum(col("w")).over(byOrder))
        .withColumn("base", expr("(tc * w) div sw"))
        .withColumn("fr", expr("(tc * w) % sw"))
        .withColumn("rem", col("tc") - sum(expr("(tc * w) div sw")).over(byOrder))
        .withColumn("rk", row_number().over(
          byOrder.orderBy(col("fr").desc, col("l_linenumber"))))
      val alloc = ranked.select(
        col("l_partkey").as("p_partkey"),
        (col("base") + when(col("rk") <= col("rem"), 1L).otherwise(0L)).as("alloc"))
      alloc.join(Tables.part(s, d).select("p_partkey", "p_brand"), Seq("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(col("alloc")).as("alloc_cents"), count(lit(1)).as("n_lines"))
        .orderBy("p_brand")
    }),

    // X169: factless coverage fact — the Kimball fact type with NO
    // measure: the (nation × month) coverage grid records what COULD
    // have happened, and the gap report (nation-months with zero
    // orders) is an anti-join of the grid against actual activity —
    // a question the transaction fact alone cannot answer (absent rows
    // don't exist to group). Scale: the fact collapses map-combined to
    // its (nation, month) ACTIVITY grain in one shuffle; the grid is
    // |nations| × |months| metadata crossed against a BROADCAST month
    // frame (BroadcastNestedLoopJoin, never CartesianProduct — the
    // surface lint pins this), so nothing corpus-sized is ever built.
    "x149_factless_coverage" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val act = o.join(Tables.customer(s, d), o("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("a_nat"),
          date_format(col("o_orderdate"), "yyyy-MM").as("a_month"))
        .distinct()
      val months = o.select(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .distinct()
      val grid = Tables.nation(s, d).select("n_nationkey", "n_name")
        .crossJoin(broadcast(months))
      grid.join(act,
          col("n_nationkey") === col("a_nat") && col("month") === col("a_month"),
          "left")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_months"),
             count(col("a_month")).as("n_active"),
             sum(when(col("a_month").isNull, 1L).otherwise(0L)).as("n_gap"),
             coalesce(min(when(col("a_month").isNull, col("month"))), lit(""))
               .as("first_gap"))
        .orderBy("n_name")
    }),

    // X170: SCD Type 3 — the previous-value attribute pair (current +
    // prior, one alternate-reality column instead of SCD2's full
    // history): each order is a change event to its customer's
    // priority preference; the type-3 dim keeps the latest and the
    // one-before value per customer (row_number ≤ 2 over the
    // customer's change stream, fully deterministic tiebreaks). The
    // gate emits the bounded current × previous transition matrix —
    // '(none)' marks single-change customers, the row SCD3 must keep
    // NULL-prior rather than dropping. Scale: one custkey-partitioned
    // window + two bounded aggregates; the dim stays customer-grain.
    "x150_scd3" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(max(when(col("rn") === 1, col("o_orderpriority"))).as("curr"),
             max(when(col("rn") === 2, col("o_orderpriority"))).as("prev_raw"))
        .select(col("curr"), coalesce(col("prev_raw"), lit("(none)")).as("prev"))
        .groupBy("curr", "prev").agg(count(lit(1)).as("n_customers"))
        .orderBy("curr", "prev")
    }),

    // X171: mini-dimension (Kimball Type 4) — rapidly-changing /
    // wide-band customer attributes split into their own small
    // "profile" dimension (balance band × segment × region) with
    // surrogate keys assigned by ordinal rank over the DISTINCT combo
    // table, so the hot attributes version independently of the
    // million-row customer dim. The gate emits the profile dim with
    // its usage counts — customers per profile, plus order count and
    // exact-decimal revenue reaching each profile through the fact.
    // Scale: the combo table is bands × segments × regions BOUNDED
    // metadata at any corpus size (the surrogate-rank window runs over
    // it alone — SurfaceWindowLintSpec exemption by that bound);
    // profile assignment is a broadcast join; the orders rollup
    // shuffles once on custkey.
    "x151_minidim" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val prof = Tables.customer(s, d)
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"),
          floor(col("c_acctbal") / lit(1000.0)).cast("long").as("bal_band"),
          col("c_mktsegment").as("segment"), col("r_name").as("region"))
      val dim = prof.select("bal_band", "segment", "region").distinct()
        .withColumn("profile_key",
          row_number().over(Window.orderBy("bal_band", "segment", "region")))
      val cust = prof.join(broadcast(dim), Seq("bal_band", "segment", "region"))
        .select("c_custkey", "profile_key")
      val byCust = cust.groupBy("profile_key").agg(count(lit(1)).as("n_customers"))
      val byOrder = Tables.orders(s, d)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("profile_key")
        .agg(count(lit(1)).as("n_orders_raw"),
             sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      dim.join(byCust, Seq("profile_key")).join(byOrder, Seq("profile_key"), "left")
        .select(col("profile_key"), col("bal_band"), col("segment"), col("region"),
          col("n_customers"),
          coalesce(col("n_orders_raw"), lit(0L)).as("n_orders"),
          coalesce(col("rev"), lit(0).cast("decimal(18,2)")).cast("double")
            .as("revenue"))
        .orderBy("profile_key")
    }),

    // X172: role-playing date dimension — ONE physical date dim joined
    // under two logical roles (order date, ship date), the standard
    // warehouse alternative to cloning calendar tables per role. The
    // gate emits the (order quarter × ship quarter) revenue matrix —
    // the lag structure only a two-role join can produce. Scale: the
    // dim is calendar-bounded (~10³ rows/decade) and BROADCAST under
    // both roles, so the fact is scanned once and never shuffled for
    // either calendar edge; the matrix output is quarter² bounded.
    "x152_role_playing" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val dates = o.select(col("o_orderdate").cast("date").as("dd"))
        .union(li.select(col("l_shipdate").cast("date").as("dd")))
        .distinct()
      val dim = dates.select(col("dd"),
        concat(year(col("dd")).cast("string"), lit("-Q"),
          quarter(col("dd")).cast("string")).as("q"))
      val fact = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderdate").cast("date").as("od"),
          col("l_shipdate").cast("date").as("sd"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("r"))
      fact
        .join(broadcast(dim.select(col("dd").as("od"), col("q").as("order_quarter"))),
          Seq("od"))
        .join(broadcast(dim.select(col("dd").as("sd"), col("q").as("ship_quarter"))),
          Seq("sd"))
        .groupBy("order_quarter", "ship_quarter")
        .agg(count(lit(1)).as("n_items"), Det.dsumExpr(col("r")).as("revenue"))
        .orderBy("order_quarter", "ship_quarter")
    }),

    // X173 (pair): the DIRECT form of the 5-way dimension chain — the
    // order a BI tool writes it (fact first), which is the order
    // Catalyst KEEPS absent CBO stats: the full lineitem⋈orders join
    // runs before any region selectivity applies, and 100% of fact
    // rows survive to the customer join where 80% die. Both pair rows
    // merge-hint the joins whose build side is fact- or
    // customer-sized (at 100 TB neither orders nor customer fits a
    // broadcast — at gate SF AQE would happily broadcast both, hiding
    // the shuffle structure the pair exists to measure; the 25-row
    // nation/region dims stay broadcast in BOTH rows, as any engine
    // would run them). The direct form re-shuffles the joined fact
    // stream on the customer key; x153 removes that. Same oracle.
    "q_chain_direct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).hint("shuffle_merge"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).hint("shuffle_merge"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_items"),
          Det.dsumExpr(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy("n_name")),

    // X173: Yannakakis semi-join reduction on the acyclic dimension
    // chain region → nation → customer → orders → lineitem: the root
    // predicate (r_name = 'EUROPE') propagates DOWN the chain one
    // join at a time before the fact edge runs, so every intermediate
    // is output-bounded (the Yannakakis guarantee). This is the
    // MULTI-HOP completion of X160's runtime bloom filter:
    // InjectRuntimeFilter pushes a dim predicate one join deep; a
    // 4-deep chain needs the reduction written as the plan. The
    // down-pass carries only NARROW int keys (the n_name decode joins
    // the 25-row dim AFTER the aggregate), and the fact stream is
    // shuffled exactly ONCE, on its own join key — the direct form
    // re-shuffles the full joined fact stream on the customer key.
    // Same merge-hint regime as q_chain_direct (the 100 TB shape;
    // the pair's delta is the structure, not a broadcast-threshold
    // accident). Measured at sf1: the reduction removes one
    // 6M-row exchange+sort; the BENCH pair is the evidence.
    "x153_yannakakis" -> ((s, d) => {
      val eurNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val custRed = Tables.customer(s, d)
        .join(broadcast(eurNations.select("n_nationkey")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey").as("nk"))
      val ordRed = Tables.orders(s, d)
        .join(custRed.hint("shuffle_merge"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("nk"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("r"))
        .join(ordRed.hint("shuffle_merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("nk")
        .agg(count(lit(1)).as("n_items"), Det.dsumExpr(col("r")).as("revenue"))
        .join(broadcast(eurNations), col("nk") === col("n_nationkey"))
        .select(col("n_name"), col("n_items"), col("revenue"))
        .orderBy("n_name")
    }),

    // X190 (pair): the BI star query a reporting tool generates —
    // joins a dimension it never reads (part), groups at the rollup
    // grain — run EXACTLY as written, no rewrites. This is the direct
    // leg of the optimizer-cascade pair: the join builds and probes
    // the dim and the aggregate scans the full fact table.
    "q_star_bi_plain" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      li.join(p, li("l_partkey") === p("p_partkey"), "left")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"),
          count(lit(1)).as("n_items"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sq").cast("double").as("sum_qty"), col("n_items"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // X190: the SAME BI text under the full optimizer-rule cascade
    // (both rules on a Sessions.withRules clone, the path
    // RewriteCascadeSpec pins): PK-FK join elimination drops the
    // never-read dim join, exposing an Aggregate-over-base that the
    // aggregate navigator then routes onto the standing summary —
    // within one fixed-point optimizer batch, no per-plan calls. The
    // require() keeps the gate honest (x133 discipline): if either
    // rule stops firing, a base relation survives in the optimized
    // plan and the query FAILS instead of silently computing the same
    // answer the expensive way. The oracle is the direct star SQL, so hash
    // equality proves cascade ≡ direct. At 100 TB the rewritten plan
    // reads a |returnflag × linestatus|-row summary instead of the
    // fact table AND skips the dim build/probe per executor — the
    // zero-fact-scan path a summary layer exists for; the bench times
    // this leg over a standing parquet summary beside q_star_bi_plain
    // (the x153/q_chain_direct measured-pair discipline).
    "x166_star_bi_cascade" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val mv = AggRewrite.summarize(li, Seq("l_returnflag", "l_linestatus"),
          Seq("l_quantity"))
        .localCheckpoint(eager = true) // the standing summary layer
      starBiCascade(s, d, li, mv, summaryTag = None)
    }),

    // X200: incremental statistics maintenance — x85's ANALYZE pass
    // recomputes column stats by rescanning the table; a warehouse
    // instead stores MERGEABLE partials per ingest shard (n, Σx, Σx²
    // in exact decimals, min, max) and refreshes global stats by
    // merging the shard table — new data touches only its own shard's
    // partial, never the history (the x162 sketch-rollup discipline
    // applied to moments). Variance needs Σx² BECAUSE it is the
    // mergeable form — per-shard variances don't combine, the sum of
    // squares does. The gate computes per-status stats THROUGH the
    // shard partials; the oracle computes them directly from the
    // table, so hash equality proves merge ≡ rescan. ALL-INTEGER
    // moments in the CENTS domain: the textbook E[x²]−mean² form
    // subtracts two ~1e15 doubles and amplifies a last-ulp
    // decimal→double rounding difference between engines (measured:
    // hash-mismatched at sf0.1), so the variance is instead the exact
    // integer rational (n·Σx² − (Σx)²)/(n²) computed in decimal(38,0)
    // cents² and floored to milli-dollars² — bit-identical anywhere.
    "x175_incremental_stats" -> ((s, d) =>
      shardedStats(Tables.orders(s, d), shardWidth = 4096)),

    // X204: snapshot-consistent MULTI-TABLE as-of read — x157 time-
    // travels ONE table; a report joining fact and dim must read BOTH
    // at the SAME version or it mixes states (the classic torn read:
    // today's orders against yesterday's customer segments). Both
    // tables carry versioned change sets (orders: v1 price updates,
    // v2 insert clones; customer: v1 segment moves, v2 tombstones),
    // each reconstructs at version v with the same one-aggregate
    // max(struct(version, del_pri, …)) merge as x157 (delete priority
    // inside the struct — tombstones win same-version ties), and the
    // JOIN runs on the two same-v states. The v2 row proves the
    // consistency property observably: orders of customers deleted at
    // v2 leave the report exactly when the dim side is read at v2.
    // At 100 TB both merges are version-partition-pruned scans (the
    // x157 layout) and the join is the ordinary fact⋈dim plan — the
    // operator is the VERSION COORDINATION, not a new join.
    "x179_snapshot_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val ok = col("o_orderkey")
      val price = col("o_totalprice").cast("decimal(18,2)")
      // orders: v0 base, v1 = +50 updates on k%7==3, v2 = clone
      // inserts (k%23==5, NEGATED PK — a key domain disjoint from the
      // real positive orderkeys at EVERY scale factor, where a fixed
      // +30M offset collides with real keys at SF>=5 and the Spark
      // max-version merge would dedupe what the oracle's UNION ALL
      // keeps; same custkey)
      val oImg = (v: Int, op: String, key: org.apache.spark.sql.Column,
                  p: org.apache.spark.sql.Column) =>
        Seq(lit(v).as("version"), lit(op).as("op"), key.as("k"),
          col("o_custkey").as("ck"), p.as("p"))
      val oVers = o.select(oImg(0, "I", ok, price): _*)
        .unionByName(o.filter(pmod(ok, lit(7L)) === 3)
          .select(oImg(1, "I", ok, (price + 50).cast("decimal(18,2)")): _*))
        .unionByName(o.filter(pmod(ok, lit(23L)) === 5)
          .select(oImg(2, "I", -ok, price): _*))
      // customer: v0 base, v1 = segment moves on c%11==2, v2 =
      // tombstones on c%13==7
      val cImg = (v: Int, op: String, seg: org.apache.spark.sql.Column) =>
        Seq(lit(v).as("version"), lit(op).as("op"),
          col("c_custkey").as("ck"), seg.as("seg"))
      val cVers = c.select(cImg(0, "I", col("c_mktsegment")): _*)
        .unionByName(c.filter(pmod(col("c_custkey"), lit(11L)) === 2)
          .select(cImg(1, "I", lit("MOVED")): _*))
        .unionByName(c.filter(pmod(col("c_custkey"), lit(13L)) === 7)
          .select(cImg(2, "D", col("c_mktsegment")): _*))
      def asOf(v: Int): DataFrame = {
        val oState = oVers.filter(col("version") <= v)
          .groupBy("k")
          .agg(max(struct(col("version"),
            when(col("op") === "D", 1).otherwise(0).as("del_pri"),
            col("op"), col("ck"), col("p"))).as("mx"))
          .filter(col("mx.op") =!= "D")
          .select(col("mx.ck").as("ck"), col("mx.p").as("p"))
        val cState = cVers.filter(col("version") <= v)
          .groupBy("ck")
          .agg(max(struct(col("version"),
            when(col("op") === "D", 1).otherwise(0).as("del_pri"),
            col("op"), col("seg"))).as("mx"))
          .filter(col("mx.op") =!= "D")
          .select(col("ck"), col("mx.seg").as("seg"))
        oState.join(cState, Seq("ck"))
          .groupBy("seg")
          .agg(count(lit(1)).as("n_orders"),
            sum("p").cast("double").as("total"))
          .select(lit(v).as("version"), col("seg").as("c_mktsegment"),
            col("n_orders"), col("total"))
      }
      asOf(0).unionByName(asOf(1)).unionByName(asOf(2))
        .orderBy("version", "c_mktsegment")
    }),

    // X203: plan-fingerprint result cache — the repeated-dashboard
    // serving face (Snowflake/BigQuery result cache): query identity =
    // md5 of the CANONICALIZED analyzed plan, so two INDEPENDENT
    // builds of the same rollup (fresh scans, fresh exprIds) hit, and
    // any literal/column/source change misses, and the fingerprint
    // folds in a source-snapshot token (per-file length + modTime) so
    // same-path-NEW-DATA misses too (ResultCacheSpec probes all
    // sides, including the append-then-miss validity case and the
    // eviction bound). The gate runs the rollup twice through the cache
    // and require()s miss-then-hit — if the fingerprint ever stops
    // normalizing exprIds, the gate FAILS rather than silently
    // recomputing. The served result is the materialized first run;
    // the oracle hashes it against the direct SQL, proving a hit
    // serves exactly the query's answer. At 100 TB the hit path reads
    // a result-store entry instead of the fact table — the same
    // fact-scan-vs-kilobytes delta as X153, for UNCHANGED repeats.
    "x178_result_cache" -> ((s, d) => {
      import graft.operators.ResultCache
      ResultCache.clear()
      def build() = Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total_price"))
      require(!ResultCache.through(build())._2, "first pass must be a cache miss")
      val (served, hit) = ResultCache.through(build())
      require(hit,
        "independent rebuild of the same plan must hit the result cache")
      served.orderBy("o_orderpriority")
    }),

    // X212: join-size estimation audit (the CBO formula tested against
    // truth) — x176 builds the histogram; this row audits what the
    // optimizer DOES with it: the System-R equi-join estimate
    // |A⋈B| ≈ n_A·n_B / max(ndv_A, ndv_B), applied per month bucket of
    // an M:N date join (o_orderdate = l_shipdate), against the exact
    // join size. The exact size NEVER materializes the join: per-date
    // count tables (two map-combined aggregates, dates-sized) give
    // exact = Σ_d n_o(d)·n_l(d) — the trick that makes join-size truth
    // affordable at 100 TB (the fact is scanned twice for counts, the
    // ~n_o·n_l-row join never happens). err_ppm per bucket quantifies
    // what the within-bucket uniformity assumption is worth on THIS
    // data — the read that decides whether the optimizer needs x176's
    // finer buckets. Per-date products stay in longs to ~3·10⁹ rows
    // per side per date (the x58 bound discipline — shard beyond).
    "x187_joinsize_est" -> ((s, d) => {
      val od = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("dt"))
        .agg(count(lit(1)).as("n_o"))
      val ld = Tables.lineitem(s, d)
        .groupBy(col("l_shipdate").cast("date").as("dt"))
        .agg(count(lit(1)).as("n_l"))
      od.join(ld, Seq("dt"), "full_outer")
        .select(date_format(col("dt"), "yyyy-MM").as("month"),
          coalesce(col("n_o"), lit(0L)).as("n_o"),
          coalesce(col("n_l"), lit(0L)).as("n_l"))
        .groupBy("month")
        .agg(sum(expr("n_o * n_l")).as("exact_rows"),
          sum("n_o").as("no_tot"), sum("n_l").as("nl_tot"),
          sum(when(col("n_o") > 0, 1L).otherwise(0L)).as("ndv_o"),
          sum(when(col("n_l") > 0, 1L).otherwise(0L)).as("ndv_l"))
        .withColumn("est_rows",
          expr("no_tot * nl_tot div greatest(ndv_o, ndv_l)"))
        .withColumn("err_ppm", expr(
          """CASE WHEN exact_rows = 0
                  THEN CASE WHEN est_rows = 0 THEN 0L ELSE 1000000L END
                  ELSE abs(est_rows - exact_rows) * 1000000 div exact_rows
             END"""))
        .select("month", "exact_rows", "est_rows", "err_ppm")
        .orderBy("month")
    }),

    // X213: approximate-query-processing sample audit (the BlinkDB /
    // TABLESAMPLE face) — dashboards preview 100 TB through a stored
    // uniform sample; the operational question is what error a given
    // rate actually buys PER GROUP (small groups blow up first — the
    // error is per-group, not global, which is why naive "1% is fine"
    // sizing fails on sliced dashboards). The sample is the md5-bucket
    // deterministic 4/256 cut (the x22/x39 draw — reproducible on any
    // engine, no RNG state), estimates scale by 64, and the audit
    // reports exact vs estimate with signed error in ppm of the exact,
    // all in integer cents. At 100 TB the sample is a MATERIALIZED
    // table (~1.6 TB) refreshed incrementally — the estimator and its
    // audit read only it plus the exact side this row gates against.
    "x188_aqp_sample" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderpriority"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
          graft.util.Sampling.hashBucket(col("o_orderkey")).as("bucket"))
      o.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_exact"),
          sum("cents").as("cents_exact"),
          sum(when(col("bucket") < 4, 1L).otherwise(0L)).as("n_sample"),
          sum(when(col("bucket") < 4, col("cents")).otherwise(0L)).as("cents_sample"))
        .select(col("o_orderpriority"), col("n_exact"),
          (col("n_sample") * 64).as("n_est"),
          // signed ppm via sign·(abs·10⁶ div exact): Spark's `div`
          // truncates toward zero while DuckDB's `//` floors, so the
          // division must only ever see non-negative operands
          expr("""CAST(signum(n_sample * 64 - n_exact) AS BIGINT)
                  * (abs(n_sample * 64 - n_exact) * 1000000 div n_exact)""")
            .as("n_err_ppm"),
          expr("CAST(cents_exact AS DOUBLE) / 100.0").as("total_exact"),
          expr("CAST(cents_sample * 64 AS DOUBLE) / 100.0").as("total_est"),
          expr("""CAST(signum(cents_sample * 64 - cents_exact) AS BIGINT)
                  * (abs(cents_sample * 64 - cents_exact) * 1000000 div cents_exact)""")
            .as("total_err_ppm"))
        .orderBy("o_orderpriority")
    }),

    // X214: greedy materialized-view selection over the grouping
    // lattice (Harinarayan/Rajaraman/Ullman, "Implementing Data Cubes
    // Efficiently") — the DECISION procedure behind the x133 aggregate
    // navigator: which k rollups to materialize so the navigator has
    // something to route onto. The 2³ lattice over (returnflag,
    // linestatus, ship-year) gets its per-grouping cardinalities from
    // ONE cube pass (each grouping's combo count read off grouping()
    // masks — the fact is scanned once); the greedy then picks 3 views
    // maximizing total benefit Σ_w max(0, cost_S(w) − |v|) over the
    // 8-NODE lattice — bounded optimizer metadata, the x80 1-row-argmax
    // discipline (a real optimizer runs this driver-side off the stats
    // catalog; the distributed part IS the cardinality profile).
    // Deterministic tie-break: benefit desc, node asc. The oracle
    // unrolls the same 3 greedy rounds in SQL, so selection AND benefit
    // arithmetic hash-check end-to-end. At 100 TB: one cube pass at
    // profile cadence; for wider laterals the cube pass swaps for
    // per-grouping HLL sketches (a15/x143) with selection unchanged.
    "x189_view_selection" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_returnflag").as("rf"),
        col("l_linestatus").as("ls"), year(col("l_shipdate")).as("yr"))
      val lattice = li.cube(col("rf"), col("ls"), col("yr"))
        .agg((lit(7) - grouping(col("rf")) * 1 - grouping(col("ls")) * 2
          - grouping(col("yr")) * 4).as("node"))
        .groupBy("node").agg(count(lit(1)).as("card"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val nF = li.count()
      var selected = List.empty[Int]
      def costOf(w: Int): Long =
        (nF :: selected.filter(v => (w & v) == w).map(lattice)).min
      val picks = (1 to 3).map { round =>
        val (best, benefit) = (0 to 7).filterNot(selected.contains)
          .map(v => v -> (0 to 7).filter(w => (w & v) == w)
            .map(w => math.max(0L, costOf(w) - lattice(v))).sum)
          .maxBy { case (v, b) => (b, -v) }
        selected = best :: selected
        (round, best, lattice(best), benefit)
      }
      import s.implicits._
      picks.toDF("round", "node", "card", "benefit").orderBy("round")
    }),

    // X201: equi-depth histogram build (the CBO selectivity input) —
    // X104's equi-width histogram misestimates skewed columns by
    // construction; real optimizers keep EQUI-DEPTH bounds (~n/B rows
    // per bucket, so worst-case selectivity error is bounded by 1/B
    // regardless of skew). Boundaries are the seven exact interpolated
    // octile values via GroupedQuantiles — histogram refinement, never
    // a group-sized percentile buffer (the a17/x85 discipline) — then
    // one broadcast join buckets the fact (bucket = Σ [v > qᵢ], the
    // stated strictly-greater tie rule) and the occupancy audit
    // reports each bucket's deviation from the ideal n/8 in ppm (ties
    // and duplicates are WHY occupancy isn't exactly n/8 — the audit
    // quantifies what the CBO's uniformity assumption is worth on
    // this column). Boundary frame is 1 row of metadata; one fact
    // scan; all verdict integers exact.
    "x176_equidepth_hist" -> ((s, d) => {
      import graft.util.GroupedQuantiles
      val o = Tables.orders(s, d).withColumn("g", lit("all"))
      val q = GroupedQuantiles.cuts(o, "g", "o_totalprice",
        (1 to 7).map(i => (s"q$i", i / 8.0)))
      val bucket = (1 to 7).map(i =>
        when(col("o_totalprice") > col(s"q$i"), 1).otherwise(0)).reduce(_ + _)
      o.crossJoin(broadcast(q.select((1 to 7).map(i => col(s"q$i")): _*)))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .crossJoin(broadcast(o.agg(count(lit(1)).as("n_total"))))
        .select(col("bucket"), col("lo"), col("hi"), col("n_rows"),
          expr("n_total div 8").as("ideal"),
          expr("abs(n_rows - n_total div 8) * 1000000 div (n_total div 8)")
            .as("dev_ppm"))
        .orderBy("bucket")
    }),

    // X193: validity-interval overlap join (temporal join) — the
    // INTERVAL member of the join family (equi J1-J3, anti/semi,
    // range j6, as-of j8, d6's point-in-time): each order carries an
    // active window [orderdate, orderdate + (key mod 7 + 1) days) and
    // joins every monthly promo window [month start, +10 days) it
    // OVERLAPS, aggregating exact overlap days per promo month. The
    // scale shape is GRID BLOCKING, the standard range-join rewrite: a
    // naive overlap predicate is a cartesian Catalyst can't prune, so
    // each ≤8-day order interval expands to its ≤2 covered calendar
    // months (explode of a 2-element array — bounded, never
    // row-multiplying beyond 2×) and the promo join becomes an
    // EQUI-join on the month key with the exact overlap test as a
    // residual filter. All-integer day arithmetic (datediff on
    // half-open intervals), no timestamps shuffled.
    "x169_interval_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val iv = o.select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("st"),
          (pmod(col("o_orderkey"), lit(7L)) + 1).cast("int").as("len_d"))
        .withColumn("en", expr("date_add(st, len_d)"))
      val promos = o.select(trunc(to_date(col("o_orderdate")), "month").as("p_st"))
        .distinct()
        .select(col("p_st"), date_add(col("p_st"), 10).as("p_en"),
          date_format(col("p_st"), "yyyy-MM").as("promo_month"))
      val expanded = iv.select(col("o_orderkey"), col("st"), col("en"),
          explode(array(trunc(col("st"), "month"), trunc(col("en"), "month")))
            .as("p_st"))
        .distinct()
      expanded.join(broadcast(promos), Seq("p_st"))
        .withColumn("overlap_days",
          greatest(lit(0), datediff(least(col("en"), col("p_en")),
            greatest(col("st"), col("p_st")))))
        .filter(col("overlap_days") > 0)
        .groupBy("promo_month")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("overlap_days").cast("long")).as("total_overlap_days"))
        .orderBy("promo_month")
    }),

    // X196: MERGE statement semantics in one batch pass — the
    // three-clause upsert (WHEN MATCHED AND op='U' THEN UPDATE, WHEN
    // MATCHED AND op='D' THEN DELETE, WHEN NOT MATCHED THEN INSERT,
    // implicit NOT-MATCHED-BY-SOURCE → keep) that K2's per-row ON
    // CONFLICT and x157's per-version folds each cover half of: here
    // the whole statement is ONE full-outer key join + a case
    // projection — one shuffle over state ∪ source, the batch-MERGE
    // plan every lake engine lowers to (and exchange-free when the
    // state table keeps the q_bucketed_join layout on the key). The
    // source's key sets are disjoint by construction (mod-5 classes;
    // inserts carry NEGATED keys — disjoint from the positive real
    // domain at every SF, unlike a fixed offset), so each key sees
    // exactly one action —
    // the precondition a real MERGE enforces with a cardinality
    // check. Output: post-merge state aggregate + per-status action
    // counts; the oracle reconstructs the same end state in SQL.
    "x171_merge_upsert" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val k = col("o_orderkey")
      val price = col("o_totalprice").cast("decimal(18,2)")
      val src = o.filter(pmod(k, lit(5L)) === 1)
          .select(k.as("k"), lit("U").as("op"),
            (price + lit(10).cast("decimal(18,2)")).cast("decimal(18,2)").as("sp"),
            col("o_orderstatus").as("sst"))
        .unionByName(o.filter(pmod(k, lit(5L)) === 2 && pmod(k, lit(7L)) === 0)
          .select(k.as("k"), lit("D").as("op"), price.as("sp"),
            col("o_orderstatus").as("sst")))
        .unionByName(o.filter(pmod(k, lit(5L)) === 3)
          .select((-k).as("k"), lit("I").as("op"), price.as("sp"),
            col("o_orderstatus").as("sst")))
      val state = o.select(k.as("k"), price.as("tp"),
        col("o_orderstatus").as("tst"))
      state.join(src, Seq("k"), "full_outer")
        .select(
          when(col("op").isNull, "keep")
            .when(col("tp").isNull, "insert")
            .when(col("op") === "D", "delete")
            .otherwise("update").as("action"),
          when(col("op") === "U", col("sp"))
            .when(col("tp").isNull, col("sp"))
            .otherwise(col("tp")).as("p"),
          coalesce(col("tst"), col("sst")).as("o_orderstatus"))
        .groupBy("o_orderstatus")
        .agg(
          sum(when(col("action") =!= "delete", 1L).otherwise(0L)).as("n_rows"),
          sum(when(col("action") =!= "delete", col("p"))
            .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("total_price"),
          sum(when(col("action") === "update", 1L).otherwise(0L)).as("n_updated"),
          sum(when(col("action") === "insert", 1L).otherwise(0L)).as("n_inserted"),
          sum(when(col("action") === "delete", 1L).otherwise(0L)).as("n_deleted"))
        .orderBy("o_orderstatus")
    }),

    // X174: retractable incremental view maintenance — k8 folds
    // INSERT-only deltas; real CDC feeds carry updates and deletes
    // too. The general algebra (the DBSP / differential-dataflow
    // z-set shape): every change is a SIGNED row (+1 insert, −1
    // retract; an update is a retract of the old version plus an
    // insert of the new), and any self-combinable aggregate folds the
    // signed batch into the stored snapshot exactly — count ← Σsign,
    // sum ← Σ(sign·x), avg derived. MIN/MAX are deliberately absent:
    // they are NOT retractable without auxiliary per-group state
    // (deleting the current minimum needs the runner-up), the same
    // eligibility line the aggregate navigator draws. The oracle
    // recomputes the view from the FINAL table state, so the hash
    // gate proves the signed fold converges to truth through all
    // three change kinds. At 100 TB the snapshot is KEYS-sized and
    // the fold is BATCH-sized; the base history is never rescanned.
    // Yesterday's state v0 is synthesized deterministically from the
    // final state (inserts absent, updates at their pre-image price
    // +100, deleted "ghost" rows present), so both engines agree on
    // what changed without any stored fixture. The ghost rows are
    // synthetic CLONES (negated keys) DISJOINT from the surviving rows:
    // each surviving row appears in v0 exactly once and each ghost
    // exactly once, so the delete retraction removes a row genuinely
    // absent from the converged view — v0 really is the aggregate of a
    // coherent yesterday-table (surviving rows at old prices + the
    // soon-to-be-deleted clones), not a double-counted artifact.
    "x154_retractable_ivm" -> ((s, d) => {
      val snapDir = java.nio.file.Files.createTempDirectory("graft_retract_")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(snapDir.toFile): Unit))
      val o = Tables.orders(s, d)
      val price = col("o_totalprice").cast("decimal(18,2)")
      val oldPrice = (price + lit(100).cast("decimal(18,2)"))
        .cast("decimal(18,2)")
      val mod11 = pmod(col("o_orderkey"), lit(11L))
      val isGhostSrc = pmod(col("o_orderkey"), lit(13L)) === 1
      // ghost clones: negated-key copies of the mod-13 rows, the rows
      // "deleted today" — negation keeps the ghost domain disjoint
      // from every surviving (positive) key at any scale factor, so
      // the retraction targets rows truly leaving the view
      val ghosts = o.filter(isGhostSrc)
        .select((-col("o_orderkey")).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
      // v0 = yesterday's state: today's inserts absent, today's
      // updates still at their old price, today's deletes present
      val v0 = o.filter(mod11 =!= 3)
        .select(col("o_orderstatus"),
          when(mod11 === 5, oldPrice).otherwise(price).as("p"),
          lit(1L).as("sign"))
        .unionByName(ghosts
          .select(col("o_orderstatus"), price.as("p"), lit(1L).as("sign")))
      def partials(df: DataFrame) = df.groupBy("o_orderstatus")
        .agg(sum(col("sign")).as("n"),
          sum((col("p") * col("sign")).cast("decimal(28,2)")).as("total"))
      // day 0: aggregate v0 once, persist the snapshot (keys-sized)
      partials(v0).write.mode("overwrite").parquet(snapDir.toString)
      // day 1: the signed change batch — inserts, update retract+insert
      // pairs, delete retractions
      val delta = o.filter(mod11 === 3)
        .select(col("o_orderstatus"), price.as("p"), lit(1L).as("sign"))
        .unionByName(o.filter(mod11 === 5)
          .select(col("o_orderstatus"), oldPrice.as("p"), lit(-1L).as("sign")))
        .unionByName(o.filter(mod11 === 5)
          .select(col("o_orderstatus"), price.as("p"), lit(1L).as("sign")))
        .unionByName(ghosts
          .select(col("o_orderstatus"), price.as("p"), lit(-1L).as("sign")))
      s.read.parquet(snapDir.toString).unionByName(partials(delta))
        .groupBy("o_orderstatus")
        .agg(sum("n").as("n_orders"), sum("total").as("t"))
        .select(col("o_orderstatus"), col("n_orders"),
          col("t").cast("double").as("total"),
          (col("t").cast("double") / col("n_orders").cast("double"))
            .as("avg_price"))
        .orderBy("o_orderstatus")
    }),

    // X206: the STREAMING retractable-view sink driven END-TO-END — the
    // x154 z-set fold executed through the REAL foreachBatch sink path
    // (crash-safe two-rename snapshot swap + _batch replay marker),
    // promoted from spec-only to a hash-gated row (the x165 promotion
    // pattern): a file-stream source delivers the two signed change
    // batches as separate micro-batches (maxFilesPerTrigger=1,
    // Trigger.AvailableNow), RetractableView.sink folds each into the
    // stored parquet snapshot, a deliberate REPLAY of an
    // already-applied batchId is require()d to no-op (the marker
    // guard — if it ever re-folds, both the require and the hash
    // fail), and the read-back snapshot is hashed against the
    // final-state aggregate — proving the streaming sink converges to
    // truth through inserts, update retract+insert pairs, and delete
    // retractions. At 100 TB: the snapshot is KEYS-sized, each fold
    // touches one micro-batch + the snapshot, and the swap is two
    // metadata renames (see RetractableView scaladoc).
    "x181_retract_sink" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.RetractableView
      val scratch = java.nio.file.Files.createTempDirectory("graft_rsink_")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile): Unit))
      val inDir = scratch.toString + "/in"
      val store = scratch.toString + "/view"
      val o = Tables.orders(s, d)
      val price = col("o_totalprice").cast("decimal(18,2)")
      val oldPrice = (price + lit(100).cast("decimal(18,2)")).cast("decimal(18,2)")
      val mod11 = pmod(col("o_orderkey"), lit(11L))
      // rows "deleted today": present in v0, retracted by the delta
      val ghosts = o.filter(pmod(col("o_orderkey"), lit(13L)) === 1)
        .select(col("o_orderstatus"), price.as("value"))
      // batch 0 = yesterday's state v0 (x154's construction: today's
      // inserts absent, updates at old price, deletes present)
      val v0 = o.filter(mod11 =!= 3)
        .select(col("o_orderstatus"),
          when(mod11 === 5, oldPrice).otherwise(price).as("value"),
          lit(1L).as("sign"))
        .unionByName(ghosts.withColumn("sign", lit(1L)))
      // batch 1 = today's signed changes
      val delta = o.filter(mod11 === 3)
        .select(col("o_orderstatus"), price.as("value"), lit(1L).as("sign"))
        .unionByName(o.filter(mod11 === 5)
          .select(col("o_orderstatus"), oldPrice.as("value"), lit(-1L).as("sign")))
        .unionByName(o.filter(mod11 === 5)
          .select(col("o_orderstatus"), price.as("value"), lit(1L).as("sign")))
        .unionByName(ghosts.withColumn("sign", lit(-1L)))
      v0.coalesce(1).write.parquet(inDir + "/b0")
      delta.coalesce(1).write.parquet(inDir + "/b1")
      // input-sized partitions for the per-batch fold (StreamTuning —
      // the foreachBatch group-fold pays the same per-partition fixed
      // cost per micro-batch as the stateful gates)
      Sessions.withConf(s, "spark.sql.shuffle.partitions" ->
          graft.streaming.StreamTuning.inputSizedShufflePartitions(s, Seq(inDir)).toString)
        .readStream.schema(v0.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir + "/*")
        .writeStream
        .option("checkpointLocation", scratch.toString + "/ckpt")
        .foreachBatch(RetractableView.sink(store, "o_orderstatus") _)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      val applied = RetractableView.lastApplied(s, store)
      require(applied == 1L, s"expected two micro-batches applied, marker=$applied")
      // crash-replay: redeliver an already-applied id — must no-op (a
      // re-fold would move the marker back to 0 AND break the hash)
      RetractableView.sink(store, "o_orderstatus")(delta, 0L)
      require(RetractableView.lastApplied(s, store) == 1L,
        "replaying an already-applied batchId must be a no-op")
      s.read.parquet(store)
        .select(col("o_orderstatus"), col("n").as("n_orders"),
          col("total").cast("double").as("total"))
        .orderBy("o_orderstatus")
    }),

    // X207: order-preserving dictionary encoding — the warehouse layout
    // face every columnar engine leans on: a low/mid-cardinality column
    // maps to a DENSE integer domain ordered by value, so range
    // predicates on the encoded ints are exactly range predicates on
    // the values (the property that lets zone maps (X140) and sort
    // orders survive encoding) and the fact carries 4-byte ids instead
    // of repeated values. Built scale-first: the dictionary derives
    // from the DISTINCT-value table (one map-combined aggregate —
    // values-sized, not fact-sized), ids assigned by
    // ScalableRank.globalRowNumber (two-phase bucketed rank, never an
    // AllTuples window), and the fact encodes through ONE broadcast
    // join of the values-sized dictionary. The audit rolls the encoded
    // fact up per id-century: contiguous id ranges + non-overlapping
    // ascending date ranges per bucket, hashed against dense_rank
    // truth — proving density AND order preservation exactly.
    "x183_dict_encode" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val values = o.select(col("o_orderdate").cast("date").as("v")).distinct()
        .withColumn("dk", datediff(col("v"), to_date(lit("1990-01-01"))))
      val dict = graft.util.ScalableRank.globalRowNumber(values, "dk", "id")
        .select(col("v"), col("id"))
      o.select(col("o_orderdate").cast("date").as("v"))
        .join(broadcast(dict), Seq("v"))
        .withColumn("bucket", expr("(id - 1) div 100"))
        .groupBy("bucket")
        .agg(countDistinct(col("v")).as("n_values"),
          min("id").as("id_min"), max("id").as("id_max"),
          date_format(min(col("v")), "yyyy-MM-dd").as("date_min"),
          date_format(max(col("v")), "yyyy-MM-dd").as("date_max"),
          count(lit(1)).as("n_orders"))
        .orderBy("bucket")
    }),

    // X208: append-only dictionary maintenance — X207's dictionary is
    // only usable at scale if it is STABLE: re-ranking after new values
    // arrive would renumber old ids and force a full re-encode of
    // every fact file referencing them. The maintenance contract is
    // append-only assignment: values known at epoch 0 keep their
    // order-preserving ids 1..K forever; values first seen later get
    // K+1..K+m (ordered among themselves), trading GLOBAL order for
    // id stability — the same trade every real dictionary-encoded
    // format makes. Both epochs assign through the two-phase rank;
    // K crosses as a 1-row broadcast. The audit reports each epoch's
    // id interval and coverage: epoch-0 ids occupy exactly [1, K] and
    // epoch-1 exactly [K+1, K+m] — stability observable in the hash.
    "x184_dict_evolve" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val cutoff = to_date(lit("1997-06-01"))
      val vals = o.select(col("o_orderdate").cast("date").as("v")).distinct()
        .withColumn("dk", datediff(col("v"), to_date(lit("1990-01-01"))))
      val oldDict = graft.util.ScalableRank.globalRowNumber(
        vals.filter(col("v") < cutoff), "dk", "id")
      val kRow = oldDict.agg(max("id").as("k0"))
      val newDict = graft.util.ScalableRank.globalRowNumber(
          vals.filter(col("v") >= cutoff), "dk", "nid")
        .crossJoin(broadcast(kRow))
        .select(col("v"), (col("nid") + col("k0")).as("id"))
      val dict = oldDict.select(col("v"), col("id"), lit(0).as("epoch"))
        .unionByName(newDict.select(col("v"), col("id"), lit(1).as("epoch")))
      o.select(col("o_orderdate").cast("date").as("v"))
        .join(broadcast(dict), Seq("v"))
        .groupBy("epoch")
        .agg(countDistinct(col("v")).as("n_values"),
          min("id").as("id_min"), max("id").as("id_max"),
          count(lit(1)).as("n_orders"))
        .orderBy("epoch")
    }),

    // X209: MERGE source-cardinality audit — the pre-flight check
    // behind x171's stated precondition: a relational MERGE is only
    // well-defined when AT MOST ONE source row matches each target
    // key (lake engines raise at runtime otherwise, after shuffling
    // the whole join). This audit finds and CLASSIFIES the offenders
    // first — per violating key the fan-out and the action mix
    // (update+update = last-writer ambiguity; update+delete = outcome
    // depends on clause order) — on a change feed with deliberate
    // collisions (the x171 update class, a second update on its mod-7
    // subset, a delete on its mod-11 subset). One map-combined
    // aggregate over the SOURCE only (the target is never touched —
    // the audit is source-sized, cheap to run before every merge);
    // output is the (fan_out × mix) rollup, bounded metadata.
    "x185_merge_cardinality" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val k = col("o_orderkey")
      val src = o.filter(pmod(k, lit(5L)) === 1)
          .select(k.as("k"), lit("U").as("op"))
        .unionByName(o.filter(pmod(k, lit(5L)) === 1 && pmod(k, lit(7L)) === 0)
          .select(k.as("k"), lit("U").as("op")))
        .unionByName(o.filter(pmod(k, lit(5L)) === 1 && pmod(k, lit(11L)) === 0)
          .select(k.as("k"), lit("D").as("op")))
      src.groupBy("k")
        .agg(count(lit(1)).as("fan_out"),
          sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_upd"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_del"))
        .withColumn("mix",
          when(col("n_del") > 0 && col("n_upd") > 0, "update+delete")
            .when(col("n_upd") > 1, "update+update")
            .when(col("fan_out") === 1, "clean")
            .otherwise("other"))
        .groupBy("fan_out", "mix")
        .agg(count(lit(1)).as("n_keys"))
        .orderBy("fan_out", "mix")
    }),

    // X175: checksum drill-down (bucket-localized row diff) — the
    // second half of the q_table_checksum protocol: once the bucketed
    // digests localize a divergence, the ROW-level diff runs only
    // over the mismatched buckets. A replica of orders with
    // deterministic divergence (three changed totals, two missing
    // rows, one extra row — a fixed fault set) is checksummed
    // beside the source; buckets whose (count, digest sum) disagree —
    // a METADATA-sized comparison, never a collect — gate the
    // full-outer PK join that classifies each divergent row as
    // missing / extra / changed. The diff table needs a true PK
    // (orders has one; lineitem's (orderkey, linenumber) is NOT
    // unique in this data — a non-key join would explode the
    // classification). The oracle states the naive whole-table diff
    // grouped by bucket; hash equality proves the checksum phase
    // loses no divergent bucket. At 100 TB the phase-2 join reads
    // only the mismatched key ranges (recursively re-bucketable, per
    // the checksum row's protocol note) — the whole point of
    // checksum-first table diff.
    "x155_bucket_diff" -> ((s, d) => {
      val o = Tables.orders(s, d)
      // the deterministic divergence is a FIXED key set (not a
      // density): real replication faults are a handful of rows, so
      // the dirty-bucket fraction stays bounded as the table grows —
      // the localization property phase 2 exists to exploit. Keys
      // chosen ≡ 0/1/2 (mod 16) so exactly three buckets are dirty;
      // the +10M extra-key offset is a multiple of 16, keeping the
      // extra in its source's bucket (mirrored in the oracle).
      val perturbed = o.withColumn("o_totalprice",
        when(col("o_orderkey").isin(112L, 256L, 400L), col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      val replica = perturbed.filter(!col("o_orderkey").isin(113L, 257L))
        .unionByName(perturbed.filter(col("o_orderkey") === 114L)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      def canon(df: DataFrame): DataFrame = df.select(
        col("o_orderkey"),
        pmod(col("o_orderkey"), lit(16L)).as("bucket"),
        concat_ws("|",
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)"),
          date_format(col("o_orderdate"), "yyyy-MM-dd"),
          col("o_orderpriority")).as("canon"))
      def sums(df: DataFrame): DataFrame = df.groupBy("bucket").agg(
        count(lit(1)).as("n"),
        sum(conv(substring(md5(col("canon")), 1, 12), 16, 10)
          .cast("decimal(38,0)")).as("digest"))
      val src = canon(o)
      val dst = canon(replica)
      // phase 1: 16-row checksum compare → the mismatched bucket set —
      // a bounded frame, pinned eagerly (never a collect) so phase 2's
      // two semi-joins don't re-run both checksum scans
      val bad = sums(src).alias("a")
        .join(sums(dst).alias("b"), Seq("bucket"), "full_outer")
        .filter(!(col("a.n") <=> col("b.n")) ||
                !(col("a.digest") <=> col("b.digest")))
        .select("bucket")
        .localCheckpoint(true)
      // phase 2: row diff ONLY inside mismatched buckets
      val s2 = src.join(broadcast(bad), Seq("bucket"), "left_semi")
      val d2 = dst.join(broadcast(bad), Seq("bucket"), "left_semi")
      s2.alias("s").join(d2.alias("t"),
          col("s.o_orderkey") === col("t.o_orderkey"), "full_outer")
        .select(
          coalesce(col("s.bucket"), col("t.bucket")).as("bucket"),
          when(col("t.canon").isNull, 1L).otherwise(0L).as("m"),
          when(col("s.canon").isNull, 1L).otherwise(0L).as("e"),
          when(col("s.canon").isNotNull && col("t.canon").isNotNull &&
               col("s.canon") =!= col("t.canon"), 1L).otherwise(0L).as("c"))
        .groupBy("bucket")
        .agg(sum("m").as("n_missing"), sum("e").as("n_extra"),
          sum("c").as("n_changed"))
        .filter(col("n_missing") + col("n_extra") + col("n_changed") > 0)
        .orderBy("bucket")
    }),

    // X178: MVCC time travel over a merge-on-read versioned layout —
    // the lake-format read path (Delta/Iceberg shape) built from plain
    // parquet: the table is BASE + delta versions written
    // PARTITIONED BY version, each delta row a full upsert image or a
    // tombstone ('D'). An as-of-v read is: version-partition-pruned
    // scan (version <= v reaches the directory listing — nothing past
    // v is even opened), latest image per key via ONE map-combinable
    // max(struct(version, ...)) aggregate (never a rank window; each
    // key holds ≤ versions rows), tombstones dropped last. This is
    // TRANSACTION time — the complement of d5/d6's validity-interval
    // SCD2 (what WAS true vs what we HAD RECORDED). The gate audits
    // all three as-of reads (count + exact total per version); the
    // oracle reconstructs each version's state from the base table
    // with the same deterministic change sets. At 100 TB the deltas
    // are batch-sized partitions beside a base the readers never
    // rewrite — compaction (fold old deltas into a new base) is the
    // same max(struct) aggregate written back.
    "x157_time_travel" -> ((s, d) => {
      val path = scratch("mvcc_orders", d)
      val o = Tables.orders(s, d)
      val k = col("o_orderkey")
      val img = (v: Int, op: String, key: org.apache.spark.sql.Column,
                 p: org.apache.spark.sql.Column) =>
        Seq(lit(v).as("version"), lit(op).as("op"), key.as("k"),
          p.cast("decimal(18,2)").as("p"))
      val p0 = col("o_totalprice")
      // v0 base; v1 = updates (+50 on keys ≡3 mod 7) + tombstones
      // (keys ≡2 mod 13, deletes win over same-version updates); v2 =
      // full-image updates (+25 on keys ≡4 mod 19, never resurrecting
      // a deleted key) + inserts (clones of keys ≡1 mod 17, offset PK)
      val v0 = o.select(img(0, "I", k, p0): _*)
      val v1 = o.filter(pmod(k, lit(7L)) === 3 && pmod(k, lit(13L)) =!= 2)
        .select(img(1, "I", k, p0 + 50.0): _*)
        .unionByName(o.filter(pmod(k, lit(13L)) === 2)
          .select(img(1, "D", k, p0): _*))
      val v2 = o.filter(pmod(k, lit(19L)) === 4 && pmod(k, lit(13L)) =!= 2)
        .select(img(2, "I", k, p0 + 25.0): _*)
        .unionByName(o.filter(pmod(k, lit(17L)) === 1)
          .select(img(2, "I", k + 20000000L, p0): _*))
      v0.unionByName(v1).unionByName(v2)
        .repartition(s.sparkContext.defaultParallelism, col("version"))
        .write.mode("overwrite").partitionBy("version").parquet(path)
      val versioned = s.read.parquet(path)
      def asOf(v: Int): DataFrame =
        versioned.filter(col("version") <= v) // partition-pruned scan
          .groupBy("k")
          // the tombstone carries an orderable priority INSIDE the
          // struct: at equal version a delete ('D' → 1) outranks any
          // full image (0), so deletes genuinely win same-version ties
          // — lexicographic 'I' > 'D' would quietly resurrect the key
          // if a feed ever emitted both ops in one version
          .agg(max(struct(col("version"),
            when(col("op") === "D", 1).otherwise(0).as("del_pri"),
            col("op"), col("p"))).as("mx"))
          .filter(col("mx.op") =!= "D")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("mx.p")).cast("double").as("total"))
          .select(lit(v).as("version"), col("n_rows"), col("total"))
      asOf(0).unionByName(asOf(1)).unionByName(asOf(2)).orderBy("version")
    }),

    // X179: inclusion-dependency profiling (FK discovery) — the
    // Metanome-style IND pass completing x136's FD audit: is every
    // value of A present in B? Declared-candidate INDs are what a
    // schema-discovery tool proposes as foreign keys, and q_fk's
    // orphan audit then monitors. Each candidate is two map-combined
    // DISTINCT passes (column-pruned scans) + one distinct-to-distinct
    // left join — key-set-sized, never fact-sized. The deliberately
    // spurious candidate (l_suppkey ⊆ p_partkey) HOLDS on this data —
    // dense surrogate ranges contain each other — which is the
    // textbook reason discovered INDs need semantic confirmation
    // before becoming constraints (the lesson is the row). The
    // reversed edge (o_orderkey ⊆ l_orderkey) is violated by orders
    // with no lineitems.
    "x158_ind_audit" -> ((s, d) => {
      def ind(lhsDf: DataFrame, lhsCol: String, rhsDf: DataFrame,
              rhsCol: String, name: String): DataFrame = {
        val l = lhsDf.select(col(lhsCol).cast("long").as("v")).distinct()
        val r = rhsDf.select(col(rhsCol).cast("long").as("v")).distinct()
          .withColumn("hit", lit(1))
        l.join(r, Seq("v"), "left")
          .agg(count(lit(1)).as("n_lhs"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_missing"))
          .select(lit(name).as("ind"), col("n_lhs"), col("n_missing"),
            (col("n_missing") === 0).cast("int").as("holds"),
            expr("(n_lhs - n_missing) * 1000000 div n_lhs").as("contain_ppm"))
      }
      val o = Tables.orders(s, d); val li = Tables.lineitem(s, d)
      val c = Tables.customer(s, d); val n = Tables.nation(s, d)
      val r = Tables.region(s, d); val p = Tables.part(s, d)
      ind(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey<orders.o_orderkey")
        .unionByName(ind(o, "o_custkey", c, "c_custkey", "orders.o_custkey<customer.c_custkey"))
        .unionByName(ind(c, "c_nationkey", n, "n_nationkey", "customer.c_nationkey<nation.n_nationkey"))
        .unionByName(ind(n, "n_regionkey", r, "r_regionkey", "nation.n_regionkey<region.r_regionkey"))
        .unionByName(ind(o, "o_orderkey", li, "l_orderkey", "orders.o_orderkey<lineitem.l_orderkey"))
        .unionByName(ind(li, "l_suppkey", p, "p_partkey", "lineitem.l_suppkey<part.p_partkey"))
        .orderBy("ind")
    }),

    // X185 (pair): per-customer revenue aggregated AFTER the full join —
    // the shape every ORM/BI tool generates: join lineitem⋈orders⋈
    // customer first, then group. The second shuffle carries the ENTIRE
    // joined fact stream (6M rows at sf1) to the customer key. Same
    // merge-hint no-broadcast regime and same oracle as x161 — the
    // pair's delta is purely where the aggregate sits.
    "q_agg_after_join" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).hint("shuffle_merge"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).hint("shuffle_merge"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,6)")).as("rev"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("rev")).cast("double").as("total_revenue"),
          max(col("rev")).cast("double").as("max_cust_revenue"))
        .orderBy("c_mktsegment")),

    // X185: eager aggregation (Yan & Larson '95) — the aggregate
    // PUSHED BELOW the join: lineitem pre-aggregates to order grain
    // first (decimal partials are associative, so the split is exact —
    // the same eligibility line the navigator and the retractable view
    // draw), and every later shuffle moves ORDER-grain partials
    // instead of the joined item stream. A rewrite CBO-less engines
    // don't apply and AQE cannot discover (it re-plans stages, never
    // moves aggregates). Measured honestly: Spark's map-side partial
    // aggregation already captures the combine half of the rewrite, so
    // the residual win is only the second exchange's volume — the pair
    // INVERTS at sf0.1 (1.18 vs 0.87 s: extra-stage overhead dominates)
    // and crosses over at sf1 (1.49 vs 1.56 s); the margin grows with
    // the item:order fan-out, which at 100 TB (and on wider payloads
    // than one decimal) is the difference between shuffling the fact
    // stream twice and once. Completes the reduction family: x153
    // shrinks the join's INPUT, this shrinks what the join's OUTPUT
    // drags into the next shuffle.
    "x161_eager_agg" -> ((s, d) => {
      val ordRev = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("r"))
        .groupBy("l_orderkey")
        .agg(sum(col("r").cast("decimal(28,6)")).as("rev"))
      val perCust = ordRev
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .hint("shuffle_merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum("rev").as("rev"))
      perCust
        .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment")
          .hint("shuffle_merge"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("rev")).cast("double").as("total_revenue"),
          max(col("rev")).cast("double").as("max_cust_revenue"))
        .orderBy("c_mktsegment")
    }),

    // X187: mergeable-sketch rollup table — the cube-of-sketches
    // pattern behind every serving layer: a STORED per-nation
    // DataSketches-HLL table (25 rows × ~1.5 KB) answers "distinct
    // parts ordered per REGION" by hll_union_agg + estimate over the
    // sketch rows — the fact is NEVER rescanned for a coarser rollup,
    // which is what mergeability buys that a15's plain
    // approx_count_distinct (a final number, not a reusable state)
    // cannot. Gated under the a15 discipline: exact per-region
    // distincts hash-verified outright (pre-distinct passes — never a
    // multi-distinct Expand), the sketch estimate asserted through a
    // 5% verdict bit the oracle states as TRUE (HLL register merges
    // are max-folds — order-invariant, so the bit cannot flap). At
    // 100 TB the sketch table is nations-sized and any region/ALL
    // rollup is a metadata read.
    "x162_sketch_rollup" -> ((s, d) => {
      val keyed = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_nationkey"), col("n_regionkey"), col("l_partkey"))
      // the stored sketch table: one HLL state per nation
      val sketches = keyed.groupBy("n_nationkey", "n_regionkey")
        .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
        .localCheckpoint(true)
      // region rollup reads ONLY the 25 sketch rows
      val est = sketches.groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      // exact side: one pre-distinct pass (the a26/a15 Expand lesson)
      val exact = keyed.select("n_regionkey", "l_partkey").distinct()
        .groupBy("n_regionkey").agg(count(lit(1)).as("exact_parts"))
      exact.join(est, Seq("n_regionkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_nations"), col("exact_parts"),
          (abs(col("est").cast("double") - col("exact_parts").cast("double")) <=
            col("exact_parts").cast("double") * 0.05).as("est_within_5pct"))
        .orderBy("r_name")
    }),

    // X188: optimistic-concurrency conflict detection — the commit
    // validation a lake table (X178's layout) runs when two writers
    // race from the same base snapshot: their change sets are valid
    // together iff their touched-key sets are disjoint; intersecting
    // keys are write-write conflicts and the loser's conflicting rows
    // are rejected (first-committer-wins — txn A here). The check is
    // ONE distinct-key semi-intersection (key-set-sized, never
    // row-payload-sized — exactly what Delta/Iceberg commit protocols
    // compare via file/row-group key ranges, done here at exact row
    // grain). The audit emits both change-set sizes, the conflict
    // count, what survives of B, and the final table's row count and
    // exact cent total — proving the MERGED outcome, not just the
    // verdict. Both txns are deterministic functions of the base
    // table so the oracle reconstructs the same race.
    "x163_occ_conflicts" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val k = col("o_orderkey")
      val cents = round(col("o_totalprice") * 100).cast("long")
      // txn A: +10.00 on keys ≡1 (mod 10); txn B: +5.00 on keys ≡1
      // (mod 14). Conflicts: k ≡ 1 (mod 70) — nonempty at every SF.
      val aKeys = o.filter(pmod(k, lit(10L)) === 1).select(k.as("key"))
      val bKeys = o.filter(pmod(k, lit(14L)) === 1).select(k.as("key"))
      val conflicts = aKeys.join(bKeys, Seq("key"), "left_semi")
        .localCheckpoint(true) // key-set-sized commit metadata
      // first-committer-wins: A lands whole; B minus conflicted keys
      val finalPrice = when(pmod(k, lit(10L)) === 1, cents + 1000L)
        .when(pmod(k, lit(14L)) === 1, cents + 500L)
        .otherwise(cents)
      val finals = o.agg(count(lit(1)).as("n"),
        sum(finalPrice).as("cents")).localCheckpoint(true)
      def row(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n")).select(lit(name).as("component"), col("n"))
      row("txn_a_rows", aKeys)
        .unionByName(row("txn_b_rows", bKeys))
        .unionByName(row("conflicts", conflicts))
        .unionByName(row("applied_b_rows",
          bKeys.join(conflicts, Seq("key"), "left_anti")))
        .unionByName(finals.select(lit("final_rows").as("component"),
          col("n").as("n")))
        .unionByName(finals.select(lit("final_total_cents").as("component"),
          col("cents").as("n")))
        .orderBy("component")
    }),

    // X183: bitemporal as-of reads — TRANSACTION time (x157's versions:
    // what the warehouse KNEW) crossed with VALID time (d5/d6's SCD2
    // intervals: what WAS true). The point is late-arriving history:
    // change events with 1996 valid-timestamps that only ARRIVE in the
    // 1997 load (keys ≡ 0 mod 5 land one version late) REWRITE the
    // validity intervals already derived — so the same valid-time
    // question ("status mix as of 1996-06-01") gives DIFFERENT answers
    // at version 0 and version 1, and the diff between those answers
    // IS the correction audit a regulated warehouse must produce.
    // Append-only logs can't show this; the version × as-of matrix
    // can. Scale: each cell is one custkey-partitioned SCD2 window
    // (key-bounded partitions) + a bounded count; the matrix is
    // versions × probe-dates × priorities at any corpus size. Change
    // events without a timestamp are malformed and excluded on both
    // engines (they cannot order an interval).
    "x159_bitemporal" -> ((s, d) => {
      val o = Tables.orders(s, d).filter(col("o_orderdate").isNotNull)
      val mod5 = pmod(col("o_orderkey"), lit(5L))
      val c97 = lit("1997-01-01").cast("timestamp")
      val c98 = lit("1998-01-01").cast("timestamp")
      val logs = Seq(
        0 -> o.filter(col("o_orderdate") < c97 && mod5 =!= 0),
        1 -> o.filter((col("o_orderdate") < c98 && mod5 =!= 0) ||
                      (col("o_orderdate") < c97 && mod5 === 0)),
        2 -> o)
      val probes = Seq("1996-06-01", "1997-06-01")
      val cells = for ((v, log) <- logs; t <- probes) yield {
        val hist = graft.dims.Scd2.fromChangeLog(
          log.select("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority"),
          "o_custkey", "o_orderdate", "o_orderkey", Seq("o_orderpriority"))
        val at = lit(t).cast("timestamp")
        hist.filter(col("effective_from") <= at &&
            (col("effective_to").isNull || at < col("effective_to")))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_customers"))
          .select(lit(v).as("version"), lit(t).as("asof_date"),
            col("o_orderpriority"), col("n_customers"))
      }
      cells.reduce(_ unionByName _)
        .orderBy("version", "asof_date", "o_orderpriority")
    }),

    // X184: Data Vault modeling — the OTHER warehouse modeling school
    // beside the Kimball surface (x148-x152): hubs (distinct business
    // keys + md5 hash keys), links (distinct relationship key pairs +
    // composite hash), satellites (attribute payloads keyed by hub
    // hash + load, with an md5 HASHDIFF doing delta detection — a new
    // satellite row lands only when the attribute hash changes). Two
    // deterministic loads (load 2 re-segments every 7th customer)
    // exercise the hashdiff mechanic; the reconstruction row proves
    // the vault answers the business question (current segment per
    // customer) identically to the source — the round-trip that makes
    // the model load-bearing rather than ceremonial. Scale: every
    // structure is a map-combined DISTINCT or a key-partitioned
    // latest-row argmax; hash keys mean loads never coordinate
    // (idempotent parallel ingestion — the reason the pattern exists).
    "x160_data_vault" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val hubCustomer = c.select(col("c_custkey"),
        md5(col("c_custkey").cast("string")).as("hk_customer")).distinct()
      val hubOrder = o.select(col("o_orderkey"),
        md5(col("o_orderkey").cast("string")).as("hk_order")).distinct()
      val linkOrderCustomer = o.select(col("o_orderkey"), col("o_custkey"),
        md5(concat_ws("|", col("o_orderkey"), col("o_custkey"))).as("hk_link"))
        .distinct()
      def satLoad(load: Int, seg: org.apache.spark.sql.Column): DataFrame =
        c.select(md5(col("c_custkey").cast("string")).as("hk_customer"),
          lit(load).as("load_id"), seg.as("segment"),
          md5(concat_ws("|", seg, col("c_nationkey"))).as("hashdiff"))
      val load1 = satLoad(1, col("c_mktsegment"))
      val load2all = satLoad(2,
        when(pmod(col("c_custkey"), lit(7L)) === 0,
          concat(col("c_mktsegment"), lit("_V2"))).otherwise(col("c_mktsegment")))
      // hashdiff delta detection: a load-2 row lands only when changed
      val load2 = load2all.alias("n")
        .join(load1.select(col("hk_customer"), col("hashdiff").as("prev"))
          .alias("p"), Seq("hk_customer"))
        .filter(col("hashdiff") =!= col("prev"))
        .select(load2all.columns.map(col): _*)
      val sat = load1.unionByName(load2)
      // reconstruction: vault-current segment ≡ the load-2 source truth
      val current = sat.groupBy("hk_customer")
        .agg(max(struct(col("load_id"), col("segment"))).as("mx"))
        .select(col("hk_customer"), col("mx.segment").as("segment"))
      val matches = current
        .join(load2all.select(col("hk_customer"), col("segment").as("want")),
          Seq("hk_customer"))
        .filter(col("segment") === col("want"))
      def row(name: String, n: DataFrame): DataFrame =
        n.agg(count(lit(1)).as("n")).select(lit(name).as("component"), col("n"))
      row("hub_customer", hubCustomer)
        .unionByName(row("hub_order", hubOrder))
        .unionByName(row("link_order_customer", linkOrderCustomer))
        .unionByName(row("sat_customer_load1", load1))
        .unionByName(row("sat_customer_load2_deltas", load2))
        .unionByName(row("reconstruction_matches", matches))
        .orderBy("component")
    }),

    // X218: FIFO inventory costing — the classic "needs a cursor"
    // accounting op (match each issue against the oldest unconsumed
    // receipts, in order), reframed as a CUMULATIVE-QUANTITY INTERVAL
    // JOIN so it's trivially parallel: per part, receipts and issues
    // each get [cum_qty − qty, cum_qty) positions on the part's
    // quantity axis (one ROWS-UNBOUNDED window per side, partitioned
    // by l_partkey — millions of uniform partitions, no hot key), and
    // FIFO matching IS interval overlap: matched qty = |r ∩ i|, cost =
    // Σ overlap · receipt unit cost. No iteration, no driver state —
    // the equi-join on partkey carries the overlap filter, and
    // per-part sequences are items-per-part-bounded so the pair join
    // is linear in lineitems. Receipts = odd line numbers, issues =
    // even (a deterministic split of the same table into two flows);
    // unit cost in integer cents (extendedprice·100 div qty — both
    // engines truncate positives identically). Issues beyond total
    // receipts stay unfilled (shortage), visible as issued > matched.
    // At 100 TB: two window passes + one equi-join, all partkey-local.
    "x193_fifo_costing" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, d).select(
        col("l_partkey").as("pk"),
        col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"),
        expr("""cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)
                div cast(l_quantity as bigint)""").as("cost_cents"))
      val w = Window.partitionBy("pk")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def flow(df: DataFrame) = df
        .withColumn("qe", sum("qty").over(w))
        .withColumn("qs", col("qe") - col("qty"))
        .select("pk", "qty", "cost_cents", "qs", "qe")
      val rcpt = flow(li.filter(col("l_linenumber") % 2 === 1))
      val iss = flow(li.filter(col("l_linenumber") % 2 === 0))
      val matched = rcpt.alias("r").join(iss.alias("i"),
          col("r.pk") === col("i.pk") &&
          col("r.qs") < col("i.qe") && col("i.qs") < col("r.qe"))
        .select(col("r.pk").as("pk"),
          (least(col("r.qe"), col("i.qe")) -
           greatest(col("r.qs"), col("i.qs"))).as("mq"),
          col("r.cost_cents"))
        .groupBy("pk")
        .agg(sum("mq").as("matched_qty"),
          sum(col("mq") * col("cost_cents")).as("fifo_cost_cents"))
      val recv = rcpt.groupBy("pk").agg(sum("qty").as("received_qty"))
      val issd = iss.groupBy("pk").agg(sum("qty").as("issued_qty"))
      recv.join(issd, Seq("pk"), "full_outer")
        .join(matched, Seq("pk"), "left_outer")
        .select(col("pk").as("l_partkey"),
          coalesce(col("received_qty"), lit(0L)).as("received_qty"),
          coalesce(col("issued_qty"), lit(0L)).as("issued_qty"),
          coalesce(col("matched_qty"), lit(0L)).as("matched_qty"),
          coalesce(col("fifo_cost_cents"), lit(0L)).as("fifo_cost_cents"))
        .orderBy("l_partkey")
    }),

    // X224: partition-spec evolution — the lake-format fact every
    // long-lived table hits: history was written partitioned by MONTH,
    // the spec later evolved to DAY, and both layouts must serve one
    // logical table with partition pruning reaching EACH epoch's own
    // directory structure (Iceberg evolves specs this way; plain-path
    // warehouses do it by hand exactly like this). The reader maps one
    // date-range predicate onto each epoch's partition column — a
    // month-string range on the old layout, a day-string range on the
    // new — so both legs prune at the FILE LISTING (partitionFilters,
    // spec-pinned with an unfiltered negative control), then unions the
    // surviving data columns. At 100 TB the point is what does NOT
    // happen: no rewrite of the month-era history to day grain, and no
    // full-listing scan of either era — the query touches ~4 months of
    // directories out of 7 years. Revenue in integer cents; the oracle
    // is the same range stated directly against the unpartitioned
    // table, so the hash proves the two-epoch read loses nothing at
    // either boundary.
    "x199_partition_evolution" -> ((s, d) => {
      val root = scratch("partevol_orders", d)
      val cut = lit("2001-01-01").cast("date")
      val o = Tables.orders(s, d)
        .withColumn("dt", col("o_orderdate").cast("date"))
      // one file per partition directory (repartition on the partition
      // key — the x138 discipline), month grain for the six-year
      // history, day grain only for the evolved era. The two epochs
      // share nothing — write them as concurrent jobs so one epoch's
      // task tail back-fills the other's commit latency (guide §2.6;
      // ~280 single-file directory commits dominate this row)
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        // EXPLICIT width on the key repartition: with the count left to
        // AQE the tiny-bytes exchange coalesced to ONE task that wrote
        // all 72 month directories serially (JobProbe: 3.3 s run,
        // 1.5 s cpu — pure sequential file-commit latency); directory
        // writes are commit-latency-dense per byte, so spread them
        // across the cluster's parallelism regardless of input bytes
        val par = s.sparkContext.defaultParallelism
        val fm = Future {
          o.filter(col("dt") < cut)
            .withColumn("o_month", date_format(col("dt"), "yyyy-MM"))
            .repartition(par, col("o_month"))
            .write.mode("overwrite").partitionBy("o_month").parquet(root + "/m")
        }
        val fd = Future {
          o.filter(col("dt") >= cut)
            .withColumn("o_day", date_format(col("dt"), "yyyy-MM-dd"))
            .repartition(par, col("o_day"))
            .write.mode("overwrite").partitionBy("o_day").parquet(root + "/d")
        }
        Await.result(fm, Duration.Inf)
        Await.result(fd, Duration.Inf)
      }
      // the logical predicate dt ∈ [2000-11-01, 2001-03-01), mapped
      // onto each epoch's partition column (epoch 0 holds only
      // pre-cutoff months, so the upper month bound is implied)
      val leg0 = s.read.parquet(root + "/m")
        .filter(col("o_month") >= "2000-11").drop("o_month")
      val leg1 = s.read.parquet(root + "/d")
        .filter(col("o_day") < "2001-03-01").drop("o_day")
      leg0.unionByName(leg1)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")).as("revenue_cents"))
        .orderBy("o_orderpriority")
    }),

    // X226: schema evolution on read (mergeSchema) — the other half of
    // X224's layout story: a column (`channel`) is ADDED to the table
    // partway through its life, and the invariant that matters at
    // 100 TB is that ZERO old files are rewritten — epoch-0 files
    // simply lack the column and readers see NULL there. The gate
    // writes both epochs (old schema / new schema), reads the single
    // root with mergeSchema (at scale the table format's catalog holds
    // the union schema and per-file footers are never re-listed), and
    // aggregates revenue by COALESCE(channel, 'legacy') — the
    // null-backfill read every additive migration relies on. The
    // oracle derives the same channel from the date cutover directly,
    // so the hash proves the merged read classifies every row exactly
    // as the migration intended (no row lost or double-bucketed at the
    // schema boundary). Spec pins that epoch 0 alone has NO channel
    // column while the merged read does.
    "x201_schema_merge_read" -> ((s, d) => {
      val root = scratch("schemaevo_orders", d)
      val cut = lit("2000-01-01").cast("date")
      val o = Tables.orders(s, d)
        .withColumn("dt", col("o_orderdate").cast("date"))
      o.filter(col("dt") < cut)
        .write.mode("overwrite").parquet(root + "/e0")
      o.filter(col("dt") >= cut)
        .withColumn("channel",
          expr("CASE o_orderkey % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'store' ELSE 'app' END"))
        .write.mode("overwrite").parquet(root + "/e1")
      s.read.option("mergeSchema", "true")
        .parquet(root + "/e0", root + "/e1")
        .groupBy(coalesce(col("channel"), lit("legacy")).as("channel"))
        .agg(count(lit(1)).as("n_orders"),
          sum((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")).as("revenue_cents"))
        .orderBy("channel")
    }),

    // X231: snapshot-retention audit — the maintenance decision beside
    // x157's time travel: which delta versions can be EXPIRED
    // (compacted away) without losing any reachable row? A version's
    // file is expire-safe exactly when every image in it is SUPERSEDED
    // by a later image of the same key — the rule Iceberg's
    // expire_snapshots applies to manifests, restated at row grain
    // over the same deterministic v0/v1/v2 delta construction x157
    // time-travels (updates, tombstones, late inserts). One
    // keys-grain max-version aggregate + one join classifies every
    // image; output is versions-sized. At 100 TB this audit is what
    // stops retention jobs from folding a version whose tombstones
    // are still the ONLY record that a key died — a tombstone is live
    // until a later image (or compaction) restates the key's fate,
    // which is why n_live counts it like any other image.
    "x206_version_retention" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val k = col("o_orderkey")
      val imgs = o.select(lit(0).as("version"), k.as("k"))
        .unionByName(o.filter(pmod(k, lit(7L)) === 3 && pmod(k, lit(13L)) =!= 2)
          .select(lit(1).as("version"), k.as("k")))
        .unionByName(o.filter(pmod(k, lit(13L)) === 2)
          .select(lit(1).as("version"), k.as("k")))
        .unionByName(o.filter(pmod(k, lit(19L)) === 4 && pmod(k, lit(13L)) =!= 2)
          .select(lit(2).as("version"), k.as("k")))
        .unionByName(o.filter(pmod(k, lit(17L)) === 1)
          .select(lit(2).as("version"), (k + 20000000L).as("k")))
      val latest = imgs.groupBy("k").agg(max("version").as("mxv"))
      imgs.join(latest, Seq("k"))
        .groupBy("version")
        .agg(count(lit(1)).as("n_images"),
          sum(when(col("version") < col("mxv"), 1L).otherwise(0L))
            .as("n_superseded"))
        .withColumn("n_live", col("n_images") - col("n_superseded"))
        .withColumn("expire_safe", (col("n_live") === 0).cast("int"))
        .orderBy("version")
    }),

    // X233: referential pseudonymization — the governance op between
    // x139's k-anonymity and x141's deletion sweep: replace a PII key
    // with a deterministic salted-hash token IN EVERY TABLE THAT
    // CARRIES IT, so analytics keep joining while the raw key leaves
    // the analytical zone. The property that matters (and the one
    // ad-hoc per-table hashing silently breaks by salting per table)
    // is REFERENTIAL CONSISTENCY: the same key maps to the same token
    // on both sides. The gate tokenizes customer.c_custkey and
    // orders.o_custkey with the same salted md5 (a codegen'd map — no
    // UDF), re-joins ON THE TOKENS, and rolls revenue up by segment;
    // the oracle computes the identical rollup over the PLAIN key
    // join, so hash equality proves the pseudonymized join neither
    // drops nor duplicates a single row (token collisions or salt
    // drift would both break it). At 100 TB tokenization is one
    // map-side projection per table; the token join shuffles exactly
    // like the key join it replaces. Real deployments swap md5 for
    // keyed HMAC/FPE — the salt is the stand-in for the key-management
    // half, which is policy, not plan shape.
    "x208_pseudonymize" -> ((s, d) => {
      def token(c: org.apache.spark.sql.Column) =
        md5(concat(lit("graft_pii_salt_v1:"), c.cast("string")))
      val cust = Tables.customer(s, d)
        .select(token(col("c_custkey")).as("cust_token"), col("c_mktsegment"))
      val ord = Tables.orders(s, d)
        .select(token(col("o_custkey")).as("cust_token"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
      ord.join(cust, Seq("cust_token"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("revenue_cents"))
        .orderBy("c_mktsegment")
    }),

    // X234: column-group correlation audit — the independence
    // assumption x187's System-R estimate leans on, tested per column
    // pair: ndv(a,b) · 10⁶ div (ndv(a) · ndv(b)) in ppm. A ratio near
    // 10⁶ means the columns fill their cross product (independent —
    // the CBO's multiplication is safe); a small ratio means
    // correlation, exactly where selectivity products go wrong and a
    // column-GROUP statistic (or x176's histogram) must replace them.
    // Three stated pairs over orders; each pair is its own aggregate
    // over a scan PRUNED to its two columns, so the multi-distinct
    // Expand only triples a two-column projection (bounded — what the
    // x85 lesson bans is Expand over full rows); outputs are 1-row
    // each. At 100 TB these run at ANALYZE cadence next to x85's
    // per-column stats, with HLL sketches replacing exact distincts at
    // profile scale (the x85 convention).
    "x209_column_correlation" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate").cast("date")).cast("long"))
      def pair(name: String, a: String, b: String): DataFrame =
        o.select(col(a).cast("string").as("a"), col(b).cast("string").as("b"))
          .agg(countDistinct("a").as("ndv_a"),
            countDistinct("b").as("ndv_b"),
            countDistinct(struct(col("a"), col("b"))).as("ndv_ab"))
          .select(lit(name).as("pair"), col("ndv_a"), col("ndv_b"),
            col("ndv_ab"),
            expr("ndv_ab * 1000000 div (ndv_a * ndv_b)").as("fill_ppm"))
      pair("priority_x_status", "o_orderpriority", "o_orderstatus")
        .unionByName(pair("priority_x_year", "o_orderpriority", "o_year"))
        .unionByName(pair("status_x_year", "o_orderstatus", "o_year"))
        .orderBy("pair")
    }),

    // X221: largest-remainder (Hamilton) integer apportionment — the
    // budget/quota allocation op every planning mart needs: split a
    // FIXED integer budget (10,000 units) across nations proportional
    // to order revenue, with Σ alloc ≡ budget EXACTLY (the property
    // naive per-row rounding violates). Pure integer arithmetic:
    // floor share = cents·B div total, then the B − Σ floors leftover
    // units go to the largest remainders (cents·B mod total), ties to
    // the smaller nation key — every step deterministic on both
    // engines. The grand total and leftover ride 1-row broadcast
    // frames (metadata, not data); the remainder rank is a 25-row
    // bounded window (nations-sized — the lint-exempt grid shape).
    // Long-overflow bound: cents·10⁴ stays under 2⁶³ to ~SF 10⁵.
    // At 100 TB the fact is touched once (one map-combined aggregate
    // to nation grain); everything after is nations-sized.
    "x196_lr_allocation" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 10000L
      val byNation = Tables.orders(s, d).join(
          broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
      val tot = byNation.agg(sum("cents").as("total_cents"))
      val shares = byNation.crossJoin(broadcast(tot))
        .withColumn("floor_share",
          expr(s"cents * $budget div total_cents"))
        .withColumn("rem", expr(s"(cents * $budget) % total_cents"))
      val leftover = shares
        .agg((lit(budget) - sum("floor_share")).as("left"))
      shares.crossJoin(broadcast(leftover))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("rem").desc, col("n_nationkey").asc)))
        .withColumn("extra",
          when(col("rnk") <= col("left"), 1L).otherwise(0L))
        .select(col("n_name"), col("cents"), col("floor_share"),
          col("extra"), (col("floor_share") + col("extra")).as("alloc"))
        .orderBy("n_name")
    }),

    // X222: 4-4-5 fiscal calendar rollup — retail/manufacturing close
    // their books on 52-week fiscal years of four quarters split into
    // 4-, 4- and 5-week periods, so "period over period" compares
    // equal week counts (the property calendar months lack). The
    // mapping is pure integer day arithmetic off a fixed fiscal epoch
    // (1992-01-01, fiscal week 1 day 1): day_idx div 364 → fiscal
    // year, (day_idx mod 364) div 7 → week 0..51, week div 13 →
    // quarter, week-in-quarter {0-3 → P1, 4-7 → P2, 8-12 → P3} — no
    // leap rules, no calendar lookup table, identical on both engines
    // (the real-world 53rd-week correction is a policy overlay on the
    // same index). One map-combined aggregate to (fy, fq, fp) grain;
    // output is periods-sized (~84 rows for 7 years) at any SF.
    "x197_fiscal_445" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("day_idx",
          datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date")))
        .withColumn("fy", expr("1992 + day_idx div 364"))
        .withColumn("wk", expr("(day_idx % 364) div 7"))
        .withColumn("fq", expr("wk div 13 + 1"))
        .withColumn("fp", expr(
          "(wk div 13) * 3 + CASE WHEN wk % 13 < 4 THEN 1 WHEN wk % 13 < 8 THEN 2 ELSE 3 END"))
      o.groupBy("fy", "fq", "fp")
        .agg(count(lit(1)).as("n_orders"),
          sum((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")).as("revenue_cents"))
        .orderBy("fy", "fq", "fp")
    }))

  def oracles: Map[String, String] = Map(

    // FIFO matching restated as the same cumulative-interval overlap
    "x193_fifo_costing" ->
      """WITH li AS (SELECT l_partkey AS pk, l_shipdate, l_orderkey, l_linenumber,
                            CAST(l_quantity AS BIGINT) AS qty,
                            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                              // CAST(l_quantity AS BIGINT) AS cost_cents
                     FROM lineitem),
              r AS (SELECT pk, qty, cost_cents,
                           SUM(qty) OVER w - qty AS qs, SUM(qty) OVER w AS qe
                    FROM li WHERE l_linenumber % 2 = 1
                    WINDOW w AS (PARTITION BY pk
                                 ORDER BY l_shipdate, l_orderkey, l_linenumber
                                 ROWS UNBOUNDED PRECEDING)),
              i AS (SELECT pk, qty, cost_cents,
                           SUM(qty) OVER w - qty AS qs, SUM(qty) OVER w AS qe
                    FROM li WHERE l_linenumber % 2 = 0
                    WINDOW w AS (PARTITION BY pk
                                 ORDER BY l_shipdate, l_orderkey, l_linenumber
                                 ROWS UNBOUNDED PRECEDING)),
              m AS (SELECT r.pk,
                           SUM(LEAST(r.qe, i.qe) - GREATEST(r.qs, i.qs)) AS matched_qty,
                           SUM((LEAST(r.qe, i.qe) - GREATEST(r.qs, i.qs)) * r.cost_cents)
                             AS fifo_cost_cents
                    FROM r JOIN i ON r.pk = i.pk AND r.qs < i.qe AND i.qs < r.qe
                    GROUP BY 1),
              rc AS (SELECT pk, SUM(qty) AS received_qty FROM r GROUP BY 1),
              sd AS (SELECT pk, SUM(qty) AS issued_qty FROM i GROUP BY 1)
         SELECT COALESCE(rc.pk, sd.pk) AS l_partkey,
                CAST(COALESCE(received_qty, 0) AS BIGINT) AS received_qty,
                CAST(COALESCE(issued_qty, 0) AS BIGINT) AS issued_qty,
                CAST(COALESCE(matched_qty, 0) AS BIGINT) AS matched_qty,
                CAST(COALESCE(fifo_cost_cents, 0) AS BIGINT) AS fifo_cost_cents
         FROM rc FULL OUTER JOIN sd ON rc.pk = sd.pk
                 LEFT JOIN m ON COALESCE(rc.pk, sd.pk) = m.pk
         ORDER BY l_partkey""",

    // the PLAIN-key join the pseudonymized join must reproduce exactly
    "x208_pseudonymize" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
                  AS revenue_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY c_mktsegment""",

    // exact pairwise ndv ratios, one mini-aggregate per stated pair
    "x209_column_correlation" ->
      """WITH o AS (SELECT o_orderpriority, o_orderstatus,
                           CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year
                    FROM orders),
              p1 AS (SELECT 'priority_x_status' AS pair,
                            CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS ndv_a,
                            CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS ndv_b,
                            CAST(count(DISTINCT (o_orderpriority, o_orderstatus)) AS BIGINT) AS ndv_ab
                     FROM o),
              p2 AS (SELECT 'priority_x_year',
                            CAST(count(DISTINCT o_orderpriority) AS BIGINT),
                            CAST(count(DISTINCT o_year) AS BIGINT),
                            CAST(count(DISTINCT (o_orderpriority, o_year)) AS BIGINT)
                     FROM o),
              p3 AS (SELECT 'status_x_year',
                            CAST(count(DISTINCT o_orderstatus) AS BIGINT),
                            CAST(count(DISTINCT o_year) AS BIGINT),
                            CAST(count(DISTINCT (o_orderstatus, o_year)) AS BIGINT)
                     FROM o),
              u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3)
         SELECT pair, ndv_a, ndv_b, ndv_ab,
                CAST(ndv_ab * 1000000 // (ndv_a * ndv_b) AS BIGINT) AS fill_ppm
         FROM u ORDER BY pair""",

    // the same v0/v1/v2 image construction as x157, classified by
    // per-key latest version
    "x206_version_retention" ->
      """WITH b AS (SELECT o_orderkey AS k FROM orders),
              i AS (SELECT 0 AS version, k FROM b
                    UNION ALL SELECT 1, k FROM b WHERE k % 7 = 3 AND k % 13 <> 2
                    UNION ALL SELECT 1, k FROM b WHERE k % 13 = 2
                    UNION ALL SELECT 2, k FROM b WHERE k % 19 = 4 AND k % 13 <> 2
                    UNION ALL SELECT 2, k + 20000000 FROM b WHERE k % 17 = 1),
              m AS (SELECT k, max(version) AS mxv FROM i GROUP BY 1)
         SELECT i.version,
                CAST(count(*) AS BIGINT) AS n_images,
                CAST(SUM(CASE WHEN i.version < m.mxv THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_superseded,
                CAST(count(*) - SUM(CASE WHEN i.version < m.mxv THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_live,
                CAST(CASE WHEN count(*) = SUM(CASE WHEN i.version < m.mxv THEN 1 ELSE 0 END)
                          THEN 1 ELSE 0 END AS INT) AS expire_safe
         FROM i JOIN m USING (k) GROUP BY i.version ORDER BY version""",

    // the merged-schema read must classify every row exactly as the
    // date-cutover migration intended
    "x201_schema_merge_read" ->
      """WITH o AS (SELECT CASE WHEN CAST(o_orderdate AS DATE) < DATE '2000-01-01'
                               THEN 'legacy'
                               ELSE CASE o_orderkey % 3 WHEN 0 THEN 'web'
                                                        WHEN 1 THEN 'store'
                                                        ELSE 'app' END
                          END AS channel,
                          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                   FROM orders)
         SELECT channel, CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(cents) AS BIGINT) AS revenue_cents
         FROM o GROUP BY 1 ORDER BY channel""",

    // the two-epoch partitioned read must equal the range stated
    // directly against the unpartitioned table
    "x199_partition_evolution" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
                  AS revenue_cents
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '2000-11-01'
           AND CAST(o_orderdate AS DATE) < DATE '2001-03-01'
         GROUP BY 1 ORDER BY o_orderpriority""",

    // Hamilton apportionment unrolled: floors, then largest remainders
    "x196_lr_allocation" ->
      """WITH n AS (SELECT n_nationkey, n_name,
                           SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
                    FROM orders JOIN customer ON o_custkey = c_custkey
                                JOIN nation ON c_nationkey = n_nationkey
                    GROUP BY 1, 2),
              s AS (SELECT n_nationkey, n_name, cents,
                           cents * 10000 // (SELECT SUM(cents) FROM n) AS floor_share,
                           (cents * 10000) % (SELECT SUM(cents) FROM n) AS rem
                    FROM n),
              k AS (SELECT *, row_number() OVER (ORDER BY rem DESC, n_nationkey ASC) AS rnk
                    FROM s)
         SELECT n_name, CAST(cents AS BIGINT) AS cents,
                CAST(floor_share AS BIGINT) AS floor_share,
                CAST(CASE WHEN rnk <= 10000 - (SELECT SUM(floor_share) FROM s)
                          THEN 1 ELSE 0 END AS BIGINT) AS extra,
                CAST(floor_share + CASE WHEN rnk <= 10000 - (SELECT SUM(floor_share) FROM s)
                                        THEN 1 ELSE 0 END AS BIGINT) AS alloc
         FROM k ORDER BY n_name""",

    // the same integer 4-4-5 index arithmetic off the fiscal epoch
    "x197_fiscal_445" ->
      """WITH o AS (SELECT date_diff('day', DATE '1992-01-01',
                                     CAST(o_orderdate AS DATE)) AS day_idx,
                           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                    FROM orders),
              f AS (SELECT 1992 + day_idx // 364 AS fy,
                           (day_idx % 364) // 7 AS wk, cents
                    FROM o)
         SELECT CAST(fy AS INT) AS fy,
                CAST(wk // 13 + 1 AS INT) AS fq,
                CAST((wk // 13) * 3 + CASE WHEN wk % 13 < 4 THEN 1
                                           WHEN wk % 13 < 8 THEN 2
                                           ELSE 3 END AS INT) AS fp,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(cents) AS BIGINT) AS revenue_cents
         FROM f GROUP BY 1, 2, 3 ORDER BY fy, fq, fp""",

    "x133_mv_rewrite" ->
      """SELECT l_returnflag,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                CAST(MIN(l_shipdate) AS DATE) AS first_ship,
                CAST(MAX(l_shipdate) AS DATE) AS last_ship,
                CAST(COUNT(*) AS BIGINT) AS n_items
         FROM lineitem WHERE l_returnflag <> 'N'
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "x134_late_dim" ->
      """WITH snap AS (SELECT p_partkey, p_brand FROM part WHERE p_partkey % 97 <> 0),
              inferred AS (SELECT DISTINCT l_partkey AS p_partkey FROM lineitem
                           WHERE l_partkey NOT IN (SELECT p_partkey FROM snap)),
              dim1 AS (SELECT p_partkey, p_brand FROM snap
                       UNION ALL SELECT p_partkey, '(inferred)' FROM inferred),
              dim2 AS (SELECT p_partkey, p_brand FROM snap
                       UNION ALL SELECT p.p_partkey, p.p_brand
                       FROM part p JOIN inferred i ON p.p_partkey = i.p_partkey),
              rev AS (SELECT l_partkey AS p_partkey,
                             l_extendedprice * (1.0 - l_discount) AS r FROM lineitem),
              a1 AS (SELECT 'placeholder' AS phase, d.p_brand,
                            CAST(SUM(CAST(r AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
                            CAST(COUNT(*) AS BIGINT) AS n_items
                     FROM rev JOIN dim1 d USING (p_partkey) GROUP BY d.p_brand),
              a2 AS (SELECT 'backfilled' AS phase, d.p_brand,
                            CAST(SUM(CAST(r AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
                            CAST(COUNT(*) AS BIGINT) AS n_items
                     FROM rev JOIN dim2 d USING (p_partkey) GROUP BY d.p_brand)
         SELECT phase, p_brand, revenue, n_items
         FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
         ORDER BY phase, p_brand""",

    "x135_accum_snapshot" ->
      """WITH m AS (SELECT l_orderkey AS o_orderkey, MIN(l_shipdate) AS first_ship,
                           MAX(l_shipdate) AS last_ship, COUNT(*) AS n_lines
                    FROM lineitem GROUP BY 1),
              snap AS (SELECT o.o_orderpriority,
                              datediff('day', o.o_orderdate, m.first_ship) AS lag_first,
                              datediff('day', m.first_ship, m.last_ship) AS span,
                              m.first_ship, m.n_lines
                       FROM orders o LEFT JOIN m USING (o_orderkey))
         SELECT o_orderpriority,
                CAST(COUNT(*) AS BIGINT) AS n_orders,
                CAST(COUNT(first_ship) AS BIGINT) AS n_started,
                CAST(SUM(COALESCE(lag_first, 0)) AS BIGINT) AS sum_lag_days,
                CAST(SUM(COALESCE(span, 0)) AS BIGINT) AS sum_span_days,
                CAST(MAX(span) AS BIGINT) AS max_span_days,
                CAST(SUM(COALESCE(n_lines, 0)) AS BIGINT) AS n_lineitems
         FROM snap GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "x136_fd_audit" -> {
      def fd(table: String, lhs: String, rhs: String): String =
        s"""SELECT '$table.$lhs->$rhs' AS fd,
                   CAST(COUNT(*) AS BIGINT) AS n_lhs,
                   CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol,
                   CAST(MAX(k) AS BIGINT) AS max_rhs,
                   CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS viol_ppm
            FROM (SELECT $lhs, COUNT(*) AS k
                  FROM (SELECT DISTINCT $lhs, $rhs FROM $table) GROUP BY $lhs)"""
      Seq(
        fd("orders", "o_orderkey", "o_custkey"),
        fd("orders", "o_custkey", "o_orderpriority"),
        fd("lineitem", "l_orderkey", "l_returnflag"),
        fd("lineitem", "l_partkey", "l_suppkey"),
        fd("customer", "c_nationkey", "c_mktsegment"),
        fd("part", "p_brand", "p_type"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY fd")
    },

    "x138_dpp" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
                CAST(COUNT(*) AS BIGINT) AS n_items
         FROM lineitem WHERE month(l_shipdate) <= 3
         GROUP BY 1 ORDER BY 1""",

    // plain join SQL: the gate hash proves the bloom-pruned scan
    // loses no rows (the filter is one-sided by construction)
    "x140_runtime_filter" ->
      """SELECT l_returnflag,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
                CAST(COUNT(*) AS BIGINT) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    // the naive count the bitmap algebra must reproduce
    "x141_bitmap_index" ->
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_pair
         FROM documents GROUP BY lang, source ORDER BY lang, source""",

    // the quadratic dominance definition (Börzsönyi 2001): the engine's
    // grid refinement must select exactly the non-dominated set
    "x142_skyline" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
                      FROM documents),
              pts AS (
           SELECT doc_id,
                  CAST(len(t) AS BIGINT) AS w,
                  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS q
           FROM tok WHERE len(t) > 0)
         SELECT p.doc_id, p.w, p.q
         FROM pts p
         WHERE NOT EXISTS (
           SELECT 1 FROM pts o
           WHERE o.w >= p.w AND o.q >= p.q AND (o.w > p.w OR o.q > p.q))
         ORDER BY p.doc_id""",

    // the query WITH the dimension join: the gate hash proves
    // elimination under the declared constraints loses nothing
    "x143_join_elim" ->
      """SELECT l_returnflag,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(COUNT(*) AS BIGINT) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "x144_semi_additive" ->
      """WITH ranked AS (
           SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS month, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey, strftime(o_orderdate, '%Y-%m')
                                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM orders)
         SELECT month,
                CAST(COUNT(*) AS BIGINT) AS n_accounts,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
         FROM ranked WHERE rn = 1
         GROUP BY month ORDER BY month""",

    "x145_periodic_snapshot" ->
      """WITH o AS (SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS month,
                           o_orderdate, o_orderkey, o_totalprice FROM orders),
              ranked AS (SELECT o_custkey, month, o_totalprice,
                                row_number() OVER (PARTITION BY o_custkey, month
                                                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                         FROM o),
              month_end AS (SELECT o_custkey, month, o_totalprice AS balance
                            FROM ranked WHERE rn = 1),
              months AS (SELECT DISTINCT month FROM o),
              spine AS (SELECT c_custkey AS o_custkey, month FROM customer CROSS JOIN months),
              carried AS (
                SELECT s.month,
                       last_value(m.balance IGNORE NULLS) OVER (
                         PARTITION BY s.o_custkey ORDER BY s.month
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
                FROM spine s LEFT JOIN month_end m
                  ON s.o_custkey = m.o_custkey AND s.month = m.month)
         SELECT month,
                CAST(COUNT(carried) AS BIGINT) AS n_accounts,
                CAST(SUM(CAST(carried AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
         FROM carried GROUP BY month ORDER BY month""",

    // the query WITH the defensive DISTINCT: elimination under the
    // declared PK must be invisible in the values
    "x146_distinct_elim" ->
      """SELECT o_orderpriority,
                CAST(COUNT(*) AS BIGINT) AS n_orders,
                CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
                CAST(MAX(o_orderkey) AS BIGINT) AS max_key
         FROM (SELECT DISTINCT o_orderkey, o_custkey, o_orderpriority FROM orders)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "x139_hierarchy" ->
      """WITH RECURSIVE n AS (SELECT c_custkey AS id,
                                     CASE WHEN c_custkey = 0 THEN NULL
                                          ELSE c_custkey // 8 END AS parent,
                                     c_acctbal FROM customer),
              r AS (SELECT id, id AS root, CAST(0 AS BIGINT) AS depth
                    FROM n WHERE parent IS NULL
                    UNION ALL
                    SELECT n.id, r.root, r.depth + 1
                    FROM n JOIN r ON n.parent = r.id)
         SELECT r.depth,
                CAST(COUNT(*) AS BIGINT) AS n_nodes,
                CAST(COUNT(DISTINCT r.root) AS BIGINT) AS n_roots,
                CAST(SUM(CAST(n.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
         FROM r JOIN n USING (id)
         GROUP BY r.depth ORDER BY r.depth""",

    // the same largest-remainder apportionment stated in SQL — the
    // hash gate proves the integer allocation deterministic cross-engine
    "x148_bridge_alloc" ->
      """WITH w AS (SELECT l_orderkey, l_linenumber, l_partkey,
                           CAST(round(l_extendedprice * 100) AS BIGINT) AS w
                    FROM lineitem),
              o AS (SELECT o_orderkey AS l_orderkey,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS tc
                    FROM orders),
              j AS (SELECT w.*, o.tc,
                           SUM(w.w) OVER (PARTITION BY w.l_orderkey) AS sw
                    FROM w JOIN o USING (l_orderkey)),
              b AS (SELECT *, (tc * w) // sw AS base, (tc * w) % sw AS fr FROM j),
              r AS (SELECT *,
                           row_number() OVER (PARTITION BY l_orderkey
                                              ORDER BY fr DESC, l_linenumber) AS rk,
                           tc - SUM(base) OVER (PARTITION BY l_orderkey) AS rem
                    FROM b),
              a AS (SELECT l_partkey AS p_partkey,
                           base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS alloc
                    FROM r)
         SELECT p_brand,
                CAST(SUM(alloc) AS BIGINT) AS alloc_cents,
                CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM a JOIN part USING (p_partkey)
         GROUP BY p_brand ORDER BY p_brand""",

    "x149_factless_coverage" ->
      """WITH act AS (SELECT DISTINCT c.c_nationkey AS a_nat,
                                      strftime(o.o_orderdate, '%Y-%m') AS a_month
                      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
              months AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month
                         FROM orders),
              grid AS (SELECT n_nationkey, n_name, month FROM nation CROSS JOIN months)
         SELECT g.n_name,
                CAST(COUNT(*) AS BIGINT) AS n_months,
                CAST(COUNT(a.a_month) AS BIGINT) AS n_active,
                CAST(SUM(CASE WHEN a.a_month IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gap,
                COALESCE(MIN(CASE WHEN a.a_month IS NULL THEN g.month END), '') AS first_gap
         FROM grid g LEFT JOIN act a
           ON g.n_nationkey = a.a_nat AND g.month = a.a_month
         GROUP BY g.n_name ORDER BY g.n_name""",

    "x150_scd3" ->
      """WITH ranked AS (
           SELECT o_custkey, o_orderpriority,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM orders),
              dim3 AS (
           SELECT o_custkey,
                  MAX(CASE WHEN rn = 1 THEN o_orderpriority END) AS curr,
                  MAX(CASE WHEN rn = 2 THEN o_orderpriority END) AS prev_raw
           FROM ranked WHERE rn <= 2 GROUP BY o_custkey)
         SELECT curr, COALESCE(prev_raw, '(none)') AS prev,
                CAST(COUNT(*) AS BIGINT) AS n_customers
         FROM dim3 GROUP BY curr, prev ORDER BY curr, prev""",

    "x151_minidim" ->
      """WITH prof AS (
           SELECT c_custkey,
                  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                  c_mktsegment AS segment, r_name AS region
           FROM customer
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
              dim AS (
           SELECT row_number() OVER (ORDER BY bal_band, segment, region) AS profile_key,
                  bal_band, segment, region
           FROM (SELECT DISTINCT bal_band, segment, region FROM prof)),
              cust AS (
           SELECT p.c_custkey, d.profile_key FROM prof p
           JOIN dim d ON p.bal_band = d.bal_band
                     AND p.segment = d.segment AND p.region = d.region),
              co AS (SELECT profile_key, COUNT(*) AS n_customers FROM cust GROUP BY 1),
              oo AS (SELECT profile_key, COUNT(*) AS n_orders,
                            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
                     FROM orders JOIN cust ON o_custkey = c_custkey GROUP BY 1)
         SELECT d.profile_key, d.bal_band, d.segment, d.region,
                CAST(co.n_customers AS BIGINT) AS n_customers,
                CAST(COALESCE(oo.n_orders, 0) AS BIGINT) AS n_orders,
                CAST(COALESCE(oo.rev, 0) AS DOUBLE) AS revenue
         FROM dim d JOIN co USING (profile_key) LEFT JOIN oo USING (profile_key)
         ORDER BY d.profile_key""",

    "x152_role_playing" ->
      """WITH dd AS (
           SELECT dd, CAST(year(dd) AS VARCHAR) || '-Q' || CAST(quarter(dd) AS VARCHAR) AS q
           FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS dd FROM orders
                 UNION SELECT DISTINCT CAST(l_shipdate AS DATE) FROM lineitem)),
              f AS (
           SELECT CAST(o_orderdate AS DATE) AS od, CAST(l_shipdate AS DATE) AS sd,
                  l_extendedprice * (1.0 - l_discount) AS r
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         SELECT o.q AS order_quarter, s.q AS ship_quarter,
                CAST(COUNT(*) AS BIGINT) AS n_items,
                CAST(SUM(CAST(r AS DECIMAL(28,6))) AS DOUBLE) AS revenue
         FROM f JOIN dd o ON f.od = o.dd JOIN dd s ON f.sd = s.dd
         GROUP BY o.q, s.q ORDER BY order_quarter, ship_quarter""",

    "q_chain_direct" -> chainOracleSql,
    "x153_yannakakis" -> chainOracleSql,

    // the X190 pair shares the direct star SQL: hash equality proves
    // join-elim + navigator cascade ≡ the query as written
    "q_star_bi_plain" -> starBiOracleSql,
    "x166_star_bi_cascade" -> starBiOracleSql,

    // each version's joint state reconstructed directly; the merge-
    // then-join must reproduce it exactly
    "x179_snapshot_join" ->
      """WITH o0 AS (SELECT o_orderkey AS k, o_custkey AS ck,
                            CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
              o1 AS (SELECT k, ck,
                            CASE WHEN k % 7 = 3 THEN CAST(p + 50 AS DECIMAL(18,2))
                                 ELSE p END AS p FROM o0),
              o2 AS (SELECT * FROM o1
                     UNION ALL
                     SELECT -k, ck, p FROM o0 WHERE k % 23 = 5),
              c0 AS (SELECT c_custkey AS ck, c_mktsegment AS seg FROM customer),
              c1 AS (SELECT ck, CASE WHEN ck % 11 = 2 THEN 'MOVED' ELSE seg END AS seg
                     FROM c0),
              c2 AS (SELECT ck, seg FROM c1 WHERE ck % 13 <> 7)
         SELECT * FROM (
           SELECT 0 AS version, seg AS c_mktsegment,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(SUM(p) AS DOUBLE) AS total
           FROM o0 JOIN c0 USING (ck) GROUP BY seg
           UNION ALL
           SELECT 1, seg, CAST(count(*) AS BIGINT), CAST(SUM(p) AS DOUBLE)
           FROM o1 JOIN c1 USING (ck) GROUP BY seg
           UNION ALL
           SELECT 2, seg, CAST(count(*) AS BIGINT), CAST(SUM(p) AS DOUBLE)
           FROM o2 JOIN c2 USING (ck) GROUP BY seg)
         ORDER BY version, c_mktsegment""",

    // the cache-served result must hash-equal the direct rollup
    "x178_result_cache" ->
      """SELECT o_orderpriority,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // the same three greedy rounds UNROLLED: per-grouping cardinalities
    // off one CUBE pass, benefit = Σ_w⊆v max(0, cost_S(w) − |v|),
    // tie-break benefit desc then node asc — selection and arithmetic
    // both under the hash
    "x189_view_selection" ->
      """WITH l AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
                           YEAR(CAST(l_shipdate AS DATE)) AS yr FROM lineitem),
              f AS (SELECT count(*) AS nf FROM l),
              combos AS (SELECT 7 - (GROUPING(rf)*1 + GROUPING(ls)*2
                                     + GROUPING(yr)*4) AS node
                         FROM l GROUP BY CUBE (rf, ls, yr)),
              lat AS (SELECT CAST(node AS INT) AS node,
                             CAST(count(*) AS BIGINT) AS card
                      FROM combos GROUP BY node),
              pairs AS (SELECT a.node AS v, a.card AS vcard, b.node AS w
                        FROM lat a JOIN lat b ON (b.node & a.node) = b.node),
              b1 AS (SELECT v, vcard,
                            SUM(CASE WHEN nf > vcard THEN nf - vcard ELSE 0 END) AS benefit
                     FROM pairs, f GROUP BY v, vcard, nf),
              p1 AS (SELECT v, vcard, benefit FROM b1
                     ORDER BY benefit DESC, v ASC LIMIT 1),
              c1 AS (SELECT lat.node AS w,
                            least(nf, CASE WHEN (lat.node & p1.v) = lat.node
                                           THEN p1.vcard ELSE nf END) AS c
                     FROM lat, f, p1),
              b2 AS (SELECT p.v, p.vcard,
                            SUM(CASE WHEN c1.c > p.vcard THEN c1.c - p.vcard ELSE 0 END) AS benefit
                     FROM pairs p JOIN c1 ON c1.w = p.w
                     WHERE p.v <> (SELECT v FROM p1)
                     GROUP BY p.v, p.vcard),
              p2 AS (SELECT v, vcard, benefit FROM b2
                     ORDER BY benefit DESC, v ASC LIMIT 1),
              c2 AS (SELECT c1.w AS w,
                            least(c1.c, CASE WHEN (c1.w & p2.v) = c1.w
                                             THEN p2.vcard ELSE c1.c END) AS c
                     FROM c1, p2),
              b3 AS (SELECT p.v, p.vcard,
                            SUM(CASE WHEN c2.c > p.vcard THEN c2.c - p.vcard ELSE 0 END) AS benefit
                     FROM pairs p JOIN c2 ON c2.w = p.w
                     WHERE p.v NOT IN (SELECT v FROM p1 UNION ALL SELECT v FROM p2)
                     GROUP BY p.v, p.vcard),
              p3 AS (SELECT v, vcard, benefit FROM b3
                     ORDER BY benefit DESC, v ASC LIMIT 1)
         SELECT CAST(round AS INT) AS round, node, card,
                CAST(benefit AS BIGINT) AS benefit
         FROM (SELECT 1 AS round, v AS node, vcard AS card, benefit FROM p1
               UNION ALL SELECT 2, v, vcard, benefit FROM p2
               UNION ALL SELECT 3, v, vcard, benefit FROM p3)
         ORDER BY round""",

    // the same deterministic 4/256 md5-bucket cut (x42's assign
    // expression) scaled by 64; signed ppm via sign·(abs // exact) so
    // both engines divide non-negatives only
    "x188_aqp_sample" ->
      """WITH o AS (SELECT o_orderpriority,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                  (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) AS bucket
                FROM orders),
              g AS (SELECT o_orderpriority,
                           CAST(count(*) AS BIGINT) AS n_exact,
                           SUM(cents) AS cents_exact,
                           SUM(CASE WHEN bucket < 4 THEN 1 ELSE 0 END) AS n_sample,
                           SUM(CASE WHEN bucket < 4 THEN cents ELSE 0 END) AS cents_sample
                    FROM o GROUP BY 1)
         SELECT o_orderpriority, n_exact,
                CAST(n_sample * 64 AS BIGINT) AS n_est,
                CAST(CASE WHEN n_sample * 64 >= n_exact
                          THEN (n_sample * 64 - n_exact) * 1000000 // n_exact
                          ELSE -((n_exact - n_sample * 64) * 1000000 // n_exact)
                     END AS BIGINT) AS n_err_ppm,
                CAST(cents_exact AS DOUBLE) / 100.0 AS total_exact,
                CAST(cents_sample * 64 AS DOUBLE) / 100.0 AS total_est,
                CAST(CASE WHEN cents_sample * 64 >= cents_exact
                          THEN (cents_sample * 64 - cents_exact) * 1000000 // cents_exact
                          ELSE -((cents_exact - cents_sample * 64) * 1000000 // cents_exact)
                     END AS BIGINT) AS total_err_ppm
         FROM g ORDER BY o_orderpriority""",

    // the System-R estimate and the per-date-product exact size,
    // restated declaratively
    "x187_joinsize_est" ->
      """WITH od AS (SELECT CAST(o_orderdate AS DATE) AS dt, count(*) AS n_o
                     FROM orders GROUP BY 1),
              ld AS (SELECT CAST(l_shipdate AS DATE) AS dt, count(*) AS n_l
                     FROM lineitem GROUP BY 1),
              j AS (SELECT COALESCE(od.dt, ld.dt) AS dt,
                           COALESCE(n_o, 0) AS n_o, COALESCE(n_l, 0) AS n_l
                    FROM od FULL OUTER JOIN ld ON od.dt = ld.dt),
              m AS (SELECT strftime(dt, '%Y-%m') AS month,
                           SUM(n_o * n_l) AS exact_rows,
                           SUM(n_o) AS no_tot, SUM(n_l) AS nl_tot,
                           SUM(CASE WHEN n_o > 0 THEN 1 ELSE 0 END) AS ndv_o,
                           SUM(CASE WHEN n_l > 0 THEN 1 ELSE 0 END) AS ndv_l
                    FROM j GROUP BY 1),
              e AS (SELECT month, exact_rows,
                           no_tot * nl_tot // greatest(ndv_o, ndv_l) AS est_rows
                    FROM m)
         SELECT month, CAST(exact_rows AS BIGINT) AS exact_rows,
                CAST(est_rows AS BIGINT) AS est_rows,
                CAST(CASE WHEN exact_rows = 0
                          THEN CASE WHEN est_rows = 0 THEN 0 ELSE 1000000 END
                          ELSE abs(est_rows - exact_rows) * 1000000 // exact_rows
                     END AS BIGINT) AS err_ppm
         FROM e ORDER BY month""",

    // quantile_cont octiles (GroupedQuantiles ≡ quantile_cont is the
    // a17-proven contract), same strictly-greater bucket rule
    "x176_equidepth_hist" -> {
      val qs = (1 to 7).map(i =>
        s"quantile_cont(o_totalprice, ${i / 8.0}) AS q$i").mkString(", ")
      val bucket = (1 to 7).map(i =>
        s"CASE WHEN v > q$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH q AS (SELECT $qs FROM orders),
          t AS (SELECT o_totalprice AS v FROM orders),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t),
          b AS (SELECT ($bucket) AS bucket, v FROM t, q)
         SELECT bucket, MIN(v) AS lo, MAX(v) AS hi,
                CAST(count(*) AS BIGINT) AS n_rows,
                n_total // 8 AS ideal,
                abs(count(*) - n_total // 8) * 1000000 // (n_total // 8) AS dev_ppm
         FROM b, tot GROUP BY bucket, n_total ORDER BY bucket"""
    },

    // the DIRECT rescan the shard-partial merge must reproduce exactly
    // (same cents-domain integer moments)
    "x175_incremental_stats" ->
      """WITH t AS (SELECT o_orderstatus,
                           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
                    FROM orders),
              a AS (SELECT o_orderstatus,
                           CAST(count(*) AS BIGINT) AS n_rows,
                           CAST(SUM(xc) AS BIGINT) AS s1,
                           SUM(CAST(xc AS HUGEINT) * xc) AS s2
                    FROM t GROUP BY o_orderstatus),
              mm AS (SELECT o_orderstatus,
                            CAST(MIN(xc) AS DOUBLE) / 100.0 AS min_price,
                            CAST(MAX(xc) AS DOUBLE) / 100.0 AS max_price
                     FROM t GROUP BY o_orderstatus)
         SELECT a.o_orderstatus, a.n_rows,
                CAST(s1 AS DOUBLE) / 100.0 AS total,
                CAST(s1 AS DOUBLE) / (CAST(n_rows AS DOUBLE) * 100.0) AS mean,
                CAST((n_rows * s2 - CAST(s1 AS HUGEINT) * s1)
                     // (CAST(n_rows AS HUGEINT) * n_rows * 10) AS BIGINT)
                  AS var_pop_milli,
                mm.min_price, mm.max_price
         FROM a JOIN mm USING (o_orderstatus) ORDER BY a.o_orderstatus""",

    // the same grid-blocked overlap join restated in date arithmetic
    "x169_interval_join" ->
      """WITH iv AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS st,
                            CAST(o_orderdate AS DATE)
                              + CAST(o_orderkey % 7 + 1 AS INT) AS en
                     FROM orders),
              pr AS (SELECT p_st, p_st + 10 AS p_en,
                            strftime(p_st, '%Y-%m') AS promo_month
                     FROM (SELECT DISTINCT
                             CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS p_st
                           FROM orders)),
              ex AS (SELECT o_orderkey, st, en,
                            CAST(date_trunc('month', st) AS DATE) AS p_st FROM iv
                     UNION
                     SELECT o_orderkey, st, en,
                            CAST(date_trunc('month', en) AS DATE) FROM iv),
              j AS (SELECT promo_month,
                           greatest(0, date_diff('day', greatest(st, p_st),
                                                 least(en, p_en))) AS od
                    FROM ex JOIN pr USING (p_st))
         SELECT promo_month, CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(od) AS BIGINT) AS total_overlap_days
         FROM j WHERE od > 0
         GROUP BY promo_month ORDER BY promo_month""",

    // the three-clause MERGE reconstructed declaratively
    "x171_merge_upsert" ->
      """WITH state AS (SELECT o_orderkey AS k,
                               CAST(o_totalprice AS DECIMAL(18,2)) AS tp,
                               o_orderstatus AS tst FROM orders),
              src AS (
                SELECT o_orderkey AS k, 'U' AS op,
                       CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS DECIMAL(18,2)) AS sp,
                       o_orderstatus AS sst
                FROM orders WHERE o_orderkey % 5 = 1
                UNION ALL
                SELECT o_orderkey, 'D', CAST(o_totalprice AS DECIMAL(18,2)),
                       o_orderstatus
                FROM orders WHERE o_orderkey % 5 = 2 AND o_orderkey % 7 = 0
                UNION ALL
                SELECT -o_orderkey, 'I',
                       CAST(o_totalprice AS DECIMAL(18,2)), o_orderstatus
                FROM orders WHERE o_orderkey % 5 = 3),
              m AS (SELECT
                      CASE WHEN s.op IS NULL THEN 'keep'
                           WHEN t.tp IS NULL THEN 'insert'
                           WHEN s.op = 'D' THEN 'delete'
                           ELSE 'update' END AS action,
                      CASE WHEN s.op = 'U' THEN s.sp
                           WHEN t.tp IS NULL THEN s.sp
                           ELSE t.tp END AS p,
                      COALESCE(t.tst, s.sst) AS o_orderstatus
                    FROM state t FULL OUTER JOIN src s ON t.k = s.k)
         SELECT o_orderstatus,
                CAST(SUM(CASE WHEN action <> 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
                CAST(SUM(CASE WHEN action <> 'delete' THEN p ELSE 0 END) AS DOUBLE) AS total_price,
                CAST(SUM(CASE WHEN action = 'update' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
                CAST(SUM(CASE WHEN action = 'insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
                CAST(SUM(CASE WHEN action = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted
         FROM m GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "x154_retractable_ivm" ->
      """SELECT o_orderstatus,
                CAST(COUNT(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) AS avg_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // the streaming sink's converged snapshot must equal the aggregate
    // of the FINAL table state (v0 ⊕ delta ≡ orders, as in x154)
    "x181_retract_sink" ->
      """SELECT o_orderstatus,
                CAST(COUNT(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // dense_rank over the distinct values IS the order-preserving
    // dictionary; the rollup must match the two-phase rank exactly
    "x183_dict_encode" ->
      """WITH dv AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS v FROM orders),
              dict AS (SELECT v, row_number() OVER (ORDER BY v) AS id FROM dv),
              e AS (SELECT CAST(o_orderdate AS DATE) AS v FROM orders)
         SELECT (id - 1) // 100 AS bucket,
                CAST(count(DISTINCT e.v) AS BIGINT) AS n_values,
                CAST(min(id) AS BIGINT) AS id_min,
                CAST(max(id) AS BIGINT) AS id_max,
                strftime(min(e.v), '%Y-%m-%d') AS date_min,
                strftime(max(e.v), '%Y-%m-%d') AS date_max,
                CAST(count(*) AS BIGINT) AS n_orders
         FROM e JOIN dict USING (v)
         GROUP BY 1 ORDER BY bucket""",

    // the append-only two-epoch assignment restated declaratively:
    // epoch-0 ids are the pre-cutoff rank, epoch-1 ids offset past K
    "x184_dict_evolve" ->
      """WITH dv AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS v FROM orders),
              oldd AS (SELECT v, row_number() OVER (ORDER BY v) AS id, 0 AS epoch
                       FROM dv WHERE v < DATE '1997-06-01'),
              k AS (SELECT count(*) AS k0 FROM oldd),
              newd AS (SELECT v, row_number() OVER (ORDER BY v) + k0 AS id, 1 AS epoch
                       FROM dv, k WHERE v >= DATE '1997-06-01'),
              dict AS (SELECT * FROM oldd UNION ALL SELECT * FROM newd),
              e AS (SELECT CAST(o_orderdate AS DATE) AS v FROM orders)
         SELECT epoch,
                CAST(count(DISTINCT e.v) AS BIGINT) AS n_values,
                CAST(min(id) AS BIGINT) AS id_min,
                CAST(max(id) AS BIGINT) AS id_max,
                CAST(count(*) AS BIGINT) AS n_orders
         FROM e JOIN dict USING (v)
         GROUP BY epoch ORDER BY epoch""",

    // the same fan-out classification over the same colliding feed
    "x185_merge_cardinality" ->
      """WITH src AS (
           SELECT o_orderkey AS k, 'U' AS op FROM orders WHERE o_orderkey % 5 = 1
           UNION ALL
           SELECT o_orderkey, 'U' FROM orders
           WHERE o_orderkey % 5 = 1 AND o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey, 'D' FROM orders
           WHERE o_orderkey % 5 = 1 AND o_orderkey % 11 = 0),
              g AS (SELECT k, count(*) AS fan_out,
                           SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS n_upd,
                           SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS n_del
                    FROM src GROUP BY k),
              c AS (SELECT fan_out,
                           CASE WHEN n_del > 0 AND n_upd > 0 THEN 'update+delete'
                                WHEN n_upd > 1 THEN 'update+update'
                                WHEN fan_out = 1 THEN 'clean'
                                ELSE 'other' END AS mix
                    FROM g)
         SELECT CAST(fan_out AS BIGINT) AS fan_out, mix,
                CAST(count(*) AS BIGINT) AS n_keys
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""",

    // the naive whole-table diff grouped by bucket: the engine's
    // checksum-gated phase-2 must find exactly these buckets and counts
    "x155_bucket_diff" ->
      """WITH p AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey IN (112, 256, 400)
                       THEN o_totalprice + 1.0 ELSE o_totalprice END AS tp
           FROM orders),
              rep AS (
           SELECT o_orderkey, tp FROM p WHERE o_orderkey NOT IN (113, 257)
           UNION ALL
           SELECT o_orderkey + 10000000, tp FROM p WHERE o_orderkey = 114),
              src AS (SELECT o_orderkey, o_totalprice AS tp FROM orders),
              diff AS (
           SELECT COALESCE(s.o_orderkey, r.o_orderkey) % 16 AS bucket,
                  CASE WHEN r.o_orderkey IS NULL THEN 1 ELSE 0 END AS m,
                  CASE WHEN s.o_orderkey IS NULL THEN 1 ELSE 0 END AS e,
                  CASE WHEN s.o_orderkey IS NOT NULL AND r.o_orderkey IS NOT NULL
                            AND s.tp <> r.tp THEN 1 ELSE 0 END AS c
           FROM src s FULL OUTER JOIN rep r ON s.o_orderkey = r.o_orderkey)
         SELECT bucket,
                CAST(SUM(m) AS BIGINT) AS n_missing,
                CAST(SUM(e) AS BIGINT) AS n_extra,
                CAST(SUM(c) AS BIGINT) AS n_changed
         FROM diff GROUP BY bucket
         HAVING SUM(m) + SUM(e) + SUM(c) > 0
         ORDER BY bucket""",

    // each version's state reconstructed from the base table with the
    // same deterministic change sets the engine wrote as deltas
    "x157_time_travel" ->
      """WITH base AS (SELECT o_orderkey AS k,
                              CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
              s0 AS (SELECT k, p FROM base),
              s1 AS (SELECT k,
                            CASE WHEN k % 7 = 3 THEN p + 50 ELSE p END AS p
                     FROM base WHERE k % 13 <> 2),
              s2 AS (SELECT k,
                            CASE WHEN k % 19 = 4 THEN p + 25
                                 WHEN k % 7 = 3 THEN p + 50 ELSE p END AS p
                     FROM base WHERE k % 13 <> 2
                     UNION ALL
                     SELECT k + 20000000, p FROM base WHERE k % 17 = 1)
         SELECT * FROM (
           SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(p) AS DOUBLE) AS total FROM s0
           UNION ALL
           SELECT 1, CAST(COUNT(*) AS BIGINT), CAST(SUM(p) AS DOUBLE) FROM s1
           UNION ALL
           SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(p) AS DOUBLE) FROM s2)
         ORDER BY version""",

    "x158_ind_audit" -> {
      def ind(lt: String, lc: String, rt: String, rc: String): String =
        s"""SELECT '$lt.$lc<$rt.$rc' AS ind,
                   CAST(COUNT(*) AS BIGINT) AS n_lhs,
                   CAST(SUM(CASE WHEN r.v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
                   CAST(CASE WHEN SUM(CASE WHEN r.v IS NULL THEN 1 ELSE 0 END) = 0
                             THEN 1 ELSE 0 END AS INT) AS holds,
                   CAST((COUNT(*) - SUM(CASE WHEN r.v IS NULL THEN 1 ELSE 0 END))
                        * 1000000 // COUNT(*) AS BIGINT) AS contain_ppm
            FROM (SELECT DISTINCT CAST($lc AS BIGINT) AS v FROM $lt) l
            LEFT JOIN (SELECT DISTINCT CAST($rc AS BIGINT) AS v FROM $rt) r USING (v)"""
      Seq(
        ind("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ind("orders", "o_custkey", "customer", "c_custkey"),
        ind("customer", "c_nationkey", "nation", "n_nationkey"),
        ind("nation", "n_regionkey", "region", "r_regionkey"),
        ind("orders", "o_orderkey", "lineitem", "l_orderkey"),
        ind("lineitem", "l_suppkey", "part", "p_partkey"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY ind")
    },

    "q_agg_after_join" -> eagerAggOracleSql,
    "x161_eager_agg" -> eagerAggOracleSql,

    // exact side hash-verified; the sketch estimate surfaces as a
    // deterministic verdict bit (the a15 discipline)
    "x162_sketch_rollup" ->
      """WITH keyed AS (
           SELECT n_regionkey, l_partkey
           FROM lineitem
           JOIN orders   ON l_orderkey  = o_orderkey
           JOIN customer ON o_custkey   = c_custkey
           JOIN nation   ON c_nationkey = n_nationkey),
              exact AS (
           SELECT n_regionkey, COUNT(*) AS exact_parts
           FROM (SELECT DISTINCT n_regionkey, l_partkey FROM keyed)
           GROUP BY n_regionkey),
              nn AS (
           SELECT n_regionkey, COUNT(*) AS n_nations
           FROM (SELECT DISTINCT c_nationkey, n_regionkey
                 FROM customer JOIN nation ON c_nationkey = n_nationkey
                 JOIN orders ON o_custkey = c_custkey
                 JOIN lineitem ON l_orderkey = o_orderkey)
           GROUP BY n_regionkey)
         SELECT r_name,
                CAST(nn.n_nations AS BIGINT) AS n_nations,
                CAST(exact.exact_parts AS BIGINT) AS exact_parts,
                TRUE AS est_within_5pct
         FROM exact JOIN nn USING (n_regionkey)
         JOIN region ON n_regionkey = r_regionkey
         ORDER BY r_name""",

    "x163_occ_conflicts" ->
      """WITH a AS (SELECT o_orderkey AS key FROM orders WHERE o_orderkey % 10 = 1),
              b AS (SELECT o_orderkey AS key FROM orders WHERE o_orderkey % 14 = 1),
              conf AS (SELECT key FROM a WHERE key IN (SELECT key FROM b)),
              fin AS (
           SELECT COUNT(*) AS n,
                  SUM(CASE WHEN o_orderkey % 10 = 1
                             THEN CAST(round(o_totalprice * 100) AS BIGINT) + 1000
                           WHEN o_orderkey % 14 = 1
                             THEN CAST(round(o_totalprice * 100) AS BIGINT) + 500
                           ELSE CAST(round(o_totalprice * 100) AS BIGINT) END) AS cents
           FROM orders)
         SELECT * FROM (
           SELECT 'txn_a_rows' AS component, CAST(COUNT(*) AS BIGINT) AS n FROM a
           UNION ALL SELECT 'txn_b_rows', CAST(COUNT(*) AS BIGINT) FROM b
           UNION ALL SELECT 'conflicts', CAST(COUNT(*) AS BIGINT) FROM conf
           UNION ALL SELECT 'applied_b_rows', CAST(COUNT(*) AS BIGINT)
                     FROM b WHERE key NOT IN (SELECT key FROM conf)
           UNION ALL SELECT 'final_rows', CAST(n AS BIGINT) FROM fin
           UNION ALL SELECT 'final_total_cents', CAST(cents AS BIGINT) FROM fin
         ) ORDER BY component""",

    "x159_bitemporal" -> {
      def cell(v: Int, vf: String, t: String): String =
        s"""SELECT $v AS version, '$t' AS asof_date, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_customers
            FROM (SELECT o_custkey, o_orderpriority, o_orderdate AS eff_from,
                         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                                 ORDER BY o_orderdate, o_orderkey) AS eff_to
                  FROM orders WHERE o_orderdate IS NOT NULL AND ($vf))
            WHERE eff_from <= TIMESTAMP '$t 00:00:00'
              AND (eff_to IS NULL OR TIMESTAMP '$t 00:00:00' < eff_to)
            GROUP BY o_orderpriority"""
      val vf = Seq(
        0 -> "o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey % 5 <> 0",
        1 -> ("(o_orderdate < TIMESTAMP '1998-01-01' AND o_orderkey % 5 <> 0)" +
              " OR (o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey % 5 = 0)"),
        2 -> "TRUE")
      (for ((v, f) <- vf; t <- Seq("1996-06-01", "1997-06-01"))
        yield cell(v, f, t))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY version, asof_date, o_orderpriority")
    },

    "x160_data_vault" ->
      """WITH load1 AS (
           SELECT md5(CAST(c_custkey AS VARCHAR)) AS hk, 1 AS load_id,
                  c_mktsegment AS segment,
                  md5(c_mktsegment || '|' || CAST(c_nationkey AS VARCHAR)) AS hashdiff
           FROM customer),
              l2seg AS (
           SELECT c_custkey,
                  CASE WHEN c_custkey % 7 = 0 THEN c_mktsegment || '_V2'
                       ELSE c_mktsegment END AS seg,
                  c_nationkey
           FROM customer),
              load2all AS (
           SELECT md5(CAST(c_custkey AS VARCHAR)) AS hk, 2 AS load_id,
                  seg AS segment,
                  md5(seg || '|' || CAST(c_nationkey AS VARCHAR)) AS hashdiff
           FROM l2seg),
              load2 AS (
           SELECT n.* FROM load2all n JOIN load1 p ON n.hk = p.hk
           WHERE n.hashdiff <> p.hashdiff),
              sat AS (SELECT * FROM load1 UNION ALL SELECT * FROM load2),
              cur AS (
           SELECT hk, segment
           FROM (SELECT hk, segment,
                        row_number() OVER (PARTITION BY hk ORDER BY load_id DESC) AS rn
                 FROM sat) WHERE rn = 1),
              matches AS (
           SELECT 1 FROM cur c JOIN load2all w ON c.hk = w.hk
           WHERE c.segment = w.segment)
         SELECT * FROM (
           SELECT 'hub_customer' AS component,
                  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n FROM customer
           UNION ALL SELECT 'hub_order', CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
           UNION ALL SELECT 'link_order_customer', CAST(COUNT(*) AS BIGINT)
                     FROM (SELECT DISTINCT o_orderkey, o_custkey FROM orders)
           UNION ALL SELECT 'sat_customer_load1', CAST(COUNT(*) AS BIGINT) FROM load1
           UNION ALL SELECT 'sat_customer_load2_deltas', CAST(COUNT(*) AS BIGINT) FROM load2
           UNION ALL SELECT 'reconstruction_matches', CAST(COUNT(*) AS BIGINT) FROM matches
         ) ORDER BY component""")

  // shared by the x161/q_agg_after_join measured pair — identical
  // result by construction (eager aggregation is a pure rewrite on
  // associative decimal partials)
  private val eagerAggOracleSql: String =
    """WITH per_cust AS (
         SELECT c_custkey, c_mktsegment,
                SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS rev
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey  = c_custkey
         GROUP BY c_custkey, c_mktsegment)
       SELECT c_mktsegment,
              CAST(COUNT(*) AS BIGINT) AS n_customers,
              CAST(SUM(rev) AS DOUBLE) AS total_revenue,
              CAST(MAX(rev) AS DOUBLE) AS max_cust_revenue
       FROM per_cust GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // shared by the x153/q_chain_direct measured pair — identical result
  // by construction (the reduction is a pure rewrite)
  private val chainOracleSql: String =
    """SELECT n_name,
              CAST(COUNT(*) AS BIGINT) AS n_items,
              CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
       FROM lineitem
       JOIN orders   ON l_orderkey  = o_orderkey
       JOIN customer ON o_custkey   = c_custkey
       JOIN nation   ON c_nationkey = n_nationkey
       JOIN region   ON n_regionkey = r_regionkey
       WHERE r_name = 'EUROPE'
       GROUP BY n_name ORDER BY n_name"""

  // shared by the X190 q_star_bi_plain / x166_star_bi_cascade pair —
  // the BI text as written (never-read dim joined, rollup grain)
  private val starBiOracleSql: String =
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(COUNT(*) AS BIGINT) AS n_items
       FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""
}
