package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** Deterministic ×N scale-up of a driver testdata dir — the 100× REHEARSAL
  * input: `runMain graft.tools.ScaleUp <srcDir> <outDir> [factor=10]`.
  *
  * Every table is replicated `factor` times via a crossJoin with an
  * in-plan replica index (one distributed pass, no driver loops); surrogate
  * and foreign keys are offset by `replica * keySpan` CONSISTENTLY across
  * tables, so referential structure, join selectivity, and group-by
  * cardinality all scale linearly — the shape a real 10× corpus has, not
  * 10 copies of one keyspace. Each key FAMILY's span comes from the
  * REFERENCED table's primary key (customer's span offsets both
  * c_custkey and o_custkey; orders' span offsets both o_orderkey and
  * l_orderkey): computing spans per-table would silently desync the two
  * sides of a join the moment the child table doesn't reach the parent's
  * max key (a parent row with no children — dense generated data hides
  * the bug, real extracts hit it).
  *
  *  - `region`/`nation` copy unchanged (fixed dims — at 100 TB these stay
  *    broadcast-small; scaling them would distort the star shape);
  *  - `customer`/`supplier`/`part` offset their primary keys;
  *    `c_name`/`s_name` are REGENERATED from the offset key (the
  *    generator's `Customer#%09d` format) — replicating the literal name
  *    10× would hand the fuzzy-join queries 10 exact copies of every
  *    string, inflating true-pair volume ~quadratically, which a real 10×
  *    corpus (with 10× distinct entities) does not do;
  *  - `orders` offsets (o_orderkey, o_custkey); `lineitem` offsets
  *    (l_orderkey, l_partkey, l_suppkey) by the SAME family spans, so
  *    every replica's lineitem joins exactly its replica's orders/part/
  *    supplier rows;
  *  - `events` offsets (event_id, user_id), timestamps unchanged
  *    (sessionization load scales by users, not by time range);
  *  - `documents` offsets doc_id and appends a per-replica suffix to
  *    `text` (replica 0 byte-identical): copies become NEAR-duplicates,
  *    not exact ones, so dedup/minhash queries face realistic ~factor-size
  *    near-dup clusters instead of degenerate exact clones; `n_chars`
  *    recomputed (= length(text), the generator's invariant);
  *  - `embeddings` offsets vec_id and perturbs each replica's vector by a
  *    small deterministic per-(id, dim) delta (replica 0 exact), so ANN
  *    top-k/IVF assignment see distinct near-by vectors rather than exact
  *    cosine ties.
  */
object ScaleUp {

  /** max(key) + 1 of the key family's OWNING table — the one offset every
    * referencing column shares.
    */
  private[tools] def keySpan(df: DataFrame, key: String): Long = {
    // cast in the agg so INT key columns read as BIGINT, and fail loudly
    // (naming the key) on an empty source instead of an opaque NPE
    val mx = df.agg(max(col(key).cast("long"))).head().get(0)
    require(mx != null, s"keySpan($key): source table is empty — cannot derive a key span")
    mx.asInstanceOf[Long] + 1L
  }

  /** `n` replicas of `df`, each listed key shifted by `replica * span`.
    * Carries the `__rep` column for callers that vary payload per replica;
    * drop it before writing.
    */
  private[tools] def replicate(df: DataFrame, n: Int,
                               offsets: (String, Long)*): DataFrame = {
    val reps = broadcast(df.sparkSession.range(n).toDF("__rep"))
    offsets.foldLeft(df.crossJoin(reps)) { case (d, (k, span)) =>
      d.withColumn(k, col(k) + col("__rep") * lit(span))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcDir> <outDir> [factor]")
    val (src, out) = (args(0), args(1))
    val n = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val (spark, owned) = graft.Sessions.acquire(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
    spark.sparkContext.setLogLevel("WARN")
    def read(t: String) = Parquet.read(spark, s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.drop("__rep").write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t: ${Parquet.read(spark, s"$out/$t.parquet").count()} rows")
    }

    // key-family spans from the OWNING tables, shared by both join sides
    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val kCust = keySpan(customer, "c_custkey")
    val kSupp = keySpan(supplier, "s_suppkey")
    val kPart = keySpan(part, "p_partkey")
    val kOrder = keySpan(orders, "o_orderkey")

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(replicate(customer, n, "c_custkey" -> kCust)
      .withColumn("c_name",
        concat(lit("Customer#"), lpad(col("c_custkey").cast("string"), 9, "0"))),
      "customer")
    write(replicate(supplier, n, "s_suppkey" -> kSupp)
      .withColumn("s_name",
        concat(lit("Supplier#"), lpad(col("s_suppkey").cast("string"), 9, "0"))),
      "supplier")
    write(replicate(part, n, "p_partkey" -> kPart), "part")
    write(replicate(orders, n, "o_orderkey" -> kOrder, "o_custkey" -> kCust), "orders")
    write(replicate(read("lineitem"), n,
      "l_orderkey" -> kOrder, "l_partkey" -> kPart, "l_suppkey" -> kSupp), "lineitem")

    val events = read("events")
    write(replicate(events, n,
      "event_id" -> keySpan(events, "event_id"),
      "user_id" -> keySpan(events, "user_id")), "events")

    val documents = read("documents")
    val docs = replicate(documents, n, "doc_id" -> keySpan(documents, "doc_id"))
      .withColumn("text",
        when(col("__rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" rep"), col("__rep").cast("string"))))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docs, "documents")

    val embeddings = read("embeddings")
    val emb = replicate(embeddings, n, "vec_id" -> keySpan(embeddings, "vec_id"))
      .withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          x + (col("__rep").cast("float") * lit(1e-3f)
            * (pmod(j.cast("long") * 7919L + col("vec_id"), lit(13L)) - 6L).cast("float"))))
    write(emb, "embeddings")

    graft.Sessions.release(spark, owned)
  }
}
