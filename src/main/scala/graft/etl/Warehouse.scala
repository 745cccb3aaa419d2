package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.sources.Parquet

/** Warehouse abstraction (ref S2/S3: BigQuery WRITE_TRUNCATE load +
  * SELECT * readback, dags/sri_vehiculos_etl_dag.py:99-114, :421-434).
  *
  * The engine targets parquet tables behind this trait; a BigQuery-connector
  * implementation can be swapped in without touching pipeline semantics.
  * Truncate-and-reload == SaveMode.Overwrite (idempotent by construction,
  * matching the reference's daily full reprocess).
  */
trait Warehouse {
  def write(name: String, df: DataFrame): Unit
  def read(name: String): DataFrame
}

object Warehouse {
  /** `df` in the declared column order and types. A parquet read puts
    * partition columns last, and an inferring read types them from the
    * directory names (long → int).
    */
  private[etl] def asDeclared(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
}

/** Parquet-directory warehouse. `partitionCols` lets large facts be written
  * partition-pruned (the reference's variables.yaml declares intended
  * partitioning on the date and clustering on (Anio, Marca) but never wires
  * it; here it is real).
  */
final case class ParquetWarehouse(
    spark: SparkSession,
    root: String,
    partitionCols: Map[String, Seq[String]] = Map.empty) extends Warehouse {

  /** Schemas as written, keyed by table — partitioned reads otherwise
    * re-infer partition-column types from directory names (long → int) and
    * move them to the end, silently breaking the declared star schema.
    * TrieMap: independent tables may be written concurrently
    * (SriPipeline's parallel dim fan-out).
    */
  private val writtenSchemas = scala.collection.concurrent.TrieMap.empty[String, StructType]

  override def write(name: String, df: DataFrame): Unit = {
    writtenSchemas(name) = df.schema
    val w = df.write.mode(SaveMode.Overwrite)
    partitionCols.get(name) match {
      case Some(cols) if cols.forall(df.columns.contains) => w.partitionBy(cols: _*).parquet(s"$root/$name")
      case _ => w.parquet(s"$root/$name")
    }
  }

  /** Reads back with the schema this warehouse wrote, so no footer is
    * inferred; a table it did not write goes through the reader's cache.
    */
  override def read(name: String): DataFrame = writtenSchemas.get(name) match {
    case Some(schema) => Warehouse.asDeclared(Parquet.read(spark, s"$root/$name", schema), schema)
    case None => Parquet.read(spark, s"$root/$name")
  }

  /** Bucketed (and optionally sort-ordered) catalog table write: tables
    * bucketed the same way on their join key join with ZERO shuffle on
    * either side — the co-location strategy for fact⋈fact joins too big to
    * broadcast (BucketedJoinSpec asserts the exchange-free plan). Bucketing
    * requires the session catalog, hence saveAsTable; the files still land
    * under `root` via the path option.
    */
  def writeBucketed(name: String, df: DataFrame, buckets: Int,
                    bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    writtenSchemas(name) = df.schema
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", s"$root/$name")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(name)
  }

  /** Catalog read for [[writeBucketed]] tables (bucket metadata lives in
    * the catalog, not the files — a plain parquet read would lose it).
    */
  def readTable(name: String): DataFrame = spark.table(name)
}

/** Object-store-layout warehouse: immutable generation prefixes + a
  * single-object manifest commit — the closest a filesystem/object store
  * gets to the reference's BigQuery WRITE_TRUNCATE atomicity
  * (dags/sri_vehiculos_etl_dag.py:99-114) without a table service.
  *
  * Why not SaveMode.Overwrite in place: on GCS/S3 there is no atomic
  * directory rename — overwrite = delete-then-write, and a reader (or a
  * crash) mid-write sees a missing or partial table. Here every write
  * lands in a FRESH `gen-NNNNNN` prefix; only after the data write fully
  * succeeds does the table "commit" by atomically publishing ONE small
  * `_MANIFEST.json` pointing at that generation. Readers resolve the
  * manifest first, so they always observe exactly one complete
  * generation; a failed or crashed write leaves the previous generation
  * live (the truncate-reload contract), and published prefixes are never
  * mutated (object-store read-cache friendly). Locally the publish is an
  * ATOMIC_MOVE of a temp file; on a real object store it is a
  * single-object PUT — both all-or-nothing.
  *
  * The manifest also carries the written schema (as Spark schema JSON),
  * so reads apply the DECLARED column types and order across sessions —
  * partitioned reads otherwise re-infer partition-column types from
  * directory names and move them to the end (the problem
  * [[ParquetWarehouse]] solves only within one JVM via its schema map).
  *
  * Old generations accumulate until [[vacuum]] — retention is a policy
  * decision (readers may still be reading gen N−1), exactly like
  * open-table-format vacuums.
  */
final case class ManifestWarehouse(
    spark: SparkSession,
    root: String,
    partitionCols: Map[String, Seq[String]] = Map.empty) extends Warehouse {

  import java.nio.file.{Files, Paths, StandardCopyOption}

  private def tableDir(name: String) = s"$root/$name"
  private def manifestPath(name: String) = Paths.get(tableDir(name), "_MANIFEST.json")

  /** (generation, genDir, schema) of the committed generation, if any. */
  private def currentManifest(name: String): Option[(Long, String, StructType)] = {
    val p = manifestPath(name)
    if (!Files.exists(p)) None
    else {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(Files.readString(p))
      val gen = j \ "generation" match {
        case JInt(v) => v.toLong
        case JLong(v) => v
        case other => sys.error(s"manifest for $name: bad generation $other")
      }
      val dir = j \ "dir" match {
        case JString(s) => s
        case other => sys.error(s"manifest for $name: bad dir $other")
      }
      val schema = org.apache.spark.sql.types.DataType.fromJson(
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(j \ "schema")))
        .asInstanceOf[StructType]
      Some((gen, dir, schema))
    }
  }

  override def write(name: String, df: DataFrame): Unit = {
    // claim the first generation number whose prefix does not exist yet:
    // a crashed writer's orphaned (uncommitted) prefix is never reused,
    // so no writer ever mutates a prefix another run created — orphans
    // stay dead until vacuum collects them
    var gen = currentManifest(name).map(_._1).getOrElse(0L) + 1L
    while (Files.exists(Paths.get(tableDir(name), f"gen-$gen%06d"))) gen += 1L
    val genDir = f"gen-$gen%06d"
    val w = df.write.mode(SaveMode.Overwrite)
    partitionCols.get(name) match {
      case Some(cols) if cols.forall(df.columns.contains) =>
        w.partitionBy(cols: _*).parquet(s"${tableDir(name)}/$genDir")
      case _ => w.parquet(s"${tableDir(name)}/$genDir")
    }
    // the write above either completed or threw — only now flip the
    // manifest, atomically; a reader can never observe gen N's pointer
    // with gen N's data incomplete
    val manifest =
      s"""{"generation":$gen,"dir":"$genDir","schema":${df.schema.json}}"""
    val dir = Paths.get(tableDir(name))
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, "_manifest-", ".tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, manifestPath(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  override def read(name: String): DataFrame = {
    val (_, dir, schema) = currentManifest(name).getOrElse(
      sys.error(s"table $name has no committed generation under $root"))
    Warehouse.asDeclared(Parquet.read(spark, s"${tableDir(name)}/$dir", schema), schema)
  }

  /** Retention-policy vacuum: delete generation prefixes numbered at or
    * below `liveGen − keepLast`, so the newest `keepLast` generations
    * (counting the live one) survive — `keepLast = 1` reclaims everything
    * but the committed generation; `keepLast = 2` is the
    * reader-may-still-read-gen-N−1 policy (pick it to match the longest
    * reader you allow, exactly like open-table-format vacuum horizons).
    *
    * Two prefixes are NEVER collectable regardless of policy: the live
    * generation, and any prefix numbered ABOVE it — a higher-numbered
    * prefix can be a concurrent writer's in-flight, not-yet-committed
    * write, and deleting it mid-write would corrupt that commit. Orphans
    * above live (crashed writers) therefore survive until a later commit
    * passes their number; orphans below live collect by age like any
    * other stale generation.
    */
  def vacuum(name: String, keepLast: Int = 1): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    currentManifest(name).foreach { case (liveGen, _, _) =>
      import scala.jdk.CollectionConverters._
      val dir = Paths.get(tableDir(name))
      if (Files.isDirectory(dir)) {
        val stale = scala.util.Using.resource(Files.list(dir)) { st =>
          st.iterator().asScala
            .filter { p =>
              Files.isDirectory(p) && p.getFileName.toString.startsWith("gen-") &&
                p.getFileName.toString.stripPrefix("gen-").toLongOption
                  .exists(_ <= liveGen - keepLast)
            }
            .toList
        }
        stale.foreach { p =>
          scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toList)
            .reverse.foreach(Files.delete)
        }
      }
    }
  }
}
