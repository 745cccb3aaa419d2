package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one parquet reader of the engine.
  *
  * `spark.read.parquet(path)` without a schema runs a one-task Spark job to
  * read a footer on every call (about 100 ms warm on 4 cores). With the
  * schema given, the same read runs no job. So a caller that knows the
  * schema passes it, and every other read infers the schema once per
  * files and parquet settings, and reuses it.
  *
  * Either way the result equals an inferring read: data columns in file
  * order, then the partition columns.
  */
object Parquet {

  /** What an inferred schema depends on besides the files: these session
    * settings change how footers and partition directories are typed.
    */
  private def inferenceConf(k: String): Boolean =
    k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.caseSensitive" || k == "spark.sql.sources.partitionColumnTypeInference.enabled"

  /** The path's own file status plus the inference settings. A rewrite
    * changes the status (an overwrite recreates the directory), so a stale
    * schema is never served.
    */
  private final case class Stamp(length: Long, modified: Long, conf: Map[String, String])

  private val Capacity = 1024

  /** Schemas by qualified path, least recently read dropped first. The
    * cache is not per session: a schema follows from the files and the
    * settings in its stamp, so a new session over the same files reuses it.
    * Every access holds the map's lock; inference runs outside it.
    */
  private val schemas = new java.util.LinkedHashMap[String, (Stamp, StructType)](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, (Stamp, StructType)]): Boolean =
      size > Capacity
  }

  /** Reads `path` with a schema the caller knows: no inference, no job. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Reads `path`, inferring its schema only when these files have not
    * been read under these settings before. A missing path falls through
    * to Spark, which raises its own error.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    status(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((key, st)) =>
        schemas.synchronized(Option(schemas.get(key))) match {
          case Some((`st`, schema)) => read(spark, path, schema)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.synchronized(schemas.put(key, (st, df.schema)))
            df
        }
    }

  /** The qualified path and its stamp, from one stat of the path. */
  private def status(spark: SparkSession, path: String): Option[(String, Stamp)] = {
    val p = new Path(path)
    try {
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      Some(st.getPath.toString ->
        Stamp(st.getLen, st.getModificationTime, spark.conf.getAll.filter(e => inferenceConf(e._1))))
    } catch { case _: FileNotFoundException => None }
  }
}
