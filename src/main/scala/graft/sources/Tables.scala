package graft.sources

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{LocatedFileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType, TimestampNTZType, TimestampType}

/** Readers for the harness parquet tables (TESTDATA.md / FIXTURES.md).
  *
  * Parquet is the engine's native table format: self-describing schema
  * (replacing the reference's filename-encoded dimensions,
  * program.c:34-43), columnar, splittable — the 100 TB-safe ingestion
  * path. Filters/projections applied downstream reach the scan via
  * Catalyst pushdown; no custom reader code is needed.
  *
  * Schema cache: Spark infers a parquet schema with a one-task job
  * (`SchemaMergeUtils.mergeSchemasInParallel`) on every read that gives
  * no schema, and every registered query loads its tables afresh. So
  * [[load]] infers each table's schema once and reads with
  * `spark.read.schema(cached)` from then on, which starts no job. The
  * cached schema is exactly the one Spark inferred on the first load.
  * An entry is valid for one qualified path and one stamp: the name,
  * length and modification time of every file under the path, plus the
  * session's parquet-inference settings. A rewritten table changes the
  * stamp and is inferred again, so no read ever uses a stale schema.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    normalizeNtz(spark.read.schema(schemaOf(spark, path)).parquet(path))
  }

  /** Settings that change the schema Spark infers from a parquet footer. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** Qualified path → (stamp, inferred schema); one entry per path. */
  private val schemas = new ConcurrentHashMap[String, (Seq[Any], StructType)]()

  /** The schema `spark.read.parquet(path)` infers, inferred once per
    * stamp (see the object doc). */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    if (!fs.exists(qualified)) return spark.read.parquet(path).schema // Spark's own not-found error
    val listed = fs.listFiles(qualified, true)
    val files = new Iterator[LocatedFileStatus] {
      def hasNext: Boolean = listed.hasNext
      def next(): LocatedFileStatus = listed.next()
    }
    val stamp = files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .toSeq.sortBy(_._1) ++ inferenceConfs.map(spark.conf.getOption)
    val key = qualified.toString
    Option(schemas.get(key)).collect { case (`stamp`, schema) => schema }.getOrElse {
      val schema = spark.read.parquet(path).schema
      schemas.put(key, (stamp, schema))
      schema
    }
  }

  /** Harness testdata generations differ in parquet timestamp encoding:
    * some write TIMESTAMP with isAdjustedToUTC=true (→ TimestampType),
    * newer ones write isAdjustedToUTC=false µs (→ TimestampNTZType under
    * Spark 4's NTZ inference). NTZ breaks `unix_micros`, integer casts
    * and streaming watermarks, so normalize every NTZ column back to
    * TimestampType here, at the single scan entry point. The session
    * time zone is pinned to UTC (Engine.scala), so the cast is a pure
    * type reinterpretation — identical micros, identical rendering on
    * both the Spark and DuckDB sides of the oracle compare.
    */
  def normalizeNtz(df: DataFrame): DataFrame = {
    val changed = df.schema.fields.exists(f => replaceNtz(f.dataType) != f.dataType)
    if (!changed) df
    else {
      val cols: Array[Column] = df.schema.fields.map { f =>
        val target = replaceNtz(f.dataType)
        if (target == f.dataType) col(f.name)
        else col(f.name).cast(target).as(f.name)
      }
      df.select(cols.toIndexedSeq: _*)
    }
  }

  /** NTZ → TIMESTAMP at any nesting depth (struct / array / map), so a
    * future testdata generation that tucks a timestamp inside a nested
    * column gets the same normalization as a top-level one.
    */
  def replaceNtz(dt: DataType): DataType = dt match {
    case TimestampNTZType => TimestampType
    case s: StructType    => StructType(s.fields.map(f => f.copy(dataType = replaceNtz(f.dataType))))
    case a: ArrayType     => a.copy(elementType = replaceNtz(a.elementType))
    case m: MapType       => m.copy(keyType = replaceNtz(m.keyType), valueType = replaceNtz(m.valueType))
    case other            => other
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS); with
    * `spark.sql.legacy.parquet.nanosAsLong` it arrives as a BIGINT of
    * nanos, converted here to a µs timestamp (`div`, not `/`: epoch
    * nanos ≈ 1.7e18 exceeds double's 2^53 integer range, so float
    * division would corrupt low-order digits). Lossless for this data —
    * the generator emits µs precision.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
