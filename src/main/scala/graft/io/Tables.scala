package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Minimal Iceberg-style table layer over partitioned Parquet.
  *
  * `/opt/spark/jars` ships no iceberg-runtime, so v1 emulates the two
  * Iceberg contracts the engine relies on (SURVEY §7.1 note):
  *   1. append with schema enforcement — the reference's header
  *      compatibility check on file append (io.py:361-391: "no new
  *      columns may be introduced");
  *   2. a monotonic snapshot manifest (see [[graft.ckpt.Checkpoint]])
  *      for resume.
  * Swapping in a real Iceberg catalog touches only this package.
  */
object Tables {

  def exists(spark: SparkSession, root: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path)
  }

  /** A parquet table read with its [[schema]]: no schema-inference job.
    * The engine's one read of a flat parquet table; a hive-partitioned
    * directory has no top-level data file for [[schema]] to read.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(schema(spark, root)).parquet(root)

  /** The Spark schema of the parquet table at `root` (a directory of
    * data files, or one file), read on the Spark driver from ONE data file's
    * footer — the file `spark.read.parquet` would infer from (no summary
    * files, no schema merging), without the Spark job that inference
    * runs. The schema Spark wrote into the footer's key-value metadata
    * wins; a footer without it (another writer) is converted under the
    * session's parquet settings. Every field reads as nullable, as in
    * `spark.read.parquet(root).schema`.
    */
  def schema(spark: SparkSession, root: String): StructType = {
    import org.apache.parquet.ParquetReadOptions
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(root)
    val fs = path.getFileSystem(conf)
    val file = if (!fs.getFileStatus(path).isDirectory) path else fs.listStatus(path)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.getName).headOption
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $root"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      ParquetReadOptions.builder()
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val meta = try reader.getFileMetaData finally reader.close()
    val written = Option(meta.getKeyValueMetaData.get(SparkSchemaKey))
      .map(DataType.fromJson).collect { case s: StructType => s }
    asNullable(written.getOrElse(
      new ParquetToSparkSchemaConverter(SQLConf.get).convert(meta.getSchema)))
      .asInstanceOf[StructType]
  }

  /** Footer key under which Spark's parquet writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def asNullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Write a table hash-BUCKETED by `bucketCol` (sorted within buckets) —
    * the storage layout that amortizes the url shuffle: pay one
    * write-time repartition, then every url-keyed join / aggregate /
    * anti join over the table plans with ZERO exchanges (BucketSpec).
    * This is the single-box twin of an Iceberg `bucket(N, url)` partition
    * transform (north rule: explicit repartitioning by url-hash).
    *
    * Bucketing metadata lives in the session catalog (Spark cannot
    * express bucketed writes path-only), so the table gets a NAME;
    * `path` keeps the files outside the warehouse for test hygiene.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCol: String = "url", buckets: Int = 8,
                    mode: String = "error"): Unit =
    df.write.mode(mode)
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .option("path", path).format("parquet").saveAsTable(table)

  /** The header-compatibility contract of [[append]] for both kinds of
    * table (io.py:381-387): no new columns, no missing columns, no type
    * changes — strict by-name match, order-insensitive, like Iceberg's
    * write contract. Returns the incoming frame realigned to the
    * table's column order.
    */
  private def checkAndAlign(existing: org.apache.spark.sql.types.StructType,
                            df: DataFrame): DataFrame = {
    val issues = compatIssues(existing, df.schema).filter(_.status != "ok")
    require(issues.isEmpty,
      "append header incompatible: " +
        issues.map(i => s"${i.col} (${i.status})").mkString(", "))
    df.select(existing.fieldNames.map(org.apache.spark.sql.functions.col): _*)
  }

  /** One header-compat verdict row: `status` ∈ ok / new_column /
    * missing_column / type_changed (reference io.py:381-387 raises on
    * the first mismatch; the report form makes ALL of them visible).
    * Types are rendered in DuckDB vocabulary ([[duckTypeName]]) so the
    * report is directly comparable to `DESCRIBE`-based introspection —
    * the `f_append_compat` gate entry hash-checks this report against
    * DuckDB's own independent read of the same parquet footer.
    */
  final case class CompatIssue(col: String, existing_type: Option[String],
                               incoming_type: Option[String], status: String)

  /** The header-compatibility verdicts shared by [[checkAndAlign]] (which
    * requires all-ok) and [[schemaCompatReport]] (which surfaces them):
    * strict by-name match, order-insensitive.
    */
  def compatIssues(existing: org.apache.spark.sql.types.StructType,
                   incoming: org.apache.spark.sql.types.StructType): Seq[CompatIssue] = {
    val have = existing.fields.map(f => f.name -> f.dataType).toMap
    val got = incoming.fields.map(f => f.name -> f.dataType).toMap
    (have.keySet ++ got.keySet).toSeq.sorted.map { c =>
      val (e, i) = (have.get(c), got.get(c))
      val status = (e, i) match {
        case (None, _) => "new_column"
        case (_, None) => "missing_column"
        case (Some(a), Some(b)) if a != b => "type_changed"
        case _ => "ok"
      }
      CompatIssue(c, e.map(duckTypeName), i.map(duckTypeName), status)
    }
  }

  /** [[compatIssues]] as a (driver-sized — schemas ARE driver objects)
    * DataFrame: one row per column of the name union.
    */
  def schemaCompatReport(spark: SparkSession,
                         existing: org.apache.spark.sql.types.StructType,
                         incoming: org.apache.spark.sql.types.StructType): DataFrame = {
    import spark.implicits._
    compatIssues(existing, incoming).toDF()
  }

  /** Catalyst type → DuckDB type-name vocabulary, the ONE rendering both
    * engines' introspection must agree on (LOCKSTEP with what DuckDB's
    * `DESCRIBE` prints for a Spark-written parquet footer — Spark writes
    * TIMESTAMP as isAdjustedToUTC micros, which DuckDB reads as
    * TIMESTAMP WITH TIME ZONE).
    */
  def duckTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => "VARCHAR"
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType => "SMALLINT"
      case ByteType => "TINYINT"
      case DoubleType => "DOUBLE"
      case FloatType => "FLOAT"
      case BooleanType => "BOOLEAN"
      case BinaryType => "BLOB"
      case DateType => "DATE"
      case TimestampType => "TIMESTAMP WITH TIME ZONE"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case ArrayType(e, _) => duckTypeName(e) + "[]"
      case other => other.sql
    }
  }

  /** Where a table lives: a parquet directory, or a catalog table
    * hash-bucketed by `bucketCol` whose files sit at `path`. Every layer
    * above this package names a table by one of these values and never
    * matches on which it is.
    */
  sealed trait Table
  final case class ParquetTable(path: String) extends Table
  final case class BucketedTable(name: String, path: String, bucketCol: String,
                                 buckets: Int) extends Table

  def exists(spark: SparkSession, t: Table): Boolean = t match {
    case ParquetTable(path) => exists(spark, path)
    case b: BucketedTable => spark.catalog.tableExists(b.name)
  }

  def read(spark: SparkSession, t: Table): DataFrame = t match {
    case ParquetTable(path) => read(spark, path)
    case b: BucketedTable => spark.table(b.name)
  }

  /** `df` as one side of a join on the bucket column of `t`: merge-hinted
    * for a bucketed table (fact-fact; a broadcast would drop the storage
    * distribution the join exists to use), unchanged for a parquet one.
    */
  def keyJoinSide(t: Table, df: DataFrame): DataFrame = t match {
    case _: ParquetTable => df
    case _: BucketedTable => df.hint("merge")
  }

  /** Append with the reference's header-compatibility contract
    * (io.py:381-387): the incoming schema must not introduce columns the
    * table doesn't already have; missing columns are an error too (strict
    * by-name match, order-insensitive, like Iceberg's write contract).
    * The existing header comes from the catalog (bucketed) or one
    * footer ([[schema]]), so the check runs no Spark job.
    * The first append creates the table. A bucketed table is appended
    * THROUGH the catalog so every appended file lands in its url-hash
    * bucket (a plain parquet append would break the layout — Spark
    * validates the bucket spec on catalog appends).
    */
  def append(spark: SparkSession, df: DataFrame, t: Table): Unit =
    if (!exists(spark, t)) t match {
      case ParquetTable(path) => df.write.mode("error").parquet(path)
      case b: BucketedTable => writeBucketed(df, b.name, b.path, b.bucketCol, b.buckets)
    } else {
      val w = checkAndAlign(read(spark, t).schema, df).write.mode("append")
      t match {
        case ParquetTable(path) => w.parquet(path)
        case b: BucketedTable => w.bucketBy(b.buckets, b.bucketCol).sortBy(b.bucketCol)
          .format("parquet").saveAsTable(b.name)
      }
    }
}
