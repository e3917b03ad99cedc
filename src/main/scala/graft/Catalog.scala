package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Explicit table catalog for the fixture star schema.
  *
  * The reference pipeline materializes schemas implicitly from remote SQL
  * result sets (`db.raw_sql(..., date_cols=...)`, e.g.
  * reference TAQpipeline/correlation_matrix_exporter.py:12-19); here every
  * table has a declared [[StructType]] so scans fail fast on drift and
  * Catalyst can prune columns against a known schema.
  *
  * At 100 TB the only change is the path layout: `events` (the tick-table
  * analog) would be laid out as Hive-partitioned `events/date=YYYY-MM-DD/`
  * so the per-day table-name dispatch of the reference
  * (correlation_matrix_exporter.py:89) becomes Catalyst partition pruning.
  */
object Catalog {

  val schemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
    // ts has been regenerated across fixture versions with different
    // physical encodings (INT64 TIMESTAMP(NANOS) through round 8,
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) since round 9). The public
    // schema is always TimestampType; [[load]] sniffs the parquet footer's
    // logical type annotation and adapts the scan (see [[eventsTsUnit]]).
    "events" -> StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
  )

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Timestamp encodings the `events` fixture has shipped with. */
  sealed trait TsUnit
  object TsUnit {
    /** INT64 TIMESTAMP(MICROS|MILLIS, isAdjustedToUTC=false) — Spark
      * reads it natively as TimestampNTZType.
      */
    case object Native extends TsUnit
    /** INT64 TIMESTAMP(MICROS|MILLIS, isAdjustedToUTC=true), or INT96
      * (Spark's default `outputTimestampType`) — Spark 4 refuses to
      * read either under a requested NTZ schema, so this variant is read
      * as TimestampType directly (no NTZ read + cast). No fixture has
      * shipped adjusted yet; the branch exists so a regeneration that
      * flips the flag or the encoding loads instead of failing.
      */
    case object NativeAdjusted extends TsUnit
    /** INT64 TIMESTAMP(NANOS) or unannotated INT64 nano-epoch — Spark 4's
      * vectorized reader refuses NANOS as TimestampType, so the scan reads
      * raw longs (session conf `spark.sql.legacy.parquet.nanosAsLong=true`,
      * see [[Sessions]]) and a codegen'd projection divides to micros.
      */
    case object Nanos extends TsUnit
  }

  private val tsUnitCache =
    new java.util.concurrent.ConcurrentHashMap[String, TsUnit]()

  /** Sniff the `ts` column's parquet logical type from one footer under
    * `events.parquet`. Driver-side, one footer per dataset path, cached —
    * the same probe a real lakehouse catalog does at table-registration
    * time. Round 9 regenerated the fixture from NANOS to MICROS and the
    * engine silently decoded every event into January 1970; branching on
    * the footer instead of assuming a unit makes that class of drift
    * impossible.
    */
  /** First data file under `$sfDir/events.parquet`, whether the fixture
    * ships as a single file or a directory of part files. Shared with
    * the CatalogSpec golden test so the test opens the same bytes the
    * sniff classifies regardless of fixture layout.
    */
  private[graft] def firstEventsDataFile(
      spark: SparkSession, sfDir: String): org.apache.hadoop.fs.Path = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(s"$sfDir/events.parquet")
    val fs = root.getFileSystem(conf)
    if (fs.getFileStatus(root).isDirectory)
      fs.listStatus(root).map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
        .minBy(_.getName)
    else root
  }

  def eventsTsUnit(spark: SparkSession, sfDir: String): TsUnit =
    tsUnitCache.computeIfAbsent(sfDir, { dir =>
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      val conf = spark.sessionState.newHadoopConf()
      val file = firstEventsDataFile(spark, dir)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val tsField = schema.getType(schema.getFieldIndex("ts"))
        tsField.getLogicalTypeAnnotation match {
          // INT96 (Spark's default timestamp encoding) carries no
          // annotation; Spark reads it natively as TimestampType
          case _ if tsField.isPrimitive && tsField.asPrimitiveType
              .getPrimitiveTypeName == PrimitiveTypeName.INT96 =>
            TsUnit.NativeAdjusted
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS =>
            TsUnit.Nanos
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            if (t.isAdjustedToUTC) TsUnit.NativeAdjusted else TsUnit.Native
          case _ => TsUnit.Nanos // unannotated INT64: raw nano-epoch fixture
        }
      } finally reader.close()
    })

  /** Load one fixture table. Schema is declared, not inferred, so the scan
    * carries an exact ReadSchema for column pruning.
    *
    * `events.ts` is exposed as TimestampType regardless of the fixture's
    * physical encoding (see [[eventsTsUnit]]). The NTZ micros fixture is
    * read as TimestampNTZType and cast — with the session timezone pinned
    * to UTC ([[Sessions]]) the cast is value-identity and codegen'd; the
    * nanos fixture is read as raw longs and divided. Either way the scan
    * stays vectorized and every consumer sees the same public column.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    if (name != "events")
      spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")
    else eventsTsUnit(spark, sfDir) match {
      case TsUnit.Native =>
        val readSchema = StructType(schemas("events").map {
          case f if f.name == "ts" => f.copy(dataType = TimestampNTZType)
          case f => f
        })
        spark.read.schema(readSchema).parquet(s"$sfDir/events.parquet")
          .withColumn("ts", col("ts").cast(TimestampType))
      case TsUnit.NativeAdjusted =>
        // adjusted-UTC micros/millis: the public schema already says
        // TimestampType and Spark reads it natively — no cast at all
        spark.read.schema(schemas("events")).parquet(s"$sfDir/events.parquet")
      case TsUnit.Nanos =>
        val readSchema = StructType(schemas("events").map {
          case f if f.name == "ts" => f.copy(dataType = LongType)
          case f => f
        })
        spark.read.schema(readSchema).parquet(s"$sfDir/events.parquet")
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    }
  }

  /** Register every table as a temp view so `spark.sql` works against the
    * same names the DuckDB oracle uses.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
