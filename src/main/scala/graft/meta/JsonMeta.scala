package graft.meta

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** M1/M2: metadata create/append from JSON rows with inferred, evolving
  * schema (reference filtering.rs:616-650 `infer_sql_type` /
  * `json_to_sql`, create :1141-1308, update with auto-added columns
  * :1332-1463).
  *
  * Type mapping mirrors the reference's SQLite decisions:
  * integer/bool → BIGINT (bools stored as 0/1), float → DOUBLE,
  * string/null → STRING, array/object → their JSON text (the BLOB-of-
  * JSON column). `_subset_` is the dense 0-based row id, assigned in
  * insertion order — the same invariant the index delete path renumbers.
  */
object JsonMeta {

  /** Normalize an inferred-schema DataFrame to the reference type
    * surface. */
  private def normalizeTypes(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case BooleanType => acc.withColumn(f.name, col(f.name).cast("long"))
        case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
          acc.withColumn(f.name, col(f.name).cast("long"))
        case _: FloatType | _: DoubleType | _: DecimalType =>
          acc.withColumn(f.name, col(f.name).cast("double"))
        case _: StructType | _: ArrayType | _: MapType =>
          acc.withColumn(f.name, to_json(col(f.name)))
        case NullType => acc.withColumn(f.name, col(f.name).cast("string"))
        case _ => acc
      }
    }

  /** M1 create: parse JSON rows (insertion order = `order` column on the
    * input, e.g. a monotonically increasing source id), infer the
    * schema, normalize types, assign dense `_subset_` 0..N−1. Input:
    * `(order: long, json: string)`. */
  def create(spark: SparkSession, rows: DataFrame): DataFrame = {
    import spark.implicits._
    // schema inference is order-independent (one unsorted scan — the
    // dense `_subset_` assignment below is what carries insertion order);
    // an empty batch infers an empty schema, which doubles as the
    // emptiness check — no separate isEmpty job
    val jsonDs: Dataset[String] = rows.select("json").as[String]
    val schema = spark.read.json(jsonDs).schema
    if (schema.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("_subset_", LongType, nullable = false))))
    val parsed = rows
      .select(col("order"), from_json(col("json"), schema).as("j"))
      .select(col("order") +: schema.fieldNames.toIndexedSeq.map(f => col(s"j.`$f`")): _*)
    val typed = normalizeTypes(parsed)
    val numRanges = spark.sessionState.conf.numShufflePartitions
    MetadataOps.denseResequenceScalable(typed, "order", numRanges)
      .withColumnRenamed("new_id", "_subset_")
      .drop("order")
  }

  /** M2 append with schema evolution: `_subset_` continues densely after
    * the existing table, under [[unionSchema]]. */
  def append(spark: SparkSession, existing: DataFrame, rows: DataFrame): DataFrame = {
    if (rows.isEmpty) return existing
    val offset = existing.count()
    val shifted = create(spark, rows).withColumn("_subset_", col("_subset_") + lit(offset))
    val schema = unionSchema(existing, shifted)
    conform(existing, schema).unionByName(conform(shifted, schema))
  }

  /** The one schema `existing` and a new `batch` are stored under: new
    * columns are auto-added after the existing ones (null for rows
    * without them), and a column whose types differ widens long →
    * double → string (the reference's rule). A plain `unionByName`
    * would instead resolve string against long to BIGINT under ANSI
    * and fail on the first non-numeric string. */
  def unionSchema(existing: DataFrame, batch: DataFrame): Seq[(String, DataType)] = {
    def widen(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
      case _ => StringType
    }
    val newTypes = batch.schema.fields.map(f => f.name -> f.dataType).toMap
    val old = existing.schema.fields.map(f =>
      f.name -> newTypes.get(f.name).fold(f.dataType)(widen(f.dataType, _))).toSeq
    old ++ batch.schema.fields.filterNot(f => old.exists(_._1 == f.name)).map(f => f.name -> f.dataType)
  }

  /** `df` as `schema`'s columns in order: cast, or null where absent. */
  def conform(df: DataFrame, schema: Seq[(String, DataType)]): DataFrame =
    df.select(schema.map { case (c, t) =>
      (if (df.columns.contains(c)) col(c).cast(t) else lit(null).cast(t)).as(c)
    }: _*)
}
