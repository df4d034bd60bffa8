package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Line-delimited-JSON table loading with per-table column namespacing.
 *
 * Mirrors the reference's load path (reference:
 * src/main/java/com/google/cloud/bqetl/json/JSONReader.java:42-101 and
 * src/main/java/com/google/cloud/bqetl/mbdata/MusicBrainzTransforms.java:350-380):
 * each line of JSON becomes a row whose columns are renamed
 * `tablename_columnname`, with JSON numeric widening (integers → Long,
 * floating point → Double) — here encoded once in the read schema
 * instead of per-row branching, so the scan stays codegen'd and
 * columnar.
 *
 * Scale notes: `spark.read.json` with an explicit schema is a single
 * distributed pass (no schema inference job); the rename is metadata
 * only.
 */
object JsonTables {

  /** Widen a schema the way the reference's JSON reader widens values:
   * all integral types → LongType, all fractional → DoubleType. */
  def widened(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      val t = f.dataType match {
        case _: ByteType | _: ShortType | _: IntegerType | _: LongType => LongType
        case _: FloatType | _: DoubleType | _: DecimalType             => DoubleType
        case other                                                     => other
      }
      f.copy(dataType = t)
    })

  /** Rename every column of `df` to `name_column` (the reference's
   * namespacing, MusicBrainzDataObject.java:73-76). */
  def namespaced(df: DataFrame, name: String): DataFrame =
    df.select(df.columns.map(c => col(c).as(s"${name}_$c")).toIndexedSeq: _*)

  /** Load a line-delimited JSON file as a namespaced DataFrame with an
   * explicit (widened) schema. */
  def loadTable(spark: SparkSession, path: String, name: String, schema: StructType): DataFrame =
    namespaced(spark.read.schema(widened(schema)).json(path), name)

  /** Load from an existing Dataset[String] of JSON lines (the
   * reference's loadTableFromText). */
  def loadTableFromText(lines: Dataset[String], name: String, schema: StructType): DataFrame = {
    val spark = lines.sparkSession
    namespaced(spark.read.schema(widened(schema)).json(lines), name)
  }

  /** Load with schema inference (one extra pass), then the same
   * widening + namespacing — for ad-hoc tables without a declared
   * schema, matching the reference reader's dynamic typing. */
  def loadTableInferred(lines: Dataset[String], name: String): DataFrame = {
    val spark = lines.sparkSession
    val inferred = spark.read.json(lines).schema
    namespaced(spark.read.schema(widened(inferred)).json(lines), name)
  }
}
