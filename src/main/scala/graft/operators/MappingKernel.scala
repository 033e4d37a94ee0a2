package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Constants._

/** The mapping kernel: re-maps a fact table's dimension columns through
  * `(from_id, to_id, from_fraction)` mapping tables, accumulating a running
  * fraction, then collapses it with one groupBy.
  *
  * Semantics from the reference (dsgrid/utils/dataset.py:59-80 map join;
  * dsgrid/dataset/dataset_schema_handler_base.py:747-832 orchestration +
  * fraction apply; dsgrid/utils/dataset.py:143-195 scaling factor), design is
  * Spark-first:
  *   - mapping tables are tiny (thousands of rows) → always `broadcast()`,
  *     so N successive dimension mappings cost zero shuffles;
  *   - the fraction multiply stays a column expression (whole-stage codegen);
  *   - the single `applyFraction` groupBy at the end is the only shuffle, and
  *     it is a partial-aggregate-friendly sum;
  *   - one-to-many disaggregations can explode skewed keys — AQE skew join is
  *     on by default, plus an explicit repartition hook for the documented
  *     IEF-style incident (dsgrid/utils/dataset.py:696-758).
  */
object MappingKernel {

  /** True when a mapping is a pure rename: every from_id maps to exactly one
    * to_id equal to itself with fraction 1 — skip the join entirely
    * (ref noop detection: dsgrid/utils/dataset.py mapping plan fast paths). */
  def isNoopMapping(mapping: DataFrame): Boolean = {
    val bad = mapping.filter(
      col(ToIdColumn).isNull ||
        col(ToIdColumn) =!= col(FromIdColumn) ||
        col(FromFractionColumn) =!= lit(1.0))
    bad.isEmpty
  }

  /** Join `df` to a mapping table on `df(dimColumn) == from_id`, replace the
    * dimension column with `to_id`, multiply the running fraction.
    * Null `to_id` rows (record mapped to nothing) are dropped, as the
    * reference does (dsgrid/utils/dataset.py:64-66).
    */
  def mapStackedDimension(df: DataFrame, dimColumn: String, mapping: DataFrame): DataFrame = {
    val m = broadcast(
      mapping
        .filter(col(ToIdColumn).isNotNull)
        .select(
          col(FromIdColumn),
          col(ToIdColumn),
          coalesce(col(FromFractionColumn), lit(1.0)).as(FromFractionColumn)))
    val joined = df.join(m, df(dimColumn) === m(FromIdColumn), "inner")
    val withDim = joined
      .drop(dimColumn)
      .drop(FromIdColumn)
      .withColumnRenamed(ToIdColumn, dimColumn)
    val withFraction =
      if (withDim.columns.contains(FractionColumn))
        withDim
          .withColumn(FractionColumn, col(FractionColumn) * col(FromFractionColumn))
          .drop(FromFractionColumn)
      else withDim.withColumnRenamed(FromFractionColumn, FractionColumn)
    withFraction
  }

  /** Map several dimensions in sequence. Skips noop mappings. */
  def mapDimensions(df: DataFrame, mappings: Seq[(String, DataFrame)]): DataFrame =
    mappings.foldLeft(df) { case (d, (dim, m)) =>
      if (isNoopMapping(m)) d else mapStackedDimension(d, dim, m)
    }

  /** Collapse the running fraction: sum(value*fraction) grouped by all
    * other columns (a disaggregation/aggregation in one — ref:
    * dataset_schema_handler_base.py:809-832). No-op if no fraction column. */
  def applyFraction(df: DataFrame, valueColumn: String = ValueColumn): DataFrame = {
    if (!df.columns.contains(FractionColumn)) df
    else {
      val groupCols = df.columns.filterNot(c => c == valueColumn || c == FractionColumn)
      df.groupBy(groupCols.map(col): _*)
        .agg(sum(col(valueColumn) * col(FractionColumn)).as(valueColumn))
    }
  }

  /** Full pipeline for one dataset: map each dimension then apply fraction. */
  def mapAndApply(df: DataFrame, mappings: Seq[(String, DataFrame)], valueColumn: String = ValueColumn): DataFrame =
    applyFraction(mapDimensions(df, mappings), valueColumn)

  /** value *= scaling_factor when present and non-null, then drop the column
    * (ref: dsgrid/utils/dataset.py:143-195). Pure column expression. */
  def applyScalingFactor(df: DataFrame, valueColumn: String = ValueColumn): DataFrame =
    if (!df.columns.contains(ScalingFactorColumn)) df
    else
      df.withColumn(
          valueColumn,
          when(col(ScalingFactorColumn).isNotNull, col(valueColumn) * col(ScalingFactorColumn))
            .otherwise(col(valueColumn)))
        .drop(ScalingFactorColumn)

  /** Explicit skew hook after an explosive one-to-many mapping: repartition
    * on a salted key so no single to_id lands on one task (ref incident:
    * dsgrid/utils/dataset.py:696-758; first line of defense is AQE skew join,
    * this is the fallback the reference documents). */
  def repartitionAfterDisaggregation(df: DataFrame, numPartitions: Int, keyColumns: Seq[String]): DataFrame = {
    val saltCol = pmod(hash(keyColumns.map(col) :+ monotonically_increasing_id(): _*), lit(numPartitions))
    df.withColumn("__graft_salt", saltCol)
      .repartition(numPartitions, col("__graft_salt"))
      .drop("__graft_salt")
  }

  /** Join load_data to load_data_lookup on `id`, dropping the join key
    * (two-table layout — ref: dataset_schema_handler_two_table.py:110). The
    * lookup is small relative to load data → broadcast. */
  def joinLookup(loadData: DataFrame, lookup: DataFrame, idColumn: String = "id"): DataFrame =
    loadData.join(broadcast(lookup), Seq(idColumn), "inner").drop(idColumn)

  /** Replace dimension ids with display names (ref:
    * table_format_handler_base.py:163-179). */
  def idsToNames(df: DataFrame, dimColumn: String, records: DataFrame): DataFrame = {
    val rec = broadcast(records.select(col("id").as("__graft_rec_id"), col("name").as("__graft_rec_name")))
    df.join(rec, df(dimColumn) === col("__graft_rec_id"), "inner")
      .drop(dimColumn, "__graft_rec_id")
      .withColumnRenamed("__graft_rec_name", dimColumn)
      .select(df.columns.map(col): _*) // keep the caller's column order
  }
}
