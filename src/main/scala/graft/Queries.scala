package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The operator catalog: every query exercises one operator family from
  * SURVEY.md §2 (or a training-data-pipeline extension) against the
  * driver-provided TPC-H-ish tables, and carries an equivalent DuckDB SQL
  * oracle where the semantics are SQL-expressible.
  *
  * Output discipline (driver hash-compares after sorting columns by name):
  *   - integer outputs are BIGINT on both sides;
  *   - double aggregates are rounded identically on both sides;
  *   - results are sorted by their key columns on both sides;
  *   - no raw timestamp outputs (epochs / extracted fields instead).
  */
object Queries {

  /** The catalog record: a named query over a testdata dir plus its DuckDB
    * oracle (see QueryDsl — helpers and the record live there so the
    * per-family catalog files in `queries/` can share them). */
  type Q = QueryDsl.Q
  val Q: QueryDsl.Q.type = QueryDsl.Q

  private[graft] def normalizeTs(df: DataFrame): DataFrame = QueryDsl.normalizeTs(df)

  /** Build the shared registries before timed runs (see QueryDsl). */
  def prewarmRegistries(s: SparkSession, dir: String): Unit =
    QueryDsl.prewarmRegistries(s, dir)

  /** Every family's queries in query-number order (`q<N>_…`, N ascending). */
  val all: Seq[Q] =
    Seq(DsgridCatalog.all, RelationalCatalog.all, LakehouseCatalog.all, StreamingCatalog.all,
      GraphCatalog.all, GeoCatalog.all, VectorCatalog.all, TextCatalog.all, TextDedupCatalog.all,
      TextCurationCatalog.all, StatsCatalog.all, StatsAnalyticsCatalog.all)
      .flatten.sortBy(q => q.name.drop(1).takeWhile(_.isDigit).toInt)
}
