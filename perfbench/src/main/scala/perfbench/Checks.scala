package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Output invariants, checked outside the timed region. Each returns the
  * messages of the expectations that failed (empty = correct). */
object Checks {

  /** Relative tolerance for totals: the engine and these checks sum the
    * same doubles in different orders. */
  val RelTol = 1e-9

  def close(actual: Double, expected: Double): Boolean =
    math.abs(actual - expected) <= RelTol * math.max(1.0, math.abs(expected))

  /** Column sums and row count of a table, in one pass. */
  def sums(df: DataFrame, columns: Seq[String]): (Map[String, Double], Long) = {
    val r = df.agg(count(lit(1)), columns.map(c => sum(col(c))): _*).head()
    (columns.zipWithIndex.map { case (c, i) => c -> (if (r.isNullAt(i + 1)) 0.0 else r.getDouble(i + 1)) }.toMap,
      r.getLong(0))
  }

  /** Column sums and row count of collected rows. */
  def sums(rows: Array[Row], columns: Seq[String]): (Map[String, Double], Long) =
    (columns.map(c => c -> rows.map(r => if (r.isNullAt(r.fieldIndex(c))) 0.0 else r.getDouble(r.fieldIndex(c))).sum)
      .toMap, rows.length.toLong)

  /** Each column keeps its expected total (a conserved quantity: mapping
    * fractions sum to 1, unit and scaling factors are known), and the
    * output has the expected number of rows. */
  def totals(
      actual: (Map[String, Double], Long),
      expected: Map[String, Double],
      expectedRows: Long): Seq[String] = {
    val (got, rows) = actual
    expected.toSeq.sortBy(_._1).collect {
      case (c, e) if !got.get(c).exists(close(_, e)) => s"column $c sums to ${got.get(c).orNull}, expected $e"
    } ++ (if (rows == expectedRows) Nil else Seq(s"$rows rows, expected $expectedRows"))
  }

  /** Two collected results hold the same rows: equal on the key columns,
    * the value columns within [[RelTol]]. */
  def sameRows(a: Array[Row], b: Array[Row], keys: Seq[String], values: Seq[String]): Seq[String] = {
    def keyed(rows: Array[Row]): Map[Seq[Any], Seq[Double]] =
      rows.map(r => keys.map(k => r.get(r.fieldIndex(k))) -> values.map(v => r.getDouble(r.fieldIndex(v)))).toMap
    val (ka, kb) = (keyed(a), keyed(b))
    if (a.length != b.length || ka.size != a.length) Seq(s"row counts differ: ${a.length} vs ${b.length}")
    else if (ka.keySet != kb.keySet) Seq(s"keys differ: ${(ka.keySet diff kb.keySet).take(3).mkString("; ")}")
    else ka.toSeq.flatMap { case (k, va) =>
      values.zip(va.zip(kb(k))).collect {
        case (c, (x, y)) if !close(x, y) => s"$c at ${k.mkString(",")}: $x vs $y"
      }
    }.take(3)
  }
}
