package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Constants.ValueColumn

/** Unit conversion as pure column expressions (no UDFs, codegen-friendly) —
  * semantics from the reference's when-ladders
  * (dsgrid/units/energy.py:49-152, power.py, constants dsgrid/units/constants.py;
  * orchestration dsgrid/units/convert.py:15-72).
  *
  * Design: instead of one hand-written `when` ladder per target unit (the
  * reference's shape), we normalise through a factor table: every unit has a
  * multiplier to its family's base unit, so any→any is
  * `value * factor(from) / factor(to)` built as a single nested `when`
  * expression. Same results, O(units) code instead of O(units²).
  */
object Units {

  /** Multipliers to the family base unit (kWh for energy, kW for power —
    * ref constants: dsgrid/units/constants.py). Therm/MBtu per EIA
    * conventions used by the reference. */
  val energyToKwh: Map[String, Double] = Map(
    "Wh" -> 1e-3,
    "kWh" -> 1.0,
    "MWh" -> 1e3,
    "GWh" -> 1e6,
    "TWh" -> 1e9,
    "therm" -> 29.307111111111112, // 1 therm = 105.5056 MJ (100,000 Btu_IT) / 3.6 MJ/kWh
    "MBtu" -> 293.07111111111113) // 1 MBtu (million Btu) = 293.07 kWh

  val powerToKw: Map[String, Double] = Map(
    "W" -> 1e-3,
    "kW" -> 1.0,
    "MW" -> 1e3,
    "GW" -> 1e6,
    "TW" -> 1e9)

  /** Build a Column mapping a unit-name column to its base-unit factor;
    * unknown units yield null (the reference's ladders end `otherwise(None)`). */
  def factorFor(unitCol: Column, table: Map[String, Double]): Column =
    table.toSeq.sortBy(_._1).foldLeft(lit(null).cast("double")) { case (acc, (u, f)) =>
      when(unitCol === lit(u), lit(f)).otherwise(acc)
    }

  /** value converted between two unit columns within one family. Rows where
    * from==to short-circuit to the original value (the reference early-exits
    * whole datasets when units match, convert.py:49-52; per-row `when` gives
    * the same effect without a separate code path). */
  def convertValue(value: Column, fromUnit: Column, toUnit: Column, table: Map[String, Double]): Column =
    when(fromUnit === toUnit, value)
      .otherwise(value * factorFor(fromUnit, table) / factorFor(toUnit, table))

  def convertEnergy(value: Column, fromUnit: Column, toUnit: Column): Column =
    convertValue(value, fromUnit, toUnit, energyToKwh)

  def convertPower(value: Column, fromUnit: Column, toUnit: Column): Column =
    convertValue(value, fromUnit, toUnit, powerToKw)

  /** Orchestration over a fact table: join the from-unit from metric records
    * (broadcast — records are tiny), apply the conversion to `toUnit`, drop
    * helper columns (ref: dsgrid/units/convert.py:15-72). `records` must have
    * columns (id, unit). */
  def convertUnits(
      df: DataFrame,
      metricColumn: String,
      records: DataFrame,
      toUnit: String,
      table: Map[String, Double] = energyToKwh,
      valueColumn: String = ValueColumn): DataFrame = {
    val rec = broadcast(records.select(col("id").as("__graft_unit_id"), col("unit").as("__graft_from_unit")))
    df.join(rec, df(metricColumn) === col("__graft_unit_id"), "left")
      .withColumn(valueColumn, convertValue(col(valueColumn), col("__graft_from_unit"), lit(toUnit), table))
      .drop("__graft_unit_id", "__graft_from_unit")
  }
}

/** Growth-rate application (ref: dsgrid/dataset/growth_rates.py). */
object Growth {

  /** Exponential growth: value * (1+r)^(model_year - base_year)
    * (ref :105-139, uses F.pow). `rateColumn` holds r per row. */
  def exponentialGrowth(value: Column, rate: Column, modelYear: Column, baseYear: Column): Column =
    value * pow(lit(1.0) + rate, modelYear.cast("int") - baseYear.cast("int"))

  /** Join initial_value to growth_rate on the dimension columns and apply
    * exponential growth (ref :63-102). `growth` carries the rate in its value
    * column; both frames share dimension columns except `joinColumns`
    * alignment is by all non-value columns of `initial`. */
  def applyExponentialGrowthRate(
      initial: DataFrame,
      growth: DataFrame,
      joinColumns: Seq[String],
      modelYearColumn: String,
      baseYear: Int,
      valueColumn: String = ValueColumn): DataFrame = {
    val g = growth.withColumnRenamed(valueColumn, "__graft_rate")
      .select((joinColumns :+ "__graft_rate").map(col): _*)
    initial
      .join(g, joinColumns, "inner")
      .withColumn(
        valueColumn,
        exponentialGrowth(col(valueColumn), col("__graft_rate"), col(modelYearColumn), lit(baseYear)))
      .drop("__graft_rate")
  }

  /** Annual multiplier: value * r for matching rows (ref :63-102 variant). */
  def applyAnnualMultiplier(
      initial: DataFrame,
      multiplier: DataFrame,
      joinColumns: Seq[String],
      valueColumn: String = ValueColumn): DataFrame = {
    val m = multiplier.withColumnRenamed(valueColumn, "__graft_mult")
      .select((joinColumns :+ "__graft_mult").map(col): _*)
    initial
      .join(m, joinColumns, "inner")
      .withColumn(valueColumn, col(valueColumn) * col("__graft_mult"))
      .drop("__graft_mult")
  }
}
