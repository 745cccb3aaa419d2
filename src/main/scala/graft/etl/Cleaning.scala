package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Cleaning/coercion expression library reproducing the reference's pandas
  * semantics exactly (SURVEY §2.8 F4-F9); every quirk is deliberate and
  * unit-tested, because these are where silent divergence hides
  * (SURVEY §7.4 #2).
  */
object Cleaning {

  /** pandas `astype(str).str.upper().str.strip()`
    * (ref dags/sri_vehiculos_etl_dag.py:164-166, :248-250).
    * Quirk preserved: `astype(str)` renders NaN as the literal string
    * 'nan', which upper-cases to 'NAN' — so a null MARCA becomes 'NAN',
    * not null. Doubles stringify with their decimal point ('2025.0'),
    * matching pandas float64 repr.
    */
  def upperTrim(c: Column): Column =
    when(c.isNull, lit("NAN")).otherwise(upper(trim(c.cast(StringType))))

  /** pandas `astype(str)` on a float64 column (ref :520): 10701.0 →
    * '10701.0'. Spark's double→string cast matches; nulls also become
    * 'nan' under astype(str).
    */
  def floatKeyToString(c: Column): Column =
    when(c.isNull, lit("nan")).otherwise(c.cast(StringType))

  /** pandas `pd.to_datetime(c, errors='coerce')` on the sample's dates
    * (ref :454). The data is M/d/yyyy despite the header's DD/MM/AA
    * claim (verified in FIXTURES.md); coerce → null on failure, which is
    * Spark's non-ANSI to_date behavior.
    */
  def safeDate(c: Column): Column = to_date(c, "M/d/yyyy")

  /** pandas `pd.to_numeric(c, errors='coerce').fillna(0)` (ref :547). */
  def safeNumericFillZero(c: Column): Column =
    coalesce(c.cast("double"), lit(0.0))
}
