package graft

import org.apache.spark.sql.functions._

/** The money queries convert to cents with floor(x*100 + 0.5) instead of
  * round(x*100) (a per-row BigDecimal parse). The two differ in general —
  * x*100 just below a .5 boundary floors up after +0.5 but rounds down — so
  * the swap rests on a property of the data: on every column the queries
  * convert, at every scale tested here, both forms give the same cents.
  */
class MoneyRoundingSpec extends SparkSpec {

  private val moneyColumns = Seq(
    "lineitem" -> "l_quantity",
    "lineitem" -> "l_extendedprice",
    "orders" -> "o_totalprice",
    "events" -> "value"
  )

  for (sf <- Seq("0.001", "0.01")) {
    test(s"round(x*100) == floor(x*100 + 0.5) on every money column at sf$sf") {
      moneyColumns.foreach { case (table, c) =>
        val df = spark.read.parquet(s"/root/testdata/sf$sf/$table.parquet")
        val cents = col(c) * 100
        val mismatches =
          df.filter(round(cents).cast("long") =!= floor(cents + 0.5).cast("long")).count()
        assert(df.count() > 0, s"sf$sf $table is empty")
        assert(mismatches == 0, s"sf$sf $table.$c: $mismatches rows round differently")
      }
    }
  }
}
