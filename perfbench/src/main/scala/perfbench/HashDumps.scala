package perfbench

import org.apache.spark.sql.SparkSession

/** Prints, for each register entry dumped by `graft.Verify` under `<dir>`,
  * the row hash the register workload checks, so the recorded expectations
  * in `register_expected.json` can be compared with results that
  * `tools/check_oracle.py` has matched against DuckDB. */
object HashDumps {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    RegisterWorkload.Entries.filterNot(_.startsWith("x_")).foreach { name =>
      val df = spark.read.parquet(s"${args(0)}/$name")
      val h = df.select(RegisterWorkload.rowHash(df): _*).head()
      println(s"""${Json.str(name)}: {"rows":${h.getLong(0)},"hash":"${h.get(1)}:${h.get(2)}"}""")
    }
    spark.stop()
  }
}
