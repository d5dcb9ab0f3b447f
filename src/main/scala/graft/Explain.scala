package graft
/** Plan audit: `runMain graft.Explain [query names...]` prints the
  * formatted physical plan of each named SparkEntry query (defaults to
  * a representative scale-sensitive set). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("8")
    val dir = "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args.toSeq
      else Seq("g01_fetch_selector","r01_pricing_summary","r09_shipping_priority",
        "g34_valuesort","g48_geo_cover_pushdown","t15_simhash_neardup_banded",
        "a03_lsh_multiband","g57_stl_classical",
        "g89_linreg","t26_bm25","t31_cms_heavy_hitters","g100_salted_agg")
    for (name <- names) {
      println(s"========== $name ==========")
      println(SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
