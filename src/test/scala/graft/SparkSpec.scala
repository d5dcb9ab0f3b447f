package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Gts

/** Shared session + tiny GTS builders for operator specs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Build a canonical GTS frame from (class, user-label, ts, value). */
  def gtsOf(points: (String, String, Long, Double)*): DataFrame = {
    import spark.implicits._
    val df = points.toSeq.toDF("class", "user", "ts", "vdouble")
      .select(col("class"),
        map(lit("user"), col("user")).as("labels"),
        col("ts"),
        lit(null).cast("double").as("lat"),
        lit(null).cast("double").as("lon"),
        lit(null).cast("bigint").as("elev"),
        lit(graft.model.GtsType.DOUBLE).cast("tinyint").as("vtype"),
        lit(null).cast("bigint").as("vlong"),
        col("vdouble"),
        lit(null).cast("boolean").as("vbool"),
        lit(null).cast("string").as("vstring"),
        lit(null).cast("binary").as("vbinary"))
    Gts.canonical(df)
  }

  /** (ts, value) pairs of a single-series result, tick-sorted. */
  def tsv(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("ts"), col("vdouble")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)
}

object SparkSpec {
  lazy val session: SparkSession = Session.local("4")
}
