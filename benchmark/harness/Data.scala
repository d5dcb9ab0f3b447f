package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Generated inputs. The events table follows the distributions of the
  * `events` test parquet at sf0.1 and sf0.01: one row per event id,
  * users, types and microsecond timestamps uniform (30 days from
  * 2024-01-01), values exponential with mean 50 rounded to cents, and a
  * `props` column `{"k": 0..99}`. It is fixed: it hashes the row id,
  * never the workload seed, so expected results can be committed. Seeds
  * choose what is asked of it, and the line-protocol inputs. */
object Data {
  val T0: Long = 1704067200000000L // 2024-01-01T00:00:00Z
  val HOUR: Long = 3600000000L
  val DAY: Long = 86400000000L
  val LB: Long = T0 + 30 * DAY     // 2024-01-31, the last bucket end
  val Types: Seq[String] = Seq("click", "view", "signup", "purchase", "error")

  /** Scale of sf0.1 (100k rows, 1500 users) or sf0.01 (10k, 150). */
  final case class Scale(rows: Long, users: Long)
  val Sf01 = Scale(100000L, 1500L)
  val Sf001 = Scale(10000L, 150L)

  /** Write `<dir>/events.parquet`; the columns graft.model.Gts.fromEvents reads. */
  def writeEvents(spark: SparkSession, dir: File, scale: Scale): Unit = {
    def h(k: Int) = xxhash64(col("id"), lit(k))
    // u in (0, 1]; -50 ln u is exponential with mean 50
    val u = (pmod(h(4), lit(1L << 31)) + 1).cast("double") / (1L << 31).toDouble
    spark.range(scale.rows).select(
      col("id").as("event_id"),
      timestamp_micros(lit(T0) + pmod(h(3), lit(30 * DAY))).as("ts"),
      pmod(h(1), lit(scale.users)).as("user_id"),
      element_at(array(Types.map(lit): _*),
        (pmod(h(2), lit(Types.size.toLong)) + 1).cast("int")).as("event_type"),
      round(log(u) * -50.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}")).as("props"))
      .write.mode("overwrite").parquet(new File(dir, "events.parquet").getAbsolutePath)
  }

  /** Line protocol for one series: a full first line, then `=`
    * continuation lines (same class and labels). Integer values, so the
    * points read back exactly. */
  def seriesLines(cls: String, labels: Seq[(String, String)], start: Long,
                  step: Long, values: Seq[Long]): Seq[String] = {
    val lbl = labels.map { case (k, v) => s"$k=$v" }.mkString(",")
    values.zipWithIndex.map { case (v, i) =>
      val ts = start + i * step
      if (i == 0) s"$ts// $cls{$lbl} $v" else s"=$ts// $v"
    }
  }

  def writeLines(file: File, lines: Seq[String]): Unit =
    Files.write(file.toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
}
