package graft

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.SparkSession

/** Typed reads of the numeric `spark.graft.*` knobs: unset is None, and a
  * malformed value fails with an IllegalArgumentException naming the key
  * and the value. Byte sizes take plain bytes or a unit suffix (`160m`).
  */
object GraftConf {
  def long(spark: SparkSession, key: String): Option[Long] =
    read(spark, key, "an integer")(_.toLong)

  def int(spark: SparkSession, key: String): Option[Int] =
    read(spark, key, "an integer")(_.toInt)

  def bytes(spark: SparkSession, key: String): Option[Long] =
    read(spark, key, "a byte size")(JavaUtils.byteStringAsBytes)

  private def read[A](spark: SparkSession, key: String, what: String)(
      parse: String => A): Option[A] =
    spark.conf.getOption(key).map { v =>
      try parse(v.trim)
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"$key must be $what, got '$v'", e) }
    }
}
