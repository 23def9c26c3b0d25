package graft.model

import org.apache.spark.sql.SparkSession

/** Defensive parsing for `spark.graft.*` numeric conf keys.
  *
  * Every graft numeric conf is read through [[int]]/[[long]] instead of a
  * bare `.toInt`/`.toLong` (whose NumberFormatException surfaces deep
  * inside query construction with no mention of which key was
  * malformed). Both FAIL LOUD, naming the key and the raw value:
  * silently substituting the default would change physical layout or
  * cache keys under the operator (e.g. the dq trio bucket count: a fleet
  * operator who fat-fingers the count must see the typo, not get 32
  * buckets and a mysterious rebuild).
  */
object Conf {

  private def parse[T](key: String, raw: String, kind: String,
      f: String => T): T =
    try f(raw.trim)
    catch { case e: NumberFormatException =>
      throw new IllegalArgumentException(
        s"$key must be ${kind}, got '$raw'", e)
    }

  /** The key's value as an Int, or `default` when unset; a malformed
    * value fails with a message naming the key. */
  def int(spark: SparkSession, key: String, default: Int): Int =
    spark.conf.getOption(key)
      .map(parse(key, _, "an integer", _.toInt)).getOrElse(default)

  /** The key's value as a Long, or `default` when unset; a malformed
    * value fails with a message naming the key. */
  def long(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key)
      .map(parse(key, _, "a long", _.toLong)).getOrElse(default)
}
