package graft.sources.v2

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Source options. A numeric one (admission caps, redrive counts, partition
  * counts, `minPartitions`) that is not a positive integer fails when the
  * table or scan is built, naming the option: a cap ≤ 0 would make
  * `latestOffset(start, limit)` return the start offset or an earlier one,
  * so the stream would admit nothing or move backwards, a receive limit ≤ 0
  * would dead-letter every message, and a topic has at least one partition.
  */
private[v2] object SourceOptions {
  def required(options: CaseInsensitiveStringMap, key: String): String =
    Option(options.get(key)).getOrElse(
      throw new IllegalArgumentException(s"option '$key' is required"))

  /** A topic's partition count: required and positive. */
  def partitions(options: CaseInsensitiveStringMap): Int =
    positiveInt(options, "partitions").getOrElse(
      throw new IllegalArgumentException("option 'partitions' is required"))

  def positiveLong(options: CaseInsensitiveStringMap, key: String): Option[Long] =
    positive(options, key)(_.toLongOption)

  def positiveInt(options: CaseInsensitiveStringMap, key: String): Option[Int] =
    positive(options, key)(_.toIntOption)

  private def positive[T](options: CaseInsensitiveStringMap, key: String)(
      parse: String => Option[T])(implicit num: Numeric[T]): Option[T] =
    Option(options.get(key)).map(v => parse(v).filter(num.signum(_) > 0)
      .getOrElse(throw new IllegalArgumentException(
        s"option '$key' must be a positive integer, got '$v'")))
}
