package graft.sources.v2

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Numeric source options (admission caps, redrive counts). A value that is
  * not a positive integer fails when the scan is built, naming the option:
  * a cap ≤ 0 would make `latestOffset(start, limit)` return the start offset
  * or an earlier one, so the stream would admit nothing or move backwards,
  * and a receive limit ≤ 0 would dead-letter every message.
  */
private[v2] object SourceOptions {
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
