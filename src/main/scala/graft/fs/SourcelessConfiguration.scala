package graft.fs

import java.io.DataOutput

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{Text, WritableUtils}

/** A copy of `conf` that serializes without each property's source list.
  *
  * The stock `Configuration.write` follows every `(key, value)` with the
  * property's sources through `WritableUtils.writeCompressedStringArray`,
  * which opens a new `GZIPOutputStream` (a `Deflater` init, deflate and
  * end) per property: about a thousand of them for a session's Hadoop
  * configuration, each time a `SerializableConfiguration` of it is
  * broadcast. This `write` writes each pair with a null source list
  * (`writeInt(-1)`), the encoding the stock `readFields` (what
  * `SerializableConfiguration.readObject` runs) reads as "no sources", so a
  * reader gets exactly the same keys and values.
  */
class SourcelessConfiguration(conf: Configuration) extends Configuration(conf) {
  override def write(out: DataOutput): Unit = {
    val props = getProps
    WritableUtils.writeVInt(out, props.size)
    props.forEach { (k, v) =>
      Text.writeString(out, k.asInstanceOf[String])
      Text.writeString(out, v.asInstanceOf[String])
      out.writeInt(-1)
    }
  }
}
