package graft.fs

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

class SourcelessConfigurationSpec extends AnyFunSuite {

  /** `conf` through a `SerializableConfiguration`, as a broadcast ships
    * it: the bytes, and the `Configuration` the stock `readFields` builds.
    */
  private def shipped(conf: Configuration): (Array[Byte], Configuration) = {
    val bytes = new ByteArrayOutputStream
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(conf))
    out.close()
    val in = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
    (bytes.toByteArray, in.readObject().asInstanceOf[SerializableConfiguration].value)
  }

  private def pairs(conf: Configuration): Map[String, String] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  /** A gzip member header: magic 1f 8b, method 8 (deflate). */
  private def hasGzipMember(bytes: Array[Byte]): Boolean =
    bytes.sliding(3).exists(w => w(0) == 0x1f.toByte && w(1) == 0x8b.toByte && w(2) == 8)

  test("the copy stock readFields deserializes has the original's pairs, and no gzip member") {
    val conf = new Configuration()
    conf.set("graft.spec.plain", "value")
    conf.set("graft.spec.unicode", "na\u00efve \uD83D\uDE00")
    conf.set("graft.spec.empty", "")
    assert(pairs(conf).size > 100, "the defaults are loaded")

    val (stockBytes, stock) = shipped(conf)
    assert(hasGzipMember(stockBytes), "the stock serialization gzips source lists")
    assert(pairs(stock) === pairs(conf))

    val (bytes, back) = shipped(new SourcelessConfiguration(conf))
    assert(!hasGzipMember(bytes))
    assert(pairs(back) === pairs(conf))
    assert(back.getClass === classOf[Configuration])
    assert(bytes.length < stockBytes.length)
  }
}
