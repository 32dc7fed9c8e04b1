package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Publisher

/** The deployment-config seam: endpoint override, base-URI table resolution,
  * and scheme-keyed queue transport — all without code change in
  * `Tables`/`Publisher` (reference: config.go + s3_options.go).
  */
class GraftConfigSpec extends SparkSpec {

  test("fromEnv reads the reference's env variable names") {
    val cfg = GraftConfig.fromEnv(Map(
      "ENV" -> "staging",
      "GRAFT_BASE_URI" -> "s3a://bucket/prefix/",
      "QUEUE_URL" -> "mem://cfg-q",
      "SQS_BATCH_SIZE" -> "5",
      "S3_ENDPOINT_OVERRIDE" -> "http://localhost:4566"))
    assert(cfg.env == "staging")
    assert(cfg.tablePath("customer") == "s3a://bucket/prefix/customer.parquet")
    assert(cfg.queueBatchSize == 5)
    assert(cfg.fsEndpointOverride == "http://localhost:4566")
    // absent vars → defaults (Go env-parser zero-value behavior)
    val d = GraftConfig.fromEnv(Map.empty)
    assert(d.env == "local" && d.queueBatchSize == 10 &&
      d.fsEndpointOverride.isEmpty)
  }

  test("endpoint override lands in the Hadoop conf; empty is a no-op") {
    val hc = spark.sparkContext.hadoopConfiguration
    val before = Option(hc.get("fs.s3a.endpoint"))
    GraftConfig(fsEndpointOverride = "").configure(spark)
    assert(Option(hc.get("fs.s3a.endpoint")) == before)
    GraftConfig(fsEndpointOverride = "http://localhost:4566").configure(spark)
    assert(hc.get("fs.s3a.endpoint") == "http://localhost:4566")
    assert(hc.get("fs.s3a.path.style.access") == "true")
  }

  test("a base-URI swap redirects the whole pipeline without code change") {
    val s = spark
    // stage a copy of `nation` under a fresh base URI
    val base = tmpDir("graft-base")
    s.read.parquet(s"$sfDir/nation.parquet")
      .write.mode("overwrite").parquet(s"file:$base/nation.parquet")
    val cfg = GraftConfig(baseUri = s"file:$base",
      queueUrl = "mem://cfg-pipeline-q", queueBatchSize = 4)
      .configure(s)
    // Tables-style read through the resolved URI
    val n = s.read.parquet(cfg.tablePath("nation"))
    assert(n.count() == 25)
    // Publisher through the config-built client: batch size honored
    val res = Publisher.publish(s,
      Publisher.PublishRequest(Seq(cfg.tablePath("nation")),
        idColumn = "n_nationkey"),
      cfg.queueClient())
    assert(res.publishedRows == 25 && res.failedRows == 0)
  }

  test("a NON-file scheme resolves through the config seam on a real read " +
      "and the endpoint override reaches the FileSystem's conf") {
    val s = spark
    val hc = s.sparkContext.hadoopConfiguration
    // scheme registration — the same mechanism that binds s3a: to
    // S3AFileSystem (fs.s3a.impl); the sandbox is zero-egress, so the
    // stand-in backs onto local disk but is instantiated and configured
    // through the identical Hadoop path
    hc.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val base = tmpDir("graft-s3seam")
    s.read.parquet(s"$sfDir/nation.parquet")
      .write.mode("overwrite").parquet(s"file:$base/nation.parquet")
    GraftTestFs.seenEndpoint = None
    val cfg = GraftConfig(baseUri = s"graftfs:$base",
      fsEndpointOverride = "http://localhost:4566").configure(s)
    // base-URI table resolution lands on the non-file scheme...
    assert(cfg.tablePath("nation") == s"graftfs:$base/nation.parquet")
    // ...and the scan really goes through the registered FileSystem
    assert(s.read.parquet(cfg.tablePath("nation")).count() == 25)
    // the FileSystem instance the scan created saw the endpoint override
    // in its Configuration — where S3AFileSystem reads fs.s3a.endpoint
    assert(GraftTestFs.seenEndpoint.contains("http://localhost:4566"))
  }

  Seq("0", "-3", "abc").foreach { v =>
    test(s"SQS_BATCH_SIZE=$v fails when the config is built, naming the " +
        "variable and the value") {
      val e = intercept[IllegalArgumentException] {
        GraftConfig.fromEnv(Map("QUEUE_URL" -> "mem://cfg-bad-batch", "SQS_BATCH_SIZE" -> v))
      }
      assert(e.getMessage.contains("SQS_BATCH_SIZE") && e.getMessage.contains(v),
        e.getMessage)
    }
  }

  test("unknown queue scheme fails loudly instead of silently degrading") {
    val e = intercept[IllegalArgumentException] {
      GraftConfig(queueUrl = "sqs://us-east-1/q").queueClient()
    }
    assert(e.getMessage.contains("no queue client registered"))
  }
}
