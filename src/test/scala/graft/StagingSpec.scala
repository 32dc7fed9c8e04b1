package graft

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The fixture owner: memo entries per (session, key), dirs under one root
  * per context, and what releasing that root takes with it.
  */
class StagingSpec extends SparkSpec {

  private def children(dir: Path, prefix: String): Set[Path] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSet
    finally ls.close()
  }

  test("a memoized fixture builds once per session; a new session builds its own") {
    val key = s"spec-fixture ${UUID.randomUUID()}"
    val builds = new AtomicInteger
    def fixture(s: SparkSession): String = Staging.memo(s, key) {
      builds.incrementAndGet()
      Staging.dir(s, "graft-spec-fixture-")
    }
    val mine = fixture(spark)
    assert((1 to 3).map(_ => fixture(spark)).forall(_ == mine))
    assert(builds.get === 1)
    assert(Paths.get(mine).getParent === Staging.root(spark))
    assert(Staging.root(spark).getParent ===
      Paths.get(System.getProperty("java.io.tmpdir")))
    assert(Staging.root(spark).getFileName.toString.startsWith("graft-staging-"))

    val other = spark.newSession()
    val theirs = fixture(other)
    assert(builds.get === 2 && theirs != mine)
    assert(fixture(other) === theirs && fixture(spark) === mine)
    assert(builds.get === 2)
  }

  test("bm25_indexed and bm25_filtered build their shared index once and read the same path") {
    // a fresh session: its memo holds no index yet
    val s = spark.newSession()
    val before = children(Staging.root(s), "graft-bm25-bench-")
    val timed = graft.queries.PipelineQueries.timed
    def run(name: String): DataFrame = timed(name)(s, sfDir)
    val indexed = run("bm25_indexed")
    val filtered = run("bm25_filtered")
    val built = children(Staging.root(s), "graft-bm25-bench-") -- before
    assert(built.size === 1, built)
    val index = built.head.toUri.getPath.stripSuffix("/")
    def indexFiles(df: DataFrame): Seq[String] =
      df.inputFiles.toSeq.filter(_.contains(s"$index/"))
    assert(indexFiles(indexed).nonEmpty && indexFiles(filtered).nonEmpty)
    assert(indexed.count() > 0 && filtered.count() > 0)
    // later reps are memo hits: no further build
    run("bm25_indexed").count()
    run("bm25_filtered").count()
    assert(children(Staging.root(s), "graft-bm25-bench-") -- before === built)
  }

  test("releasing a context's root deletes every staged dir and drops its memo entries") {
    val root = Staging.root(spark)
    val dirs = (1 to 3).map(i => Paths.get(Staging.dir(spark, s"graft-spec-release$i-")))
    Files.createDirectories(dirs.head.resolve("nested/deeper"))
    dirs.foreach(d => Files.write(d.resolve("part"), Array[Byte](1, 2, 3)))
    val key = s"spec-release ${UUID.randomUUID()}"
    val builds = new AtomicInteger
    def fixture(): Int = Staging.memo(spark, key)(builds.incrementAndGet())
    assert(fixture() === 1 && fixture() === 1)

    Staging.release(spark.sparkContext)
    assert(!Files.exists(root))
    assert(dirs.forall(d => !Files.exists(d)), dirs)
    assert(fixture() === 2, "the memo entry went with the root")
    val reopened = Staging.root(spark)
    assert(reopened != root && Files.isDirectory(reopened))
  }

  test("deleteTree removes a link, not its target, and a tree already gone is a no-op") {
    val base = Paths.get(tmpDir("graft-spec-tree-"))
    val target = Files.createDirectories(base.resolve("target"))
    Files.write(target.resolve("kept"), Array[Byte](7))
    val tree = Files.createDirectories(base.resolve("tree/a/b"))
    Files.write(tree.resolve("f"), Array[Byte](1))
    Files.createSymbolicLink(base.resolve("tree/link"), target)

    val copy = base.resolve("copy/of/tree")
    fs.copyTree(base.resolve("tree/a"), copy)
    assert(Files.readAllBytes(copy.resolve("b/f")).toSeq === Seq[Byte](1))

    fs.deleteTree(base.resolve("tree"))
    assert(!Files.exists(base.resolve("tree")))
    assert(Files.readAllBytes(target.resolve("kept")).toSeq === Seq[Byte](7))
    fs.deleteTree(base.resolve("tree"))
  }
}
