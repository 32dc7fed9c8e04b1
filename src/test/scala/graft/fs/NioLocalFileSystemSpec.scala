package graft.fs

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

import graft.SparkSpec
import graft.sources.DataGenerator
import graft.streaming.IdempotentSink

class NioLocalFileSystemSpec extends SparkSpec {

  private val LocalUri = URI.create("file:///")

  private def stockFs(conf: Configuration): LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(LocalUri, conf)
    fs
  }

  private def nioFs(conf: Configuration): NioLocalFileSystem = {
    val fs = new NioLocalFileSystem()
    fs.initialize(LocalUri, conf)
    fs
  }

  /** `rwx` bits and the sticky bit, as the stock status reads them. */
  private def mode(p: Path): Short =
    stockFs(new Configuration()).getFileStatus(p).getPermission.toShort

  /** A 3-file input for a 3-batch sink run (one file per micro-batch). */
  private def threeFiles(rows: Long, seed: Long): String = {
    val dir = tmpDir("nio-src")
    DataGenerator.generate(spark, rows, seed, numPartitions = 3)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def runSink(src: String, out: String, ckpt: String): Unit = {
    val stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = IdempotentSink.start(stream, out, ckpt)
    assert(q.awaitTermination(120000L), "sink did not finish within 120 s")
    q.exception.foreach(e => fail(e))
  }

  test("setup resolves both file APIs to the nio classes, even after the stock FileSystem is cached") {
    val fresh = new Configuration()
    val cached = FileSystem.get(LocalUri, fresh)
    assert(!cached.isInstanceOf[NioLocalFileSystem])
    setup(spark)
    setup(spark)
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(LocalUri, conf).isInstanceOf[NioLocalFileSystem])
    assert(new Path("file:/tmp/x").getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(LocalUri, conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    // The stock instance stays cached for configurations without the setup.
    assert(FileSystem.get(LocalUri, fresh) eq cached)
  }

  test("files and directories get the stock permission bits") {
    val conf = new Configuration()
    val root = new Path(tmpDir("nio-perm"))
    val stock = stockFs(conf)
    val nio = nioFs(conf)
    val perms = Seq(None, Some("755"), Some("700"), Some("640"), Some("777"), Some("1777"))
    for ((fs, side) <- Seq(stock -> "stock", nio -> "nio"); (p, i) <- perms.zipWithIndex) {
      val perm = p.map(new FsPermission(_))
      val d = new Path(root, s"$side/d$i/sub")
      val f = new Path(root, s"$side/f$i")
      perm match {
        case Some(x) =>
          assert(fs.mkdirs(d, x))
          fs.create(f, x, true, 4096, 1.toShort, 1L << 20, null).close()
        case None =>
          assert(fs.mkdirs(d))
          fs.create(f).close()
      }
      // An explicit chmod after the fact: no umask, every bit as given.
      val g = new Path(root, s"$side/g$i")
      fs.create(g).close()
      perm.foreach(fs.setPermission(g, _))
    }
    for (i <- perms.indices; name <- Seq(s"d$i/sub", s"d$i", s"f$i", s"g$i", s".f$i.crc")) {
      val a = new Path(root, s"stock/$name")
      val b = new Path(root, s"nio/$name")
      assert(mode(a) == mode(b), s"$name: ${mode(a)} vs ${mode(b)}")
    }
    // The checksummed FileContext path: create and mkdir with the conf umask.
    val fc = FileContext.getFileContext(LocalUri, conf)
    val nfc = FileContext.getFileContext(new NioLocalFs(LocalUri, conf), conf)
    for ((c, side) <- Seq(fc -> "stock", nfc -> "nio")) {
      c.mkdir(new Path(root, s"fc-$side/a"), FsPermission.getDirDefault, true)
      c.create(new Path(root, s"fc-$side/a/f"),
        java.util.EnumSet.of(CreateFlag.CREATE)).close()
    }
    for (name <- Seq("", "/a", "/a/f", "/a/.f.crc"))
      assert(mode(new Path(root, s"fc-stock$name")) == mode(new Path(root, s"fc-nio$name")), name)
    val missing = new Path(root, "missing")
    intercept[java.io.FileNotFoundException](nio.getRawFileSystem.setPermission(missing,
      new FsPermission("644")))
  }

  test("link status and link targets resolve as the stock file system resolves them") {
    val conf = new Configuration()
    val root = Paths.get(tmpDir("nio-link"))
    Files.write(root.resolve("file"), Array[Byte](1, 2, 3))
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), Paths.get("file"))
    Files.createSymbolicLink(root.resolve("dirlink"), root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("dangling"), Paths.get("gone"))
    val stock = stockFs(conf).getRawFileSystem
    val nio = nioFs(conf).getRawFileSystem
    // What a lookup answers: the status fields links change, or the failure.
    def view(st: => FileStatus): Either[Class[_], Seq[Any]] =
      scala.util.Try(st).toEither.left.map(_.getClass).map(st =>
        Seq(st.getPath, st.isSymlink, if (st.isSymlink) st.getSymlink else null,
          st.isDirectory, st.getLen))
    val names = Seq("file", "dir", "link", "dirlink", "dangling")
    // Unqualified paths read the link; scheme-qualified ones never do (the
    // stock lookup hands `file:/…` to readlink, which fails).
    val paths = names.map(n => new Path(root.resolve(n).toString)) ++
      names.map(n => new Path(root.resolve(n).toUri))
    for (p <- paths) {
      assert(view(nio.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)), p)
      val t = scala.util.Try(stock.getLinkTarget(p)).toEither.left.map(_.getClass)
      assert(scala.util.Try(nio.getLinkTarget(p)).toEither.left.map(_.getClass) == t, p)
    }
    assert(nio.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(root.resolve("dangling").toString)).isSymlink)
    val gone = new Path(root.resolve("absent").toString)
    intercept[java.io.FileNotFoundException](nio.getFileLinkStatus(gone))
    // Through FileContext, as the checkpoint logs see them.
    val fc = FileContext.getFileContext(LocalUri, conf)
    val nfc = FileContext.getFileContext(new NioLocalFs(LocalUri, conf), conf)
    for (p <- paths)
      assert(view(nfc.getFileLinkStatus(p)) == view(fc.getFileLinkStatus(p)), p)
  }

  test("the streaming write-ahead log still renames through FileContext") {
    setup(spark)
    val dir = new Path(tmpDir("nio-wal"))
    val conf = spark.sessionState.newHadoopConf()
    val mgr = CheckpointFileManager.create(dir, conf)
    assert(mgr.isInstanceOf[FileContextBasedCheckpointFileManager], mgr.getClass)
    val entry = new Path(dir, "0")
    val out = mgr.createAtomic(entry, false)
    out.write("v1".getBytes("UTF-8"))
    out.close()
    // Only the entry and its checksum: the temp file was renamed away.
    assert(new java.io.File(dir.toString).list().toSet == Set("0", ".0.crc"))
    // FileContext's rename without OVERWRITE refuses an existing target: a
    // second writer of the same log entry fails instead of replacing it.
    val again = mgr.createAtomic(entry, false)
    again.write("v2".getBytes("UTF-8"))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](again.close())
    val in = mgr.open(entry)
    try assert(new String(in.readAllBytes(), "UTF-8") == "v1") finally in.close()
  }

  test("a 3-batch IdempotentSink run spawns no process once the stock FileSystem is cached") {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl", "fs.file.impl.disable.cache")
    // The session reads and writes file: paths before any setup, so the
    // stock `file` FileSystem is the cached instance.
    keys.foreach(conf.unset)
    val src = threeFiles(300L, 21L)
    assert(spark.read.parquet(src).count() == 300L)
    assert(!FileSystem.get(LocalUri, spark.sessionState.newHadoopConf())
      .isInstanceOf[NioLocalFileSystem])
    // Warm-up: one-time forks of the JVM (Hadoop's shell probes) happen here.
    runSink(src, tmpDir("nio-warm-out"), tmpDir("nio-warm-ckpt"))
    // So does Spark's `getconf PAGESIZE`, which the executor's first
    // heartbeat-timed metrics poll would otherwise fork whenever it comes.
    org.apache.spark.ExecutorShim.initProcfsMetrics()

    // Spark's ArtifactManager deletes a session's artifact dir with
    // `rm -rf` when the session stops or is collected, whichever session
    // that is; it is not file-system I/O, so its forks are left out.
    def fromArtifactManager(e: jdk.jfr.consumer.RecordedEvent): Boolean =
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))
    val forks = new ConcurrentLinkedQueue[String]()
    val marker = s"graft-fork-marker-${java.util.UUID.randomUUID()}"
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", e =>
        if (!fromArtifactManager(e)) forks.add(e.getString("command")))
      rs.startAsync()
      val out = tmpDir("nio-out")
      runSink(src, out, tmpDir("nio-ckpt"))
      assert(spark.read.parquet(out).count() == 300L)
      assert(new java.io.File(out).list().count(_.startsWith("batch_id=")) == 3)
      // A fork of our own: once the stream delivers it, every fork the
      // sink run made has been delivered before it.
      new ProcessBuilder("true", marker).start().waitFor()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!forks.asScala.exists(_.contains(marker)) && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally rs.close()
    val seen = forks.asScala.toSeq
    assert(seen.exists(_.contains(marker)), "the recording saw no fork at all")
    assert(seen.filterNot(_.contains(marker)).isEmpty, seen.mkString("\n"))
  }

  test("a sink restarted after losing its last commit rewrites that batch exactly once") {
    val src = threeFiles(300L, 22L)
    val out = tmpDir("nio-crash-out")
    val ckpt = tmpDir("nio-crash-ckpt")
    runSink(src, out, ckpt)
    val commits = Paths.get(ckpt, "commits")
    assert(Files.exists(commits.resolve("2")) && !Files.exists(commits.resolve("3")))
    def partFiles(batch: Long): Set[String] =
      new java.io.File(s"$out/batch_id=$batch").list().filter(_.startsWith("part-")).toSet
    val before = (0L to 2L).map(partFiles)
    // The crash: batch 2's output landed, its commit did not.
    Files.delete(commits.resolve("2"))
    Files.delete(commits.resolve(".2.crc"))
    runSink(src, out, ckpt)
    assert(Files.exists(commits.resolve("2")) && !Files.exists(commits.resolve("3")))
    val after = (0L to 2L).map(partFiles)
    assert(after.take(2) == before.take(2))
    assert(after(2).nonEmpty && (after(2) intersect before(2)).isEmpty,
      "batch 2 was not rewritten")
    val sink = spark.read.parquet(out)
    assert(sink.count() == 300L)
    assert(sink.select("id").distinct().count() == 300L)
    assert(sink.drop("batch_id").exceptAll(spark.read.parquet(src)).isEmpty)
  }
}
