package graft.operators

import java.io.{FileNotFoundException, IOException}
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one module that knows a persisted store's layout and commit protocol.
  * Every segment store (text index, gram-df, SRP embedding index, IVF-PQ
  * codes, manifest and its sketch indexes, the streaming folds' segment and
  * snapshot dirs, the query fixtures) lists, appends, rebuilds, compacts and
  * reads through it, and the streaming sink's batch commit goes through
  * [[commit]].
  *
  * Layout. A store is a directory of segment dirs named `b<id>` or
  * `batch=<id>` (the second form reads back as a `batch` partition column).
  * [[id]] parses both strictly. Appends use ids >= 0: a caller-supplied id (a
  * streaming batch id) makes a replay idempotent, and [[nextId]] picks the
  * next one otherwise. A compaction writes id -1, outside that
  * keyspace, so a replayed append never overwrites merged history. A
  * listing ignores every other entry: a stray `backup/` or `batch=old` is
  * never read, merged or deleted.
  *
  * Commit. Nothing is written in place.
  *   - One name ([[put]], [[commit]]): write into the hidden stage
  *     `.<name>.<token>` (Spark's listing and a `b*` glob skip dot-names) and
  *     end it with `_SUCCESS`; move an existing `<name>` aside to
  *     `.<name>.<token>.old`; rename the stage in; delete the aside.
  *   - Many names, a compaction or a rebuild ([[Store.replaceAll]]): stage
  *     the new segment at `.compact/<name>`, move the segments listed at open
  *     aside into `.compact/.old/`, rename the stage in, delete `.compact`.
  *   - A rename that returns false throws, naming both paths.
  *
  * Recovery. The stage and the asides are the commit's whole record; there
  * is no intent or pointer file. The next [[open]] of the store settles what
  * a crash left: if the stage is still there it was never renamed in, so the
  * asides move back and the stage is dropped; if it is gone it was renamed
  * in, so the asides are deleted. The store then reads as its old state or
  * its new state. A stage with no aside (the write or the first commit of a
  * name died) hides nothing; the next commit of that name drops it.
  *
  * Concurrency. Appends of new ids may run during a compaction: they are
  * not in its snapshot (the listing taken at open) and survive un-merged. A
  * compaction or rebuild must not race a reader or another compaction, and
  * a name must not be read while it is being replaced: recovery cannot tell
  * a live swap from a dead one.
  */
object Segments {

  private val Name = "(?:b|batch=)(-?\\d+)".r
  private val Record = "\\.(.+)\\.([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})(\\.old)?".r
  private val Compact = ".compact"
  private val Asides = ".old"

  /** Segment name → id; None for anything that is not a strict `b<number>`
    * or `batch=<number>` name.
    */
  def id(name: String): Option[Long] = name match {
    case Name(n) => n.toLongOption
    case _ => None
  }

  /** True iff `name` is a well-formed segment directory name. */
  def isSegment(name: String): Boolean = id(name).isDefined

  /** Opens the store at `dir` (which need not exist yet) for a read, a
    * compaction or a rebuild: settles what an interrupted commit left and
    * lists the segments.
    */
  def open(spark: SparkSession, dir: String): Store = {
    val (p, fs) = resolve(spark, dir)
    val names = list(fs, p)
    val swaps = names.filter(n => Record.matches(n) && names.contains(n.stripSuffix(Asides) + Asides))
    if (names.contains(Compact)) {
      val (compact, asides) = (new Path(p, Compact), new Path(p, s"$Compact/$Asides"))
      if (list(fs, compact).exists(_ != Asides))
        list(fs, asides).foreach(n => move(fs, new Path(asides, n), new Path(p, n)))
      fs.delete(compact, true)
    }
    settle(fs, p, swaps, names.contains)
    new Store(spark, fs, p,
      if (swaps.isEmpty && !names.contains(Compact)) names else list(fs, p))
  }

  /** Every segment of the store at `dir`, as one frame. */
  def read(spark: SparkSession, dir: String): DataFrame = open(spark, dir).read()

  /** The id an append without one takes: max non-negative id + 1 (0 for a
    * store without appends), counting segments a compaction has moved
    * aside. Settles nothing, so it may run during a compaction.
    */
  def nextId(spark: SparkSession, dir: String): Long = {
    val (p, fs) = resolve(spark, dir)
    val names = list(fs, p)
    val aside = if (names.contains(Compact)) list(fs, new Path(p, s"$Compact/$Asides")) else Nil
    (names ++ aside).flatMap(id).filter(_ >= 0).maxOption.fold(0L)(_ + 1)
  }

  /** Appends (or replaces) `name` under `dir`; `write` fills the stage path
    * it is given. Settles only `name`'s own records, so it may run during a
    * compaction.
    */
  def put(spark: SparkSession, dir: String, name: String)(write: String => Unit): Unit = {
    val (p, fs) = resolve(spark, dir)
    commit(fs, p, name)(stage => write(stage.toString))
  }

  /** Commits `name` under `dir`: `write` fills the stage it is given, then
    * `_SUCCESS` is written, `beforeSwap` runs, and the stage is swapped in.
    */
  def commit(fs: FileSystem, dir: Path, name: String, beforeSwap: () => Unit = () => ())(
      write: Path => Unit): Unit = {
    val records = Option(fs.globStatus(new Path(dir, s".$name.*"))).toSeq.flatten
      .map(_.getPath.getName)
    if (records.nonEmpty) settle(fs, dir, records, n => fs.exists(new Path(dir, n)))
    val token = UUID.randomUUID().toString
    val stage = new Path(dir, s".$name.$token")
    write(stage)
    fs.create(new Path(stage, "_SUCCESS")).close()
    beforeSwap()
    val (live, aside) = (new Path(dir, name), new Path(dir, s".$name.$token$Asides"))
    val replaced = fs.exists(live)
    if (replaced) move(fs, live, aside)
    move(fs, stage, live)
    if (replaced) fs.delete(aside, true)
  }

  private def resolve(spark: SparkSession, dir: String): (Path, FileSystem) = {
    val p = new Path(dir)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def list(fs: FileSystem, dir: Path): Seq[String] =
    try fs.listStatus(dir).map(_.getPath.getName).toSeq
    catch { case _: FileNotFoundException => Nil }

  /** Settles one-name records: per (name, token), an aside whose stage is
    * still there moves back when `name` is missing; everything else of the
    * record is deleted.
    */
  private def settle(fs: FileSystem, dir: Path, records: Seq[String],
      live: String => Boolean): Unit =
    records.collect { case n @ Record(name, token, _) => (name, token, n) }
      .groupBy(r => (r._1, r._2)).foreach { case ((name, token), rs) =>
        val (stage, aside) = (s".$name.$token", s".$name.$token$Asides")
        val entries = rs.map(_._3).toSet
        if (entries(stage) && entries(aside) && !live(name))
          move(fs, new Path(dir, aside), new Path(dir, name))
        entries.foreach(n => fs.delete(new Path(dir, n), true))
      }

  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"could not rename $from to $to")

  /** An opened store: the segments listed at [[open]], ascending by id. */
  final class Store private[Segments] (spark: SparkSession, fs: FileSystem, val dir: Path,
      entries: Seq[String]) {

    val segments: Seq[(Long, String)] =
      entries.flatMap(n => id(n).map(_ -> n)).sortBy(_._1)

    def ids: Seq[Long] = segments.map(_._1)

    /** True iff the listing holds `name`, segment or not. */
    def contains(name: String): Boolean = entries.contains(name)

    /** Paths of the segments whose id passes `keep`. */
    def paths(keep: Long => Boolean = _ => true): Seq[String] =
      segments.collect { case (i, n) if keep(i) => new Path(dir, n).toString }

    /** The segments whose id passes `keep`, as one frame (a `batch=<id>`
      * store keeps `batch` as a partition column).
      */
    def read(keep: Long => Boolean = _ => true): DataFrame = {
      val ps = paths(keep)
      require(ps.nonEmpty, s"no segment under $dir")
      spark.read.option("basePath", dir.toString).parquet(ps: _*)
    }

    /** Replaces every segment listed at open with the one segment `name`
      * that `write` stages: a compaction (`name` has id -1) or a rebuild.
      */
    def replaceAll(name: String)(write: String => Unit): Unit = {
      val compact = new Path(dir, Compact)
      val (stage, asides) = (new Path(compact, name), new Path(compact, Asides))
      write(stage.toString)
      fs.create(new Path(stage, "_SUCCESS")).close()
      if (segments.nonEmpty) fs.mkdirs(asides)
      segments.foreach { case (_, n) => move(fs, new Path(dir, n), new Path(asides, n)) }
      move(fs, stage, new Path(dir, name))
      fs.delete(compact, true)
    }
  }
}
