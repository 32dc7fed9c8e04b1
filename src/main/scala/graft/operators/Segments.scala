package graft.operators

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}

/** Strict `b<number>` segment-name parsing, shared by every persisted
  * segment store (text index gram-df, SRP, IVF-PQ, manifest, reservoir
  * snapshots) and by the harness code that lists them.
  *
  * One definition on purpose: the stores' crash mode is a stray
  * non-numeric `b*` entry under a store dir (a `backup/` folder, an
  * interrupted-rename leftover) either killing every subsequent read with
  * a NumberFormatException or — worse — being silently swallowed into a
  * segment merge and destroyed. The strict match existed in
  * [[Dedup.compactSegmentDirs]] and [[Manifest]] but was re-implemented
  * loosely (`startsWith("b") + drop(1).toLong`) at the streaming and
  * harness listing sites; round-11 ADVICE flagged the drift.
  */
object Segments {

  /** Segment name → batch id; None for anything that is not a strict
    * `b<number>` name.
    */
  def id(name: String): Option[Long] =
    if (name.matches("b-?\\d+")) Some(name.stripPrefix("b").toLong)
    else None

  /** True iff `name` is a well-formed segment directory name. */
  def isSegment(name: String): Boolean = id(name).isDefined

  /** The swap that ends every segment compaction: delete the snapshotted
    * `segs`, move the staged merge `$stage/$name` to `$dir/$name`, then drop
    * `stage`. Once the segments are gone the staged merge holds the only
    * copy of their rows, so a rename that fails (`FileSystem.rename` says so
    * by returning false) throws, naming both paths, and leaves `stage` in
    * place for a manual move.
    */
  def swapIn(fs: FileSystem, segs: Array[Path], stage: String, name: String,
      dir: String): Unit = {
    segs.foreach(p => fs.delete(p, true))
    val (from, to) = (new Path(s"$stage/$name"), new Path(s"$dir/$name"))
    if (!fs.rename(from, to)) throw new IOException(
      s"compaction could not rename $from to $to; the merged segment stays at $from")
    fs.delete(new Path(stage), true)
  }
}
