package graft.spark

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The commit protocol every persisted store shares — ONE copy of each
  * decision, so a store keeps only its payload code:
  *
  *   - numbered manifests: `<prefix>-<K>.tsv` files in the store root, the
  *     highest K being the committed state; a manifest lands as a tmp file
  *     in the same directory and flips by atomic rename, so a reader never
  *     sees a torn one ([[SnapshotStore]]'s `snapshot-`, `ops.ShardStore`'s
  *     `manifest-`, and the [[IncrementLog]] stores' `manifest-`);
  *   - directories publish the same way: written under `<name>.tmp`, then
  *     renamed into place after a crashed attempt's leftovers are cleared;
  *   - the inc/del increment log of the search stores ([[IncrementLog]]);
  *   - the `params.tsv` pin ([[pin]]): parameters that make a store's
  *     increments mutually comparable, written once, checked on reuse.
  *
  * All of it is driver-side, manifest-scale file I/O. */
object ManifestLog {

  private def readText(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Write `body` to `target` atomically: a tmp file in the same directory,
    * then one rename. */
  private def writeAtomically(target: Path, body: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The path of manifest `id` under `prefix`. */
  def numberedFile(root: String, prefix: String, id: Long): Path =
    Paths.get(root, s"$prefix-$id.tsv")

  /** Every `<prefix>-<K>.tsv` in `root` (tmp files excluded), by K ascending. */
  def numbered(root: String, prefix: String): Vector[(Long, Path)] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return Vector.empty
    val re = (java.util.regex.Pattern.quote(prefix) + "-(\\d+)\\.tsv").r
    Files.list(dir).iterator().asScala.toVector
      .flatMap(p => p.getFileName.toString match {
        case re(k) => Some(k.toLong -> p)
        case _ => None
      }).sortBy(_._1)
  }

  /** The committed (highest-numbered) manifest under `prefix`. */
  def latest(root: String, prefix: String): Option[(Long, Path)] =
    numbered(root, prefix).lastOption

  /** Commit manifest `id` under `prefix` (the store root is created). */
  def writeNumbered(root: String, prefix: String, id: Long, body: String): Unit = {
    Files.createDirectories(Paths.get(root))
    writeAtomically(numberedFile(root, prefix, id), body)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toVector.reverseIterator
        .foreach(Files.deleteIfExists(_))

  /** Publish a directory: `write` fills `<target>.tmp`, which then renames
    * to `target` in one atomic step. Leftovers at either name (an
    * uncommitted earlier attempt) are cleared first, so a retry
    * overwrites instead of mixing in stale files. */
  def publishDir(target: Path)(write: Path => Unit): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    deleteRecursively(target)
    deleteRecursively(tmp)
    write(tmp)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** A `key\tvalue` params file, or None when it does not exist. */
  def readParams(file: Path): Option[Map[String, String]] =
    if (!Files.isRegularFile(file)) None
    else Some(readText(file).linesIterator.flatMap(_.split('\t') match {
      case Array(k, v) => Some(k -> v)
      case _ => None
    }).toMap)

  /** The params pin: write `params` as `key\tvalue` lines when `file` does
    * not exist yet; otherwise every key the file holds must carry the same
    * value (a key it lacks passes, so a store pinned before that key
    * existed stays usable). A mismatch fails fast — `what` names the
    * store, `why` says what reuse would break. */
  def pin(file: Path, params: Seq[(String, String)], what: String, why: String): Unit =
    readParams(file) match {
      case None =>
        Files.createDirectories(file.getParent)
        writeAtomically(file, params.map { case (k, v) => s"$k\t$v\n" }.mkString)
      case Some(stored) =>
        val diffs = params.collect {
          case (k, v) if stored.getOrElse(k, v) != v => s"$k: stored=${stored(k)} now=$v"
        }
        require(diffs.isEmpty,
          s"$what at ${file.getParent} does not match its pinned ${file.getFileName} " +
            s"(${diffs.mkString("; ")}); refusing — $why")
    }

  /** Increment-log state: the manifest's counter id, the committed data
    * increments (`inc-<K>`) and tombstone increments (`del-<K>`). */
  final case class State(id: Long, incs: Vector[Long], dels: Vector[Long])

  object State {
    val Empty: State = State(0L, Vector.empty, Vector.empty)

    /** Parse manifest `id`'s text; a manifest without `del` lines (written
      * before deletes existed) has no tombstones. */
    def parse(id: Long, text: String): State = {
      val lines = text.linesIterator.toVector
      def ids(tag: String) = lines.collect {
        case l if l.startsWith(tag + "\t") => l.stripPrefix(tag + "\t").toLong
      }
      State(id, ids("inc"), ids("del"))
    }

    /** The manifest text: sorted `inc` lines, then sorted `del` lines. */
    def render(s: State): String =
      (s.incs.sorted.map(k => s"inc\t$k") ++ s.dels.sorted.map(k => s"del\t$k"))
        .mkString("", "\n", "\n")
  }

  /** The inc/del increment log of one search store (`ops.IndexStore`,
    * `ops.NearDupStore`, `ops.VectorStore`). Layout under `root/`:
    *
    *   inc-<K>/<sub>/   parquet  one committed data increment
    *   del-<K>/ids/     parquet  (key) tombstones
    *   manifest-<K>.tsv          the committed inc/del increments
    *
    * Every commit publishes its directory, then flips `manifest-<K+1>.tsv`
    * — readers see the old view or the new one, never a mix. A crash
    * before the flip leaves the data unlisted; the retry derives the SAME
    * id from the unchanged manifest and overwrites it, so increments are
    * exactly-once from a reader's view. `store` names the store in
    * errors; `key` is the id column tombstones anti-join on. */
  final class IncrementLog(store: String, key: String) {

    /** The committed state — resolve it ONCE per public read and build
      * every frame of that read from it, so a concurrent commit cannot
      * mix two manifests into one answer. */
    def state(root: String): State =
      latest(root, "manifest").fold(State.Empty) { case (id, p) => State.parse(id, readText(p)) }

    private def commit(root: String, s: State): Unit =
      writeNumbered(root, "manifest", s.id, State.render(s))

    /** Commit one data increment written by `write` into its directory.
      * Returns the increment id. */
    def append(root: String)(write: Path => Unit): Long = {
      val s = state(root)
      val inc = s.id + 1
      publishDir(Paths.get(root, s"inc-$inc"))(write)
      commit(root, State(inc, s.incs :+ inc, s.dels))
      inc
    }

    /** Commit a tombstone increment: the distinct `idCol` values of `ids`,
      * as `key`, vanish from every [[read]] until [[compact]] drops their
      * rows physically. Returns the tombstone id. */
    def delete(root: String, ids: DataFrame, idCol: String): Long = {
      val s = state(root)
      require(s.incs.nonEmpty, s"$store at $root has no committed increments")
      val del = s.id + 1
      publishDir(Paths.get(root, s"del-$del")) { tmp =>
        ids.select(col(idCol).cast("long").as(key)).distinct()
          .write.parquet(tmp.resolve("ids").toString)
      }
      commit(root, State(del, s.incs, s.dels :+ del))
      del
    }

    /** Rewrite the committed view as ONE new increment: `write` gets the
      * state it must read from (its [[read]]s exclude the tombstoned keys,
      * so compaction is the physical removal point for deletes) and the
      * directory to fill. The manifest then lists only the new increment,
      * and the old increment and tombstone directories are deleted after
      * the flip (an unlisted directory is dead weight, not corruption).
      * Returns the new increment id. */
    def compact(root: String)(write: (State, Path) => Unit): Long = {
      val s = state(root)
      require(s.incs.nonEmpty, s"$store at $root has nothing to compact")
      val inc = s.id + 1
      publishDir(Paths.get(root, s"inc-$inc"))(write(s, _))
      commit(root, State(inc, Vector(inc), Vector.empty))
      (s.incs.map(k => s"inc-$k") ++ s.dels.map(k => s"del-$k"))
        .foreach(d => deleteRecursively(Paths.get(root, d)))
      inc
    }

    /** The union of `sub` over the increments `s` lists, anti-joined on
      * `key` against its tombstones. With no tombstones it is the plain
      * union, so a store that never deleted keeps its no-delete plan. */
    def read(spark: SparkSession, root: String, s: State, sub: String): DataFrame = {
      require(s.incs.nonEmpty, s"$store at $root has no committed increments")
      val union = s.incs.map(k => spark.read.parquet(s"$root/inc-$k/$sub"))
        .reduce(_.unionByName(_))
      if (s.dels.isEmpty) union
      else union.join(s.dels.map(k => spark.read.parquet(s"$root/del-$k/ids"))
        .reduce(_.unionByName(_)), Seq(key), "left_anti")
    }
  }
}
