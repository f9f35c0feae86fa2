package graft.index

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest

/** The write path's crash and resume protocols, each defined once: the
  * atomic file commit, the crash-safe directory swap, the concurrent
  * shard loop, and the parquet listing + SHA-256 lineage digest.
  * [[SegmentBuilder]] (ingest marker, shard manifests, compaction,
  * restat, build and compact loops) and [[graft.ops.AnnIndex]] (build
  * marker, artifact lineage) both call them. Nothing here touches
  * Spark, so IndexIoSpec tests every crash point on the filesystem. */
object IndexIo {

  /** Atomic file commit: `content` lands in a `.tmp` sibling, then one
    * atomic move replaces `path`. A crash leaves either the old file or
    * the new one, never a torn one; a leftover `.tmp` is never read, and
    * the next commit overwrites it. */
  def commitFile(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Removes a directory tree (or a file); a missing path is a no-op. */
  def rmTree(p: Path): Unit = {
    new scala.reflect.io.Directory(p.toFile).deleteRecursively(); ()
  }

  /** Crash-safe replacement of the directory `live` by `tmp`, for a
    * single writer. The new content lands COMPLETELY in `tmp` first;
    * then [[commit]] moves live to `trash`, moves tmp to live and drops
    * the trash. [[recover]], run on entry before anything is written,
    * repairs every crash point of a previous run:
    *  - trash without live (died between the two moves): the trash is
    *    the old live dir and is restored;
    *  - trash beside live (died before the trash delete): live already
    *    holds the new content, the trash is dropped;
    *  - a leftover tmp (died before the first move): it may be partial,
    *    so it is discarded and the caller recomputes it. */
  final case class Swap(live: Path, tmp: Path, trash: Path) {
    def recover(): Unit = {
      if (Files.exists(trash) && !Files.exists(live)) Files.move(trash, live)
      else if (Files.exists(trash)) rmTree(trash)
      if (Files.exists(tmp)) rmTree(tmp)
    }

    def commit(): Unit = {
      Files.move(live, trash)
      Files.move(tmp, live)
      rmTree(trash)
    }
  }

  /** Runs `unit` for each shard, up to `concurrency` at a time (Spark
    * schedules the concurrent jobs FIFO across the same executors), and
    * returns the results of the units that produced one. Orderly
    * cancellation: once `cancel()` returns true no NEW unit starts;
    * finished units stay committed, so a re-run resumes with exactly the
    * unfinished shards (the reference's CancellationToken, checked per
    * batch). */
  def forShards[A](shards: Seq[Int], concurrency: Int, cancel: () => Boolean)
                  (unit: Int => Option[A]): Seq[A] = {
    def one(sh: Int): Option[A] = if (cancel()) None else unit(sh)
    if (concurrency <= 1 || shards.size <= 1) shards.flatMap(one)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(concurrency, shards.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(shards.map(sh => Future(one(sh)))), Duration.Inf)
        .flatten
      finally pool.shutdown()
    }
  }

  /** The parquet files directly under `dir` (none if it is missing). */
  def parquetFiles(dir: File): Array[File] =
    Option(dir.listFiles()).map(_.filter(_.getName.endsWith(".parquet")))
      .getOrElse(Array.empty[File])

  /** `name:length` per file, sorted, comma-joined: filesystem metadata
    * only, no data scan. Lineage strings and the compaction clean marker
    * hash or store exactly this form. */
  def listing(files: Array[File]): String =
    files.map(f => s"${f.getName}:${f.length}").sorted.mkString(",")

  /** Lowercase hex SHA-256 of the UTF-8 bytes of `s`. */
  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
