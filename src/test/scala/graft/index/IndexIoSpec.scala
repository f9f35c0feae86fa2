package graft.index

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.config.EngineConfig

/** The write path's crash and resume protocols ([[IndexIo]]) at every
  * crash point, on the filesystem alone — no Spark. */
class IndexIoSpec extends AnyFunSuite {

  private def withDir(f: Path => Unit): Unit = {
    val d = Files.createTempDirectory("graft_indexio_")
    try f(d) finally IndexIo.rmTree(d)
  }

  /** A directory holding one file `part` with `content`. */
  private def table(dir: Path, content: String): Path = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("part"), content)
    dir
  }

  private def content(dir: Path): String = Files.readString(dir.resolve("part"))

  private def swapIn(d: Path) = IndexIo.Swap(d.resolve("live"), d.resolve("tmp"), d.resolve("trash"))

  test("swap: a clean commit replaces live and leaves no tmp or trash") {
    withDir { d =>
      val s = swapIn(d)
      table(s.live, "old")
      s.recover()
      table(s.tmp, "new")
      s.commit()
      assert(content(s.live) === "new")
      assert(!Files.exists(s.tmp) && !Files.exists(s.trash))
    }
  }

  test("swap recovery: trash without live (died between the moves) restores the old dir") {
    withDir { d =>
      val s = swapIn(d)
      table(s.trash, "old")
      table(s.tmp, "new")
      s.recover()
      assert(content(s.live) === "old")
      assert(!Files.exists(s.trash) && !Files.exists(s.tmp))
    }
  }

  test("swap recovery: trash beside live (died before the trash delete) drops the trash") {
    withDir { d =>
      val s = swapIn(d)
      table(s.live, "new")
      table(s.trash, "old")
      s.recover()
      assert(content(s.live) === "new")
      assert(!Files.exists(s.trash))
    }
  }

  test("swap recovery: a leftover tmp (died while writing it) is discarded, live untouched") {
    withDir { d =>
      val s = swapIn(d)
      table(s.live, "old")
      table(s.tmp, "partial")
      Files.createDirectories(s.tmp.resolve("_temporary"))
      s.recover()
      assert(content(s.live) === "old")
      assert(!Files.exists(s.tmp))
      // recovery of a clean state is a no-op
      s.recover()
      assert(content(s.live) === "old")
    }
  }

  test("atomic commit: a torn .tmp never reads as a committed ingest marker or manifest") {
    withDir { d =>
      val dir = d.toString
      val cfg = EngineConfig.default
      Files.createDirectories(d.resolve("qsplits"))
      val header = s"v${SegmentBuilder.LayoutVersion} pos=${cfg.storePositions} shards=${cfg.shards}\n"
      // died after writing the .tmp, before the move
      Files.writeString(d.resolve("_ingested.tmp"), header + "lineage")
      assert(!SegmentBuilder.ingestDone(dir, cfg))
      IndexIo.commitFile(d.resolve("_ingested"), header + "lineage")
      assert(SegmentBuilder.ingestDone(dir, cfg))
      assert(!Files.exists(d.resolve("_ingested.tmp")))

      val m = ShardManifest(0, "done", 1L, 1L, 1L, 0.5, "abc123")
      Files.createDirectories(d.resolve("manifest"))
      Files.writeString(d.resolve("manifest").resolve("shard_0.json.tmp"),
        """{"shard":0,"status":"done","lineage":"abc123"}""")
      assert(!SegmentBuilder.manifestDone(dir, 0, "abc123"))
      SegmentBuilder.writeManifest(dir, m)
      assert(SegmentBuilder.manifestDone(dir, 0, "abc123"))
      assert(!SegmentBuilder.manifestDone(dir, 0, "other"))
      // a later commit over the same file replaces it whole
      IndexIo.commitFile(d.resolve("_ingested"), "v0 stale")
      assert(!SegmentBuilder.ingestDone(dir, cfg))
    }
  }

  test("shard loop: every unit runs once, serially or concurrently; cancel stops new units") {
    for (concurrency <- Seq(1, 3)) {
      val ran = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val got = IndexIo.forShards(0 until 6, concurrency, () => false) { sh =>
        ran.add(sh); if (sh % 2 == 0) Some(sh * 10) else None
      }
      assert(got.sorted === Seq(0, 20, 40), s"concurrency $concurrency")
      assert(ran.size === 6)
    }
    // the probe is read before each unit: after the flag rises no unit starts
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val got = IndexIo.forShards(0 until 6, 1, () => started.get >= 2) { sh =>
      started.incrementAndGet(); Some(sh)
    }
    assert(got === Seq(0, 1))
  }

  test("lineage inputs: parquet name:length listing, sorted; SHA-256 hex") {
    withDir { d =>
      Files.writeString(d.resolve("b.parquet"), "xyz")
      Files.writeString(d.resolve("a.parquet"), "12345")
      Files.writeString(d.resolve("_SUCCESS"), "")
      assert(IndexIo.listing(IndexIo.parquetFiles(d.toFile)) === "a.parquet:5,b.parquet:3")
      assert(IndexIo.parquetFiles(d.resolve("missing").toFile).isEmpty)
      assert(IndexIo.sha256Hex("abc") ===
        "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    }
  }
}
