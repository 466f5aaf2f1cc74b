package graft.lake

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}

/** Local-filesystem shim for local / benchmark / test runs.
  *
  * Without a native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` subprocess for EVERY file and directory a writer task
  * creates; with dozens of concurrent parquet writer tasks the process
  * forks serialize the whole write stage (observed: 20/33 executor threads
  * parked in `Shell.execCommand` during the merge benchmark — parallel
  * scaling capped at ~1.1× from 8→32 cores). Permissions are meaningless
  * for a single-user local lake, so they are no-ops here; extending the
  * RAW filesystem also skips client-side `.crc` checksum twins (parquet
  * carries its own page checksums).
  *
  * Wire up with:
  * {{{
  *   .config("spark.hadoop.fs.file.impl", classOf[FastLocalFs].getName)
  * }}}
  * On a real cluster the lake lives on HDFS/S3/ABFS and this class is
  * simply not configured.
  */
class FastLocalFs extends RawLocalFileSystem {
  override def setPermission(p: HPath, permission: FsPermission): Unit = ()
}

object FastLocalFs {
  /** Spark conf entries enabling the shim. Also raises the parallel
    * file-listing threshold: a merge-on-read snapshot passes its delta
    * tier as explicit leaf files, and above 32 paths Spark launches a
    * distributed LISTING job (observed: 256 near-empty tasks, ~2s of pure
    * scheduling per lake read at local[1]). Local listing is a stat()
    * each; 4096 keeps listing on the driver until file counts where a
    * distributed listing genuinely pays (object stores at many thousands
    * of paths — on such a deployment this shim is not configured).
    *
    * The code-generation cache is raised from Spark's default of 100
    * classes to 4096: at 100 a pipeline epoch evicted and recompiled 60–85
    * generated classes and a pass of ten suite queries 61, so the engine's
    * steady work mostly fed Janino and the JIT fresh classes. It is a
    * static conf, read when the session is built. */
  val sparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[FastLocalFs].getName,
    "spark.hadoop.fs.file.impl.disable.cache" -> "false",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "4096",
    "spark.sql.codegen.cache.maxEntries" -> "4096"
  ) ++ localScratch.map("spark.local.dir" -> _)

  /** RAM-backed shuffle/spill scratch for local runs, same policy as the
    * bench launcher: GRAFT_TMPDIR if set, else /dev/shm when present.
    * Local-mode shuffles are dominated by tiny-file create/close on the
    * one virtio disk (profiled: half the busy executor samples of the
    * pipeline probes inside DiskBlockObjectWriter on /tmp); a real
    * cluster points spark.local.dir at its fast local disks the same way
    * — and does not configure this shim at all. */
  private def localScratch: Option[String] =
    sys.env.get("GRAFT_TMPDIR").orElse {
      if (java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get("/dev/shm")))
        Some("/dev/shm/graft-local")
      else None
    }.map { dir =>
      // Spark expects the configured root to exist
      try java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      catch { case _: java.io.IOException => () }
      dir
    }
}
