package graft.core

import java.nio.file.{FileAlreadyExistsException, Files, LinkOption, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local filesystem without the per-file `chmod` fork.
  *
  * Hadoop's `RawLocalFileSystem` enforces requested permissions by shelling
  * out (`Shell.execCommand("chmod", ...)`) whenever the native hadoop
  * library is absent — which it is in this sandbox. That fork+exec of a
  * multi-GB JVM runs on EVERY file create and mkdirs: every staged parquet
  * part, every `.crc` sidecar, every Iceberg manifest/metadata write, every
  * streaming-checkpoint file. Stack-sampling the e44 upsert lane showed
  * ~20 % of the stream-thread's runnable time inside `forkAndExec`.
  *
  * Permissions carry no meaning in a single-user scratch sandbox, so this
  * subclass makes `setPermission` a no-op (files keep the umask the OS
  * `open(2)` gave them) while keeping everything else — including the
  * checksumming `LocalFileSystem` wrapper — identical. Installed via
  * `spark.hadoop.fs.file.impl` by the local harness sessions only
  * ([[GraftSession.local]], Bench, Verify); a real cluster runs HDFS/S3A
  * (or a native-enabled local FS) and never loads this class.
  */
class BareRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}

class BareLocalFileSystem extends LocalFileSystem(new BareRawLocalFileSystem)

object BareLocalFs {
  /** Session confs that remove local-FS fork+exec overhead: the no-chmod
    * local filesystem, and the FileSystem-based checkpoint manager (the
    * default FileContext-based manager resolves symlinks through a
    * `readlink` SHELL CALL on every checkpoint-file rename when the native
    * library is missing — two forks per micro-batch per metadata log).
    * Rename-based atomicity is preserved: the FileSystem manager commits
    * checkpoint files through the same write-temp-then-rename protocol,
    * and local-FS `rename(2)` is atomic. */
  val sparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[BareLocalFileSystem].getName,
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager")) ++
    scratchDir.map("spark.local.dir" -> _)

  /** Fastest available scratch for shuffle/spill files (`spark.local.dir`
    * — the Spark tuning guide's own advice: "on a fast, local disk in
    * your system"). Every tiny local shuffle pays per-file open/close on
    * the scratch FS — the bypass writer stages maps × reducers block
    * files — and on an ext4 root that tax measured ~9 ms per
    * (map task, reducer): a 32×32 SQL shuffle of 256 K rows spent 12.1 s
    * of task time on it (3.5 s on tmpfs). Order: explicit override
    * (`SPARK_GRAFT_LOCAL_DIR`), else this user's own directory on a
    * RAM-backed `/dev/shm` ([[ownedScratch]]; single-machine scratch only
    * — an estate keeps shuffle on its NVMe array: capacity, not latency,
    * bounds it there), else None (Spark's default `java.io.tmpdir`).
    * Honors an operator's `SPARK_LOCAL_DIRS` by deferring: Spark reads
    * that env var ahead of `spark.local.dir`, so setting the conf never
    * overrides it. */
  private def scratchDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").filter(_.nonEmpty)
      .orElse(currentUid.flatMap(ownedScratch(Paths.get("/dev/shm"), _)))

  /** The process's numeric user id; None off Unix. */
  private[graft] def currentUid: Option[Long] =
    try Some(new com.sun.security.auth.module.UnixSystem().getUid)
    catch { case _: LinkageError | _: UnsupportedOperationException => None }

  /** `<shm>/graft-scratch-<uid>`, created owner-only when absent, and
    * used only when `uid` owns it: on a shared host a same-named entry
    * another user planted (a directory or a symlink) is never written
    * into. None when `shm` is not a writable directory. */
  private[graft] def ownedScratch(shm: java.nio.file.Path,
      uid: Long): Option[String] =
    if (!Files.isDirectory(shm) || !Files.isWritable(shm)) None
    else {
      val dir = shm.resolve(s"graft-scratch-$uid")
      try {
        try Files.createDirectory(dir, PosixFilePermissions.asFileAttribute(
          PosixFilePermissions.fromString("rwx------")))
        catch { case _: FileAlreadyExistsException => () }
        val owner = Files.getAttribute(dir, "unix:uid", LinkOption.NOFOLLOW_LINKS)
          .asInstanceOf[Integer].longValue
        if (Files.isDirectory(dir, LinkOption.NOFOLLOW_LINKS) && owner == uid)
          Some(dir.toString)
        else None
      } catch {
        case _: java.io.IOException | _: UnsupportedOperationException => None
      }
    }
}
