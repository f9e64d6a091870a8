package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

import java.io.BufferedOutputStream
import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption}

/** Spark's `FileSystemBasedCheckpointFileManager` with its `file:` writes
  * done through `java.nio`.
  *
  * Without libhadoop, Hadoop's local file system runs `chmod` and
  * `readlink` as child processes: every write-ahead-log file Spark's
  * default `FileContextBasedCheckpointFileManager` publishes forks five
  * of them, and a micro-batch writes two such files (an offset and a
  * commit). Here a `file:` path's temp file and directories are made by
  * `java.nio`, with no `.crc` sibling, and the file is published by a
  * hard link (or, where the file system has none, a move) under the
  * `overwriteIfPossible = false` contract: an existing batch file raises
  * Hadoop's `FileAlreadyExistsException`, which the metadata log reads as
  * "this batch is already written". Reads, listings, deletes and every
  * other scheme stay Spark's.
  *
  * [[Playback]] installs it through Spark's
  * `spark.sql.streaming.checkpointFileManagerClass` for its own queries.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private val nio = fs.getScheme == "file"

  private def file(p: Path): java.nio.file.Path = Paths.get(fs.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!nio) super.createTempFile(p)
    else {
      val f = file(p)
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
    }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (!nio) super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      val (from, to) = (file(src), file(dst))
      if (overwriteIfPossible) {
        // the new bytes carry no checksum: a `.crc` left by a Hadoop
        // writer would fail the next read
        Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
        Files.move(from, to, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      } else {
        def exists() = {
          Files.deleteIfExists(from)
          new FileAlreadyExistsException(
            s"Failed to rename $src to $dst as destination already exists")
        }
        try Files.createLink(to, from)
        catch {
          case _: java.nio.file.FileAlreadyExistsException => throw exists()
          case _: UnsupportedOperationException | _: FileSystemException =>
            if (Files.exists(to)) throw exists()
            Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
        }
        Files.deleteIfExists(from)
      }
    }

  override def mkdirs(p: Path): Unit =
    if (nio) Files.createDirectories(file(p)) else super.mkdirs(p)

  override def createCheckpointDirectory(): Path =
    if (!nio) super.createCheckpointDirectory()
    else {
      val qualified = fs.makeQualified(path)
      Files.createDirectories(file(qualified))
      qualified
    }
}
