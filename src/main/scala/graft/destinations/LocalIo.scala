package graft.destinations

import org.apache.hadoop.fs.{FileSystem, Path}

/** Small-file driver-side writes (commit JSON, manifests, checksums,
  * metadata jsons, version hints): on `file://` every Hadoop
  * `FileSystem.create` costs a PROCESS FORK — without native libhadoop,
  * applying the default file permission execs `chmod` once per created
  * file (`ProcessImpl.forkAndExec` under `writeCrcFile`/`publishCommit`/
  * `writeMetadata` in the r19 driver profile; the r18 round removed the
  * same fork from the staging LISTING path, guide §7.3 shape). Local
  * paths write through NIO instead: same bytes, same overwrite/exclusive
  * semantics (`FileAlreadyExistsException` is an `IOException`, like
  * Hadoop's), parent directories still created. Any non-local scheme
  * keeps the Hadoop stream — object stores never forked and carry their
  * own commit semantics.
  */
private[graft] object LocalIo {
  /** Opens a parquet file's reader with its read options taken from
    * `conf`. `ParquetFileReader.open(InputFile)` builds them from a fresh
    * `Configuration`, which parses the Hadoop default resources again on
    * its first lookup: 1.3-1.6 ms a call, against 0.04-0.08 ms to copy a
    * loaded conf (Hadoop 3.4, parquet 1.16).
    */
  def openParquet(path: Path, conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())

  def create(fs: FileSystem, path: Path, overwrite: Boolean): java.io.OutputStream =
    if (fs.getUri.getScheme == "file") {
      import java.nio.file.{Files, Paths, StandardOpenOption => O}
      val p = Paths.get(fs.makeQualified(path).toUri.getPath)
      val parent = p.getParent
      if (parent != null) Files.createDirectories(parent)
      if (overwrite) Files.newOutputStream(p, O.CREATE, O.TRUNCATE_EXISTING, O.WRITE)
      else Files.newOutputStream(p, O.CREATE_NEW, O.WRITE)
    } else fs.create(path, overwrite)

  /** Deletes `root` and everything under it. An entry another thread
    * removes mid-walk (or a `root` that is already gone) is skipped instead
    * of aborting the delete; any other I/O failure is thrown. */
  def deleteTree(root: java.nio.file.Path): Unit = {
    import java.nio.file.{FileVisitResult, Files, NoSuchFileException, SimpleFileVisitor}
    import java.nio.file.{Path => NioPath}
    import java.nio.file.attribute.BasicFileAttributes
    Files.walkFileTree(root, new SimpleFileVisitor[NioPath] {
      override def visitFile(f: NioPath, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f)
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: NioPath, e: java.io.IOException): FileVisitResult =
        if (e.isInstanceOf[NoSuchFileException]) FileVisitResult.CONTINUE else throw e
      override def postVisitDirectory(d: NioPath, e: java.io.IOException): FileVisitResult = {
        if (e != null && !e.isInstanceOf[NoSuchFileException]) throw e
        Files.deleteIfExists(d)
        FileVisitResult.CONTINUE
      }
    }): Unit
  }

  /** Atomic create-exclusive publication of `bytes` at `target` — the
    * commit primitive of both table formats (a Delta `_delta_log` commit
    * file, an Iceberg `v<N>.metadata.json`): the bytes go to a temp file
    * beside the target, then hard-link creation claims the target on
    * local filesystems (true O_EXCL), exists+rename with full byte
    * read-back elsewhere, so a lost race on object stores is detected,
    * never a silently dropped commit. Returns false when another writer
    * already holds `target`; the temp file is removed either way.
    */
  def publishExclusive(fs: FileSystem, target: Path, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(target.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    val out = create(fs, tmp, false)
    try out.write(bytes) finally out.close()
    val won =
      if (fs.getUri.getScheme == "file") {
        val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
        val targetNio = java.nio.file.Paths.get(target.toUri.getPath)
        try { java.nio.file.Files.createLink(targetNio, tmpNio); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        val renamed = !fs.exists(target) && fs.rename(tmp, target)
        renamed && {
          val observed =
            try {
              val in = fs.open(target)
              try java.util.Arrays.equals(in.readAllBytes(), bytes)
              finally in.close()
            } catch { case _: Exception => false }
          observed
        }
      }
    fs.delete(tmp, false)
    won
  }
}
