package graft.engine

import java.nio.file.{Files, Path, StandardCopyOption}

/** Whole-file publish by rename: the content lands in a hidden
  * sibling (`.<name>.tmp`, invisible to parquet readers and to the
  * name-prefix scans of the checkpoint and index directories) and is
  * moved over `path` atomically, so a reader observes the old file or
  * the complete new one, never a torn write. Sidecars that certify
  * other output (chunk lineage, index params, replay markers) are
  * published this way LAST. */
object AtomicFile {
  def write(path: Path, content: String): Unit = {
    val dir = path.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".${path.getFileName}.tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}
