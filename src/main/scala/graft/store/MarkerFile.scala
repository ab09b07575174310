package graft.store

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

/** A small single-writer state file on the local file system (the
  * streaming match state, the resumable stage markers). A write goes to
  * a tmp file beside the target and is moved over it atomically, so a
  * reader sees the old text or the new text, never a torn write.
  */
object MarkerFile {

  /** The file's text, or None when it does not exist. */
  def read(f: File): Option[String] =
    if (!f.exists()) None
    else Some(new String(Files.readAllBytes(f.toPath), UTF_8))

  /** Replace the file's text atomically (tmp + ATOMIC_MOVE). */
  def write(f: File, text: String): Unit = {
    f.getParentFile.mkdirs()
    val tmp = new File(f.getParentFile, s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp.toPath, text.getBytes(UTF_8))
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING): Unit
  }
}
