package graft.io

import java.nio.file.{Files, LinkOption, Path}

/** Per-JVM temp dirs and the engine's one recursive delete. */
object LocalDirs {

  /** A new temp dir named `prefix` plus a random suffix, deleted with
    * everything under it when the JVM exits. */
  def temp(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(dir)))
    dir
  }

  /** Deletes `p` and everything under it; symbolic links are not followed. */
  def delete(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val kids = Files.list(p)
      try kids.forEach(k => delete(k)) finally kids.close()
    }
    Files.deleteIfExists(p): Unit
  }
}
