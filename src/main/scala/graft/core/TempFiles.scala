package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Scratch files and directories that live until JVM exit. Frames read
  * their files lazily, so no point before exit is safe to delete them;
  * one shutdown hook removes every registered path, recursively.
  */
object TempFiles {
  private val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    roots.forEach(root =>
      try {
        if (Files.exists(root))
          Files.walk(root).sorted(Comparator.reverseOrder())
            .forEach(p => { Files.deleteIfExists(p); () })
      } catch { case _: Throwable => () })))

  /** Registers `p` (a file or a directory tree) for deletion at JVM exit. */
  def deleteAtExit(p: Path): Path = { hook; roots.add(p); p }

  /** `name` in `java.io.tmpdir`, deleted at JVM exit. */
  def inTmpdir(name: String): Path =
    deleteAtExit(Paths.get(System.getProperty("java.io.tmpdir"), name))
}
