package graft

import java.nio.file.{Files, Path}

/** Spec scratch dirs that do not pile up: a fresh `java.io.tmpdir` dir
  * named `<prefix><random>`, deleted with everything under it when the
  * test JVM exits. */
object TempDir {
  def apply(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile))
    dir
  }
}
