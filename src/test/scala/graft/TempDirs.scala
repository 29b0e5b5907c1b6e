package graft

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories for a spec: `tempDir` creates one under
  * java.io.tmpdir, and every directory created through it is removed
  * in `afterAll`, so a spec run leaves no tree behind. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[String]

  protected def tempDir(prefix: String): String = synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs += d
    d
  }

  override def afterAll(): Unit = {
    try tempDirs.foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    finally super.afterAll()
  }
}
