package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** Temp directories and files for a spec, deleted with their contents
  * when the test that made them ends, so a run of the suite leaves
  * nothing behind in the system temp dir. */
trait TempDirs extends TestSuiteMixin { this: TestSuite =>
  private val made = new ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = keep(Files.createTempDirectory(prefix))
  def tempFile(prefix: String, suffix: String): Path =
    keep(Files.createTempFile(prefix, suffix))

  private def keep(p: Path): Path = { made.add(p); p }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally Iterator.continually(made.poll()).takeWhile(_ != null)
      .foreach(p => FileUtils.deleteQuietly(p.toFile))
}
