package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Harness.session(Harness.conf(4))
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

/** Temp directories and files made under `java.io.tmpdir`, each fresh
  * (so a test starts clean), all deleted by `deleteAll`. */
final class TempDirs {
  private val made = new ConcurrentLinkedQueue[Path]()
  private def keep(p: Path): String = { made.add(p); p.toString }
  def dir(prefix: String): String = keep(Files.createTempDirectory(prefix))
  def file(prefix: String, suffix: String): String =
    keep(Files.createTempFile(prefix, suffix))
  def deleteAll(): Unit =
    Iterator.continually(made.poll()).takeWhile(_ != null)
      .foreach(p => graft.sinks.VersionedState.deleteRecursively(p.toFile))
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir: String = TestSession.sfDir

  private val temps = new TempDirs
  /** A fresh temp directory, deleted after the suite. */
  protected def tempDir(prefix: String): String = temps.dir(prefix)
  /** A fresh temp file, deleted after the suite. */
  protected def tempFile(prefix: String, suffix: String): String =
    temps.file(prefix, suffix)

  override protected def afterAll(): Unit =
    try temps.deleteAll() finally super.afterAll()
}
