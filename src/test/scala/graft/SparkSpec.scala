package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM via Test/fork): the
  * shipped `Graft.session`, so the suite tests the config users run. */
object TestSession {
  lazy val spark: SparkSession = graft.core.Graft.session("graft-test")
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark

  private var tempRoot: Option[Path] = None

  /** A fresh temp directory under this suite's one temp root, which is
    * created on first use and deleted after the suite's last test. */
  protected def tempDir(prefix: String): Path = synchronized {
    val root = tempRoot.getOrElse {
      val r = Files.createTempDirectory(getClass.getSimpleName + "_")
      tempRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, prefix)
  }

  override protected def afterAll(): Unit =
    try tempRoot.foreach { root =>
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    } finally super.afterAll()
}
