package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one fixture per forked test
  * JVM; small shuffle parallelism keeps unit runs fast).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  /** This suite's temp root, made on first use and deleted in afterAll. */
  private var tempRoot: Option[Path] = None

  /** A fresh directory under this suite's temp root (sinks, checkpoints,
    * scratch tables); the whole root goes when the suite ends.
    */
  protected def tempDir(prefix: String): Path = synchronized {
    val root = tempRoot.getOrElse {
      val r = Files.createTempDirectory(s"graft_${getClass.getSimpleName}_")
      tempRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, prefix)
  }

  override def afterAll(): Unit =
    try {
      tempRoot.foreach { root =>
        // a streaming query still reading or writing under the root would
        // fail on the deleted files, so the suite's queries stop first
        spark.streams.active.foreach(_.stop())
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(root.toFile)
      }
    } finally super.afterAll()
}
