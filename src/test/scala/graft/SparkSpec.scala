package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ShutdownBridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all specs: one local session for the whole
  * test JVM (getOrCreate, never stopped between suites), UTC + AQE config
  * identical to the runtime entrypoints (graft.Sessions).
  */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local("4", getClass.getSimpleName)

  val sf0001 = sys.env.getOrElse("SPARK_GRAFT_SF0001_DIR",
                                 "/root/testdata/sf0.001")
  val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF01_DIR",
                               "/root/testdata/sf0.1")

  /** Skip (not fail) a test on a machine without the driver-generated
    * dataset — suites that pin dataset-scale plan facts use this gate.
    */
  def assumeData(dir: String): Unit =
    assume(new java.io.File(dir).isDirectory,
           s"driver testdata not present at $dir")

  /** A fresh scratch dir, deleted at JVM exit. */
  def tmpDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    ShutdownBridge.deleteAtExit(dir)
    dir.toString
  }
}
