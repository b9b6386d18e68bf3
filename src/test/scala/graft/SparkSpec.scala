package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. The suite-level `spark` stays a
  * lazy val (a stable identifier — `import spark.implicits._` needs
  * one), initialized at the suite's FIRST use; `SparkSpec.session`
  * itself re-resolves instead of caching forever, because
  * ExtensionsSpec legitimately stops the JVM-wide SparkContext (it
  * must build sessions WITH extensions, and getOrCreate would
  * otherwise hand back one without them), and which suites run after
  * it depends on sbt's discovery order — which changes whenever a
  * suite is added. A permanently cached dead session turns that
  * reordering into mass failures; rebuilding on a stopped context
  * keeps every suite's first access live. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
  /** Reference-shaped text fixtures (`src/test/resources/refdata`):
    * `test.txt` plus the four-file `TestInverted` corpus, whose `3.txt`
    * is Portuguese. */
  val refData: String =
    java.nio.file.Paths.get(getClass.getResource("/refdata").toURI).toString
}

object SparkSpec {
  private var cached: SparkSession = null
  def session: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      cached = GraftSession.builder(4)
        .config("spark.sql.warehouse.dir", tempDir("graft_wh").toString)
        .getOrCreate()
      cached.sparkContext.setLogLevel("ERROR")
    }
    cached
  }

  /** A fresh dir under this JVM's `graft_spec` scratch tree, so the
    * scratch cleanup removes it with everything else the suite wrote. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val parent = Scratch.processScoped("graft_spec")
    java.nio.file.Files.createDirectories(parent)
    java.nio.file.Files.createTempDirectory(parent, prefix)
  }
}
