package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; one per suite, small parallelism.
  * The generated-class cache is JVM-wide and sized by whichever session
  * triggers codegen first, so every suite takes BenchConf's size: the
  * forked test JVM then caches what the engine serves, whatever the
  * suite order.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = BenchConf.codegenCache(SparkSession.builder())
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    // fast executor heartbeats so live shuffle-read metrics reach the
    // driver quickly enough for the shuffle-progress spec to observe them
    .config("spark.executor.heartbeatInterval", "100ms")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Testdata root, overridable per environment — specs must derive
    * every scale-factor directory from here rather than hardcoding
    * absolute paths (ADVICE r6: DedupRecallSpec silently coupled to
    * this machine's layout).
    */
  val testdataRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
  def sfPath(sf: String): String = s"$testdataRoot/sf$sf"
  val sfDir = sfPath("0.001")

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }
}
