package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The spec session ([[Posture.test]]), shared by every suite in the
  * test JVM — never stopped, and never reconfigured except through
  * [[Posture.withConf]].
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Posture.test(getClass.getSimpleName)

  def sf(name: String): String = s"/root/testdata/$name"
}
