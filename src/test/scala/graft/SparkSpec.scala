package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** Runs `body` with the iteration byte gate at 1 byte, so no graph
    * passes it: components run only their distributed rounds and the
    * seed-keyed operators only their join rounds. The caller's setting
    * is restored afterwards. */
  def aboveGate[T](body: => T): T = {
    val key = graft.operators.IterState.BytesConfKey
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try body finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.builder(GraftSession.settings(cpus = 2))
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
