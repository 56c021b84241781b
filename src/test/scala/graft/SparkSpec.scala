package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, sbt forks once). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session: never stop per-suite
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = LocalSession.builder(4)
      .appName("graft-test")
      .config(
        "spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse_").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
