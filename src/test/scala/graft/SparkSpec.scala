package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: the shipped [[Graft.session]] at 4 cores. */
trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Graft.session(getClass.getSimpleName, "4")

  def sf0001 = "/root/testdata/sf0.001"
}
