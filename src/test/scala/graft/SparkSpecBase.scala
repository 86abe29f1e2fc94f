package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = graft.engine.GraftSession.getOrCreate(
    master = "local[4]", appName = "graft-test", shufflePartitions = 4)
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val tables: Tables = Tables(spark, TestSpark.sfDir)
}
