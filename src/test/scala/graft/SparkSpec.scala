package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("local[4]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def tmpDir(prefix: String): java.nio.file.Path = QueryHelpers.tmp(prefix)

  /** The reference's canonical 5-row fixture dataset
    * (core/tests/common/mod.rs:40-225): {id, name, value, active}.
    */
  def writeFixtureCsv(dir: java.nio.file.Path, name: String = "data.csv"): java.nio.file.Path = {
    val p = dir.resolve(name)
    java.nio.file.Files.writeString(p,
      """id,name,value,active
        |1,alpha,10.5,true
        |2,beta,20.0,false
        |3,gamma,30.25,true
        |4,delta,40.75,false
        |5,epsilon,50.0,true
        |""".stripMargin)
    p
  }
}
