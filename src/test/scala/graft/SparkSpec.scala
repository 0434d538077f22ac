package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `f` on the interpreted path: no whole-stage codegen and no
    * generated expression classes. */
  def withNoCodegen(f: => Unit): Unit = {
    val k = "spark.sql.codegen.wholeStage"
    val k2 = "spark.sql.codegen.factoryMode"
    val saved = (spark.conf.get(k), spark.conf.getOption(k2))
    spark.conf.set(k, "false")
    spark.conf.set(k2, "NO_CODEGEN")
    try f finally {
      spark.conf.set(k, saved._1)
      saved._2 match {
        case Some(v) => spark.conf.set(k2, v)
        case None => spark.conf.unset(k2)
      }
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
