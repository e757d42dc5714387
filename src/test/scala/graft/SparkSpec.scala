package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs, built by [[Session]] like every
  * main. getOrCreate shares it across suites in one JVM, so it is never
  * stopped. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session(4)

  /** Run `body` with the local union-find CC path disabled, so
    * [[graft.pipeline.Dedup.connectedComponents]] runs its DISTRIBUTED
    * star loop. */
  def withDistributedCC[T](body: => T): T = {
    spark.conf.set(pipeline.Dedup.CcLocalMaxBytesConf, "0")
    try body finally spark.conf.unset(pipeline.Dedup.CcLocalMaxBytesConf)
  }
}
