package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A suite sharing one 4-core [[LocalSpark]] session, stopped after the
  * suite's last test. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = LocalSpark(4)

  override def afterAll(): Unit = spark.stop()
}
