package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = graft.api.GraftSession.builder(4)
    .appName("graft-test")
    // FAIR so ServeSpec can assert pool isolation; harmless elsewhere
    // (sequential jobs in the default pool schedule exactly as FIFO)
    .config("spark.scheduler.mode", "FAIR")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
