package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite, lazily created). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** A clone of the shared session with the RocksDB state-store provider
    * (transformWithState refuses the default one): streams that need it
    * run here, so no suite changes the shared session. */
  lazy val rocksSpark: SparkSession =
    GraftSession.cloneFor(spark, "rocksdb-state")(_.conf.set(
      tracks.TrackStateOp.rocksdbConf._1, tracks.TrackStateOp.rocksdbConf._2))
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.create(cores = 4)
}
