package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** Pins the shipped session: every main builds its session through
  * `Graft.session`, so the configuration tests, the oracle dump and the
  * bench run is one configuration.
  */
class SessionSpec extends SparkSpec {

  test("shipped session: 64k coalesce floor, 4 shuffle partitions, UTC, ns-as-long") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("SparkSession.builder appears in src/main only in Graft.scala") {
    val sites = Using.resource(Files.walk(Paths.get("src/main/scala"))) {
      _.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(_.getFileName.toString).toList
    }
    assert(sites == Seq("Graft.scala"))
  }
}
