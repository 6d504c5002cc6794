package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite, local[4], small shuffle partitions. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Same doc ids in the same order; scores equal up to summation order. */
  def assertRankIdentical(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
                          ctx: String): Unit = {
    assert(got.map(_._1) == want.map(_._1), s"[$ctx] doc ids differ: got=$got want=$want")
    got.zip(want).foreach { case ((_, gs), (_, ws)) =>
      assert(math.abs(gs - ws) <= 1e-9 * math.max(1.0, math.abs(ws)),
        s"[$ctx] score drift: got=$gs want=$ws")
    }
  }

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }
}
