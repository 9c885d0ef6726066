package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.ScaleConf.tuned(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
