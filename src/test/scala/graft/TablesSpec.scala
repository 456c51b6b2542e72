package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.FooterSchema

/** [[Tables.load]] reads each table's schema from its parquet footer:
  * the schema must be exactly what Spark's own inference gives, and
  * reading a table must launch no Spark job. */
class TablesSpec extends SparkSpec {

  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  test("footer-read schemas equal spark.read.parquet's for every table") {
    for (dir <- dirs; name <- Tables.names) {
      val path = s"$dir/$name.parquet"
      val inferred = spark.read.parquet(path).schema
      // the reader widens every field to nullable; names and types are
      // the footer's
      assert(FooterSchema.of(spark, path).map(_.map(f => (f.name, f.dataType)))
        .contains(inferred.map(f => (f.name, f.dataType))), path)
      assert(Tables.load(spark, dir, name).schema == inferred, path)
    }
    // the events view keeps its ns -> us normalization on top
    assert(Tables.events(spark, dirs.head).schema.fieldNames
      .contains("ts_ns"))
  }

  test("loading a table launches no schema-inference job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      Tables.names.foreach(n => Tables.load(spark, dirs.head, n).schema)
      org.apache.spark.GraftTestBus.drain(sc)
      assert(jobs.get == 0)
    } finally sc.removeSparkListener(listener)
  }

  test("a path that is not a single file falls back to inference") {
    assert(FooterSchema.of(spark, dirs.head).isEmpty)
    assert(FooterSchema.of(spark, s"${dirs.head}/no-such.parquet").isEmpty)
  }
}
