package graft

import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.PartitionedCheckpoint

/** [[org.apache.spark.sql.graft.PartitionedCheckpoint]] — the
  * partitioning-preserving eager checkpoint behind the co-occurrence
  * scaffold. Pins: values identical to the plain frame, the declared
  * metadata actually removes the downstream exchange under AQE (the
  * whole point — plain localCheckpoint loses it, CkptPartProbe), and
  * the declared layout matches physically (per-partition key
  * disjointness + in-partition order), the key census its
  * materializing job returns, and the refusal of ambiguous key
  * names. */
class PartitionedCheckpointSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    (1 to 5000).map(i => (i % 43L, i.toLong)).toDF("b", "i").distinct()
  }

  test("values identical to the un-stamped frame") {
    val plain = fixture.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = PartitionedCheckpoint.byKey(fixture, Seq("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == plain)
  }

  test("keyed aggregation on the checkpoint plans with no Exchange") {
    val ck = PartitionedCheckpoint.byKey(fixture, Seq("b"))
    val plan = ck.groupBy("b").count()
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("self-join on the key plans with no input Exchange") {
    val ck = PartitionedCheckpoint.byKey(fixture, Seq("b"))
    val j = ck.as("x").join(ck.as("y"),
      col("x.b") === col("y.b") && col("x.i") < col("y.i"))
    // executedPlan BEFORE any downstream keyed agg: the join itself
    // must not exchange either side
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    // and the join result matches the un-stamped self-join
    val want = fixture.as("x").join(fixture.as("y"),
        col("x.b") === col("y.b") && col("x.i") < col("y.i"))
      .count()
    assert(j.count() == want)
  }

  test("physical layout matches the declared metadata") {
    val ck = PartitionedCheckpoint.byKey(fixture, Seq("b"))
    // key-disjoint partitions: no b value appears in two partitions
    val perPart = ck.select(col("b"),
        org.apache.spark.sql.functions.spark_partition_id().as("p"))
      .distinct().groupBy("b")
      .agg(countDistinct(col("p")).as("np"))
      .agg(max(col("np"))).head().getLong(0)
    assert(perPart == 1L)
    // in-partition ascending key order (mapPartitions scan)
    import spark.implicits._
    val sortedOk = ck.select(col("b")).as[Long].mapPartitions { it =>
      var prev = Long.MinValue
      var ok = true
      it.foreach { v => if (v < prev) ok = false; prev = v }
      Iterator.single(ok)
    }.collect().forall(identity)
    assert(sortedOk)
  }

  test("Checkpoints.free releases the blocks") {
    val ck = PartitionedCheckpoint.byKey(fixture, Seq("b"))
    assert(ck.count() > 0)
    graft.functions.Checkpoints.free(ck, blocking = true)
    // checkpointed plans have no lineage to recompute — a later
    // action must fail rather than silently recompute
    intercept[Exception] { ck.count() }
  }

  test("a key name matching several columns is refused; declaredKeys " +
    "ignores ambiguous keys") {
    import PartitionedCheckpoint.AmbiguousKeyException
    val dup = spark.range(20).select(col("id").as("b"), (col("id") + 1).as("b"))
    val e1 = intercept[AmbiguousKeyException] {
      PartitionedCheckpoint.byKey(dup, Seq("b"))
    }
    assert(e1.getMessage.contains("key column b matches 2 columns"))
    // a fused transform that introduces a duplicate is refused too
    val e2 = intercept[AmbiguousKeyException] {
      PartitionedCheckpoint.byKeyWith(fixture, Seq("b"))(
        _.select(col("b"), col("i").as("b")))
    }
    assert(e2.getMessage.contains("transformed frame"))
    // declaredKeys reads the declared partitioning of any LogicalRDD:
    // with AQE off a plain localCheckpoint keeps the child's hash
    // partitioning, so a duplicate name can reach it that way
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      val keyed = fixture.repartition(4, col("b"))
      val plain = keyed.localCheckpoint()
      val ambiguous = keyed.select(col("b"), col("i").as("b")).localCheckpoint()
      assert(PartitionedCheckpoint.declaredKeys(plain) == Seq("b"))
      assert(PartitionedCheckpoint.declaredKeys(ambiguous) == Nil)
      Seq(plain, ambiguous).foreach(graft.functions.Checkpoints.free(_))
    } finally spark.conf.set(aqe, prev)
  }

  test("the pin's key census equals the groupBy size histogram, and " +
    "its cap equals capFromDistinct's") {
    import org.apache.spark.sql.DataFrame
    import graft.ml.Recommender
    import spark.implicits._
    val withNull = Seq[(Option[Long], Long)](
      (None, 1L), (None, 2L), (Some(1L), 1L), (Some(2L), 1L), (Some(2L), 2L),
      (Some(3L), 1L), (Some(3L), 2L), (Some(3L), 3L)).toDF("b", "i")
    val skewed = (1 to 3000).map(i =>
      (if (i % 10 == 0) i.toLong else 7L, i.toLong)).toDF("b", "i")
    val fewKeys = (1 to 50).map(i => (i % 3L, i.toLong)).toDF("b", "i")
    val empty = fewKeys.limit(0)
    def check(label: String, df: DataFrame, partitions: Int): Unit = {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, partitions.toString)
      try {
        val (ck, census) =
          PartitionedCheckpoint.byKeyCensus(df, Seq("b"))(identity)
        val want = df.groupBy("b").count().groupBy("count").count()
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
          .toSeq
        assert(census.sizes == want, label)
        val distinct = df.agg(countDistinct(col("b"))).head().getLong(0)
        assert(census.nonNullKeys == distinct, label)
        assert(census.keys == df.select("b").distinct().count(), label)
        Seq(100000000L, 5L, 1L).foreach { budget =>
          assert(Recommender.capFromSizes(census.sizes, budget) ==
            Recommender.capFromDistinct(df, "b", budget), s"$label $budget")
        }
        graft.functions.Checkpoints.free(ck)
      } finally spark.conf.set(key, prev)
    }
    check("null key", withNull, 2)
    check("one key holds most rows", skewed, 2)
    check("more partitions than keys", fewKeys, 8)
    check("zero rows", empty, 2)
    // composite keys: a null in any key column leaves the key out of
    // COUNT(DISTINCT), though it still counts as one groupBy key
    val pairs = Seq[(Option[Long], Option[Long], Long)](
      (Some(1L), None, 1L), (Some(1L), None, 2L), (Some(1L), Some(2L), 3L),
      (None, Some(2L), 4L), (Some(2L), Some(2L), 5L)).toDF("b", "c", "i")
    val (ck, census) =
      PartitionedCheckpoint.byKeyCensus(pairs, Seq("b", "c"))(identity)
    assert(census.sizes == Seq((1L, 3L), (2L, 1L)))
    assert(census.nullKeys == 2L && census.nonNullKeys == 2L)
    graft.functions.Checkpoints.free(ck)
  }
}
